"""The facade's pattern() verb must compile Flink CEP programs to the
SAME answers as the sequence_ops keys and their DuckDB oracles — batch
via the codegen folds, streaming via the keyed-state NFA twins. The
keys are themselves Pattern values compiled by cep.py, so a batch
pattern() run is compared with the key's oracle SQL, never with the
key."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_tutorial_broadcast_spark.cep import Pattern
from flink_tutorial_broadcast_spark.datastream import (
    StreamExecutionEnvironment,
)
from flink_tutorial_broadcast_spark.io import load
from flink_tutorial_broadcast_spark.streaming.sources import two_file_stream
from tests.conftest import SF_SMOKE


def _env(spark):
    return StreamExecutionEnvironment.get_execution_environment(spark)


def _oracle_rows(duck, key):
    """The key's DuckDB oracle SQL run on SF_SMOKE, as rows with
    attribute access."""
    import __spark_entry__
    sql = __spark_entry__.oracle_sql()[key]
    return list(duck.execute(sql).df().itertuples(index=False))


def test_pattern_strict_times_matches_oracle_key(spark, duck):
    """begin(v).next(c).times(2).next(p) == q_cep_times (regex path)."""
    pat = (Pattern.begin("v", "view")
           .next("c", "click").times(2)
           .next("p", "purchase"))
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern(pat).to_df().collect())
    want = _oracle_rows(duck, "q_cep_times")
    assert {(r.user_id, r.n_matches) for r in got} \
        == {(r.user_id, r.n_matches) for r in want}
    assert got  # non-vacuous


def test_pattern_strict_one_or_more_matches_oracle_key(spark, duck):
    """begin(v).next(c).one_or_more().next(p) == q_cep_one_or_more."""
    pat = (Pattern.begin("v", "view")
           .next("c", "click").one_or_more()
           .next("p", "purchase"))
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern(pat).to_df().collect())
    want = _oracle_rows(duck, "q_cep_one_or_more")
    assert {(r.user_id, r.n_matches) for r in got} \
        == {(r.user_id, r.n_matches) for r in want}


def test_pattern_relaxed_matches_oracle_key(spark, duck):
    """begin(v).followed_by(c).followed_by(p) under the default
    skip-past-last == q_cep_followed_by (K-stage machine fold)."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase"))
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern(pat).to_df().collect())
    want = _oracle_rows(duck, "q_cep_followed_by")
    assert {(r.user_id, r.n_matches) for r in got} \
        == {(r.user_id, r.n_matches) for r in want}


def test_pattern_forking_within_matches_oracle_key(spark, duck):
    """no_skip() + within(48 hours) == q_cep_followed_by_all (the
    forking anchor-set NFA, Flink's default skip strategy)."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours").no_skip())
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern(pat).to_df().collect())
    want = _oracle_rows(duck, "q_cep_followed_by_all")
    assert {(r.user_id, r.n_matches) for r in got} \
        == {(r.user_id, r.n_matches) for r in want}


def test_pattern_absence_matches_oracle_key(spark, duck):
    """begin(v).not_followed_by(p).within(12 hours) ==
    q_cep_not_followed_by (anti-join path, anchors returned)."""
    pat = (Pattern.begin("v", "view")
           .not_followed_by("p", "purchase")
           .within("12 hours"))
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern(pat).to_df().collect())
    want = _oracle_rows(duck, "q_cep_not_followed_by")
    assert {(r.user_id, r.anchor_id) for r in got} \
        == {(r.user_id, r.view_id) for r in want}


def test_pattern_rejects_uncompilable_combinations(spark):
    """Unsupported combinations must raise, never answer wrong."""
    ev = load(spark, SF_SMOKE, "events")
    ks = _env(spark).from_dataframe(ev).key_by("user_id")

    loop_relaxed = (Pattern.begin("v", "view")
                    .followed_by("c", "click").one_or_more()
                    .followed_by("p", "purchase"))
    with pytest.raises(NotImplementedError, match="times"):
        ks.pattern(loop_relaxed)

    loop_mixed = (Pattern.begin("v", "view").next("c", "click")
                  .followed_by("p", "purchase").one_or_more())
    with pytest.raises(NotImplementedError, match="times"):
        ks.pattern(loop_mixed)

    strict_within = (Pattern.begin("v", "view").next("c", "click")
                     .within("1 hour"))
    with pytest.raises(NotImplementedError, match="within"):
        ks.pattern(strict_within)

    absence_unbounded = (Pattern.begin("v", "view")
                         .not_followed_by("p", "purchase"))
    with pytest.raises(ValueError, match="within"):
        ks.pattern(absence_unbounded)

    # mid-pattern not_followed_by and the anchored-CHAIN absence both
    # COMPILE as of round 9 (q_cep_not_between / q_cep_absence_chain);
    # what stays refused: quantified NFB, and the chain form on a
    # STREAM (the composition needs the completed-prefix set — only
    # the 2-stage timer form streams)
    with pytest.raises(NotImplementedError, match="quantified"):
        ks.pattern(Pattern.begin("v", "view")
                   .not_followed_by("p", "purchase").times(2)
                   .within("1 hour"))


def _two_file_stream(spark, cols):
    """The streaming twins' source shape: the events fixture split at
    the median ts into two files, read one file per micro-batch —
    partial matches must cross the boundary."""
    ev = load(spark, SF_SMOKE, "events").select(*cols)
    return two_file_stream(spark, ev, "cep_facade_stream_")[0]


def test_pattern_streaming_relaxed_converges_to_batch(spark, queries):
    """pattern() on a STREAMING keyed input = the keyed-state NFA: the
    converged (max) count per user equals the oracle-backed batch key."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase"))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_followed_by"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want


def test_pattern_streaming_forking_converges_to_batch(spark, queries):
    """Streaming no_skip()+within(): the generalized anchor-set stepper
    converges to q_cep_followed_by_all."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours").no_skip())
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_followed_by_all"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want


def test_pattern_relaxed_within_matches_oracle_key(spark, duck):
    """followed_by chain + within(48 hours) under the default
    skip-past-last == q_cep_followed_by_within (the bounded
    single-anchor machine, generalized in cep.py)."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours"))
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern(pat).to_df().collect())
    want = _oracle_rows(duck, "q_cep_followed_by_within")
    assert {(r.user_id, r.n_matches) for r in got} \
        == {(r.user_id, r.n_matches) for r in want}
    assert got


def test_pattern_streaming_relaxed_within_converges_to_batch(
        spark, duck):
    """Streaming bounded single-anchor machine: converged counts equal
    the oracle-backed q_cep_followed_by_within, with the anchor
    timestamp carried across the micro-batch boundary in state."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours"))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r.user_id: r.n_matches for r in
            _oracle_rows(duck, "q_cep_followed_by_within")}
    assert {u: n for u, n in final.items() if n > 0} == want


def test_pattern_matches_bindings_equal_oracle_key(spark, duck):
    """pattern_matches() == q_cep_match_measures: the full per-match
    bindings (match number, anchor id, closing id, span) from the
    facade-compiled fold equal the oracle-checked key's."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase"))
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern_matches(pat).to_df().collect())
    want = _oracle_rows(duck, "q_cep_match_measures")
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in got} == {key(r) for r in want}
    assert got


def test_pattern_matches_within_prunes_and_counts_agree(spark, queries):
    """With within(48 hours) the extracted matches must agree with the
    bounded COUNT machine key on every user (bindings are the stronger
    artifact; counts are its projection) — and at least one unbounded
    match must have been pruned by the horizon."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours"))
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern_matches(pat).to_df().collect())
    from collections import Counter
    per_user = Counter(r.user_id for r in got)
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_followed_by_within"](spark, SF_SMOKE)
            .collect()}
    assert dict(per_user) == want
    assert all(r.span_us <= 48 * 3600 * 1_000_000 for r in got)
    unbounded = (_env(spark)
                 .from_dataframe(load(spark, SF_SMOKE, "events"))
                 .key_by("user_id")
                 .pattern_matches(Pattern.begin("v", "view")
                                  .followed_by("c", "click")
                                  .followed_by("p", "purchase"))
                 .to_df().count())
    assert len(got) < unbounded  # the horizon really pruned


def test_pattern_matches_single_stage_quantified_expands_first(spark):
    """begin(v).times(3) is ONE written stage whose expansion has 3 —
    pattern_matches() must expand before the >=2-stage guard (it
    compiles under pattern(); rejecting it here was an inconsistent
    refusal). Its bindings must equal the explicitly-written
    3-stage relaxed chain, and a truly single-stage pattern still
    raises loudly."""
    ev = load(spark, SF_SMOKE, "events")
    ks = _env(spark).from_dataframe(ev).key_by("user_id")
    got = {(r.user_id, r.match_no, r.start_event_id, r.end_event_id)
           for r in ks.pattern_matches(
               Pattern.begin("v", "view").times(3)).to_df().collect()}
    want = {(r.user_id, r.match_no, r.start_event_id, r.end_event_id)
            for r in ks.pattern_matches(
                Pattern.begin("v", "view")
                .followed_by("v2", "view")
                .followed_by("v3", "view")).to_df().collect()}
    assert got == want and got
    # a truly single-stage pattern still refuses loudly (it routes to
    # the strict-family refusal before the expanded-stage-count guard)
    with pytest.raises((ValueError, NotImplementedError)):
        ks.pattern_matches(Pattern.begin("v", "view")).to_df()


def test_pattern_repeated_types_compile_and_empty_quantifier_raises(
        spark):
    """Repeated event types across followed_by stages compile (the
    machines key transitions by STAGE INDEX, not event type) — the
    login→login→alert shape from the Flink CEP docs. A two-stage
    click→click pattern must equal times(2) on one click stage (they
    expand to the same machine), and quantifiers on an empty pattern
    still raise."""
    ev = load(spark, SF_SMOKE, "events")
    ks = _env(spark).from_dataframe(ev).key_by("user_id")
    repeated = (Pattern.begin("a", "click")
                .followed_by("b", "click"))
    got = {(r.user_id, r.n_matches)
           for r in ks.pattern(repeated).to_df().collect()}
    assert got  # the fixture has users with >= 2 clicks
    via_times = Pattern.begin("a", "click").times(2)
    assert {(r.user_id, r.n_matches)
            for r in ks.pattern(via_times).to_df().collect()} == got
    with pytest.raises(ValueError, match="stage"):
        Pattern(stages=[]).one_or_more()
    with pytest.raises(ValueError, match="stage"):
        Pattern(stages=[]).times(2)
    # strict chains also support repeats (regex path): view>view counts
    strict_rep = Pattern.begin("a", "view").next("b", "view")
    assert ks.pattern(strict_rep).to_df().count() >= 0


def test_pattern_relaxed_times_expands_to_stage_copies(spark):
    """times(n) under relaxed contiguity == writing the stage n times
    (Flink's default relaxed internal contiguity for quantifiers), for
    counts AND with a within() horizon."""
    ev = load(spark, SF_SMOKE, "events")
    ks = _env(spark).from_dataframe(ev).key_by("user_id")
    quant = (Pattern.begin("v", "view")
             .followed_by("c", "click").times(2)
             .followed_by("p", "purchase"))
    expanded = (Pattern.begin("v", "view")
                .followed_by("c1", "click")
                .followed_by("c2", "click")
                .followed_by("p", "purchase"))
    as_set = lambda p: {(r.user_id, r.n_matches)
                        for r in ks.pattern(p).to_df().collect()}
    assert as_set(quant) == as_set(expanded)
    assert as_set(quant)  # non-vacuous
    q_w = (Pattern.begin("v", "view")
           .followed_by("c", "click").times(2)
           .followed_by("p", "purchase").within("48 hours"))
    e_w = (Pattern.begin("v", "view")
           .followed_by("c1", "click")
           .followed_by("c2", "click")
           .followed_by("p", "purchase").within("48 hours"))
    assert as_set(q_w) == as_set(e_w)


def test_pattern_strict_begin_quantifier_applies(spark):
    """times(n)/one_or_more() on the BEGIN stage of a strict chain must
    quantify the first token, not be silently dropped: begin(click)
    .times(2) counts non-overlapping click pairs — strictly fewer than
    single clicks wherever a user has an odd run, and equal to the
    regex-on-codes reference."""
    import re

    ev = load(spark, SF_SMOKE, "events")
    ks = _env(spark).from_dataframe(ev).key_by("user_id")
    pat = Pattern.begin("a", "click").times(2).next("b", "purchase")
    got = {(r.user_id, r.n_matches)
           for r in ks.pattern(pat).to_df().collect()}
    rows = (ev.select("user_id", "ts", "event_id", "event_type")
            .collect())
    per = {}
    for r in rows:
        per.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, r.event_type))
    want = set()
    for u, evs in per.items():
        path = ">".join(t for _, _, t in sorted(evs))
        n = len(re.findall(r"(click(>click){1}>purchase)", path))
        if n > 0:
            want.add((u, n))
    assert got == want


def test_pattern_metacharacter_and_suffix_types_are_safe(spark):
    """Event types that are suffixes of each other ('click' inside
    'doubleclick') or contain regex metacharacters must not corrupt
    strict-chain counts — the per-type char coding keeps them apart."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # u1: doubleclick>purchase — must NOT match click>purchase
        (1, base, 0, "doubleclick"),
        (1, base + dt.timedelta(minutes=1), 1, "purchase"),
        # u2: click>purchase — the real match
        (2, base, 2, "click"),
        (2, base + dt.timedelta(minutes=1), 3, "purchase"),
        # u3: metacharacter type must count literally, not as regex
        (3, base, 4, "a.c"),
        (3, base + dt.timedelta(minutes=1), 5, "purchase"),
        (3, base + dt.timedelta(minutes=2), 6, "abc"),
        (3, base + dt.timedelta(minutes=3), 7, "purchase"),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id int, ts timestamp, event_id long, event_type string")
    ks = _env(spark).from_dataframe(df).key_by("user_id")
    got = {(r.user_id, r.n_matches) for r in
           ks.pattern(Pattern.begin("c", "click")
                      .next("p", "purchase")).to_df().collect()}
    assert got == {(2, 1)}
    got_meta = {(r.user_id, r.n_matches) for r in
                ks.pattern(Pattern.begin("m", "a.c")
                           .next("p", "purchase")).to_df().collect()}
    assert got_meta == {(3, 1)}  # 'abc' must not match 'a.c'


def test_pattern_matches_forking_bindings_and_count_consistency(
        spark, queries):
    """Fork-family pattern_matches(): per-user match counts must equal
    the oracle-checked q_cep_followed_by_all, every binding's span must
    respect the horizon, and at least one closing event must complete
    SEVERAL overlapping matches (the noSkip signature)."""
    from collections import Counter

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours").no_skip())
    got = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
           .key_by("user_id").pattern_matches(pat).to_df().collect())
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_followed_by_all"](spark, SF_SMOKE).collect()}
    assert dict(Counter(r.user_id for r in got)) == want
    assert all(0 <= r.span_us <= 48 * 3600 * 1_000_000 for r in got)
    shared_close = Counter((r.user_id, r.end_event_id) for r in got)
    assert max(shared_close.values()) > 1  # one close, many matches
    # distinct anchors within a (user, close) group — forked, not dupes
    for (u, e), n in shared_close.items():
        if n > 1:
            starts = [r.start_event_id for r in got
                      if r.user_id == u and r.end_event_id == e]
            assert len(set(starts)) == n
            break


def test_pattern_streaming_repeated_stage_converges_to_batch(spark):
    """Streaming stepper with REPEATED stage types: the stage-indexed
    keyed-state machine must converge to the batch compile across the
    micro-batch boundary (a click→click→purchase partial crossing it)."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    pat = (Pattern.begin("a", "click").followed_by("b", "click")
           .followed_by("c", "purchase"))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
             .key_by("user_id").pattern(pat).to_df().collect())}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want  # non-vacuous


def test_pattern_matches_streaming_relaxed_converges_to_batch(spark):
    """STREAMING pattern_matches(): the single-anchor stepper carries
    (anchor_id, anchor_t) in state and appends one row per completed
    match — the union over micro-batches must equal the batch bindings
    exactly, including matches whose anchor arrived in batch 0 and
    whose closer arrived in batch 1."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase").within("48 hours"))
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_matches(pat).to_df())
    assert out.isStreaming
    got = _run_to_memory(out, "append").collect()
    want = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
            .key_by("user_id").pattern_matches(pat).to_df().collect())
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in got} == {key(r) for r in want}
    assert got
    # the boundary really was crossed: at least one match's anchor is in
    # file 0 (ts <= median) while its closer is in file 1
    by_id = {r.event_id: r.ts for r in
             load(spark, SF_SMOKE, "events").collect()}
    import pyspark.sql.functions as F  # noqa: F811
    split_ts = (load(spark, SF_SMOKE, "events")
                .agg(F.percentile_approx("ts", 0.5).alias("m"))
                .collect()[0]["m"])
    assert any(by_id[r.start_event_id] <= split_ts
               < by_id[r.end_event_id] for r in got)


def test_pattern_matches_streaming_fork_converges_to_batch(spark):
    """Streaming fork-family pattern_matches(): anchor (t, id) pairs
    survive in state as parallel arrays; one closing event appends
    SEVERAL rows (the noSkip signature) and the accumulated sink equals
    the batch bindings."""
    from collections import Counter

    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_matches(pat).to_df())
    got = _run_to_memory(out, "append").collect()
    want = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
            .key_by("user_id").pattern_matches(pat).to_df().collect())
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in got} == {key(r) for r in want}
    shared = Counter((r.user_id, r.end_event_id) for r in got)
    assert max(shared.values()) > 1  # one close, many matches


def test_pattern_streaming_mixed_contiguity_converges_to_batch(spark):
    """Streaming stepper with a strict (next) await: the kill/re-anchor
    rule must survive the micro-batch boundary and converge to the
    batch compile (and to the oracle-backed q_cep_mixed_contiguity)."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .next("p", "purchase"))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
             .key_by("user_id").pattern(pat).to_df().collect())}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_absence_timer_driven(spark, queries):
    """STREAMING not_followed_by (round 8): Flink's notFollowedBy arms
    a timer per pending anchor; the engine twin is the event-time-
    timeout stepper. On the watermarked two-file stream, the appended
    unanswered-anchor rows must equal the oracle-backed batch
    q_cep_not_followed_by RESTRICTED to anchors whose deadline the
    final watermark passed (later anchors are still pending — correct,
    not missing), no answered anchor may leak, and at least one anchor
    answered ACROSS the micro-batch boundary must have been suppressed
    by carried state."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    W_US = 12 * 3600 * 1_000_000
    ev = load(spark, SF_SMOKE, "events")
    sdf = (_two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
        .withWatermark("ts", "1 minute"))
    pat = (Pattern.begin("v", "view")
           .not_followed_by("p", "purchase")
           .within("12 hours"))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    got = {(r.user_id, r.anchor_id)
           for r in _run_to_memory(out, "append").collect()}

    batch = {(r.user_id, r.view_id) for r in
             queries["q_cep_not_followed_by"](spark, SF_SMOKE).collect()}
    # final watermark = global max event time - 1 min delay
    import pyspark.sql.functions as F  # noqa: F811
    max_us = ev.agg(F.max(F.unix_micros("ts")).alias("m")) \
        .collect()[0]["m"]
    wm_final_ms = max_us // 1000 - 60_000
    views = {(r.user_id, r.event_id): r.t_us for r in
             ev.filter(F.col("event_type") == "view")
             .select("user_id", "event_id",
                     F.unix_micros("ts").alias("t_us")).collect()}
    # µs deadline rule (ADVICE r8): an anchor emits only when its TRUE
    # µs deadline is at or behind the ms watermark — flooring to ms
    # would emit up to 999 µs early
    expected = {(u, i) for (u, i) in batch
                if views[(u, i)] + W_US <= wm_final_ms * 1000}
    assert got == expected
    assert got  # non-vacuous
    assert got <= batch  # no answered anchor ever leaked

    # cross-boundary suppression really happened: some view in file 0
    # is answered only by a purchase in file 1
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    split_us = int(split_ts.timestamp() * 1_000_000)
    purchases = [(r.user_id, r.t_us) for r in
                 ev.filter(F.col("event_type") == "purchase")
                 .select("user_id",
                         F.unix_micros("ts").alias("t_us")).collect()]
    crossers = [
        (u, i) for (u, i), t in views.items()
        if t <= split_us and (u, i) not in batch
        and any(pu == u and t < pt <= t + W_US and pt > split_us
                for pu, pt in purchases)
        and not any(pu == u and t < pt <= t + W_US and pt <= split_us
                    for pu, pt in purchases)]
    assert crossers  # the fixture exercises the boundary
    assert not any(c in got for c in crossers)


def test_pattern_streaming_absence_survives_restart(spark, queries):
    """L119 discipline for the round-8 absence stepper: run 1 drains
    only the first half of the events (anchors parked in keyed state,
    timers armed), the query STOPS, and run 2 resumes the SAME
    checkpoint over the second half — anchors answered by second-half
    purchases must stay silent (carried state), and the union of both
    runs' appended rows must equal the batch anti-join restricted to
    deadlines the final watermark passed. Memory sinks refuse
    recovery, so the output lands via foreachBatch parquet."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    W_US = 12 * 3600 * 1_000_000
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_absence_restart_src_")
    out_dir = tempfile.mkdtemp(prefix="cep_absence_restart_out_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir)
               .withWatermark("ts", "1 minute"))
        pat = (Pattern.begin("v", "view")
               .not_followed_by("p", "purchase")
               .within("12 hours"))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()  # half 1: anchors parked, some already expired+emitted
    # half 2 arrives while the query is DOWN
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()  # resume the same checkpoint

    parts = _glob.glob(os.path.join(out_dir, "batch=*"))
    got = set()
    for p in parts:
        for r in spark.read.parquet(p).collect():
            got.add((r.user_id, r.anchor_id))

    batch = {(r.user_id, r.view_id) for r in
             queries["q_cep_not_followed_by"](spark, SF_SMOKE).collect()}
    max_us = ev.agg(F.max(F.unix_micros("ts")).alias("m")) \
        .collect()[0]["m"]
    wm_final_ms = max_us // 1000 - 60_000
    views = {(r.user_id, r.event_id): r.t_us for r in
             ev.filter(F.col("event_type") == "view")
             .select("user_id", "event_id",
                     F.unix_micros("ts").alias("t_us")).collect()}
    # µs deadline rule (ADVICE r8): an anchor emits only when its TRUE
    # µs deadline is at or behind the ms watermark — flooring to ms
    # would emit up to 999 µs early
    expected = {(u, i) for (u, i) in batch
                if views[(u, i)] + W_US <= wm_final_ms * 1000}
    assert got == expected
    assert got and got <= batch


def test_pattern_matches_mixed_contiguity_batch_and_stream(spark):
    """Bindings under MIXED contiguity: per-user pattern_matches()
    counts must equal pattern()'s counts (bindings are the stronger
    artifact; counts are their projection), every match's closing
    purchase must be the IMMEDIATE next event after its click (checked
    against the raw per-user order), and the STREAMING matches stepper
    must converge to the batch bindings across the file boundary."""
    from collections import Counter

    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .next("p", "purchase"))
    ev = load(spark, SF_SMOKE, "events")
    got = (_env(spark).from_dataframe(ev)
           .key_by("user_id").pattern_matches(pat).to_df().collect())
    counts = {r.user_id: r.n_matches for r in
              (_env(spark).from_dataframe(ev)
               .key_by("user_id").pattern(pat).to_df().collect())}
    assert dict(Counter(r.user_id for r in got)) == counts
    assert got

    # strictness is visible in the bindings: the closer must IMMEDIATELY
    # follow some event (no gap allowed before the purchase) — verify on
    # the raw sequence that the event preceding each closer is a click
    order = {}
    for r in sorted(ev.collect(), key=lambda r: (r.ts, r.event_id)):
        order.setdefault(r.user_id, []).append((r.event_id, r.event_type))
    for m in got:
        seq = order[m.user_id]
        idx = next(i for i, (eid, _) in enumerate(seq)
                   if eid == m.end_event_id)
        assert seq[idx][1] == "purchase"
        assert idx > 0 and seq[idx - 1][1] == "click"

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_matches(pat).to_df())
    stream_rows = _run_to_memory(out, "append").collect()
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in stream_rows} == {key(r) for r in got}


def test_pattern_streaming_strict_chain_converges_to_batch(spark):
    """STREAMING strict contiguity (round 8): for DISTINCT stage types
    the all-strict-await stepper equals the batch regex count (a
    distinct alphabet has no proper border, so kill-or-re-anchor IS the
    KMP failure rule); the keyed-state run must converge to the batch
    compile across the micro-batch boundary. Repeated types and
    one_or_more raise (they need the regex's backtracking)."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view").next("c", "click")
           .next("p", "purchase"))
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
             .key_by("user_id").pattern(pat).to_df().collect())}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want  # the fixture has immediate view>click>purchase runs

    ks = (_env(spark)
          .from_dataframe(_two_file_stream(
              spark, ["user_id", "ts", "event_id", "event_type"]))
          .key_by("user_id"))
    # one_or_more still refuses (variable-length greedy genuinely
    # needs backtracking); repeated types now run on the KMP stepper
    # (test_pattern_streaming_strict_repeated_converges_to_batch)
    with pytest.raises(NotImplementedError, match="one_or_more"):
        ks.pattern(Pattern.begin("a", "view")
                   .next("b", "click").one_or_more())


def test_pattern_streaming_strict_repeated_converges_to_batch(spark):
    """STREAMING strict chains with REPEATED stage types (round 9): a
    fixed-string next-chain is KMP territory — the failure-function
    automaton with restart-after-match equals the batch regex's
    leftmost non-overlapping count with O(K) state and no backtracking.
    view→view→purchase (a bordered alphabet: 'vv' re-enters at prefix
    length 1 on a third view) and click.times(2)→purchase must both
    converge to their batch compiles across the micro-batch boundary."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    for pat in ((Pattern.begin("a", "view").next("b", "view")
                 .next("c", "purchase")),
                (Pattern.begin("a", "view").next("b", "click").times(2)
                 .next("c", "purchase"))):
        sdf = _two_file_stream(
            spark, ["user_id", "ts", "event_id", "event_type"])
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())
        assert out.isStreaming
        rows = _run_to_memory(out, "update").collect()
        final: dict[int, int] = {}
        for r in rows:
            final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                      r["n_matches"])
        want = {r["user_id"]: r["n_matches"] for r in
                (_env(spark)
                 .from_dataframe(load(spark, SF_SMOKE, "events"))
                 .key_by("user_id").pattern(pat).to_df().collect())}
        assert {u: n for u, n in final.items() if n > 0} == want
        assert want  # non-vacuous on the fixture


def test_pattern_streaming_composite_key(spark):
    """COMPOSITE keys on the streaming CEP paths [FLINK-API:
    keyBy(a, b)]: key the stream by (region, user_id) where region =
    user_id % 3 — a strict refinement of user_id, so converged counts
    must equal the single-key batch compile with the region echoed
    back; pattern_matches() bindings must carry BOTH key columns."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase"))
    sdf = (_two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
        .withColumn("region", F.col("user_id") % 3))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("region", "user_id").pattern(pat).to_df())
    rows = _run_to_memory(out, "update").collect()
    final: dict = {}
    for r in rows:
        final[(r.region, r.user_id)] = max(
            final.get((r.region, r.user_id), 0), r.n_matches)
    want = {(r.user_id % 3, r.user_id): r.n_matches for r in
            (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
             .key_by("user_id").pattern(pat).to_df().collect())}
    assert {k: n for k, n in final.items() if n > 0} == want
    assert want

    # bindings carry both key columns and match the single-key compile
    sdf2 = (_two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
        .withColumn("region", F.col("user_id") % 3))
    m_out = (_env(spark).from_dataframe(sdf2)
             .key_by("region", "user_id").pattern_matches(pat).to_df())
    got = _run_to_memory(m_out, "append").collect()
    assert all(r.region == r.user_id % 3 for r in got)
    want_m = (_env(spark)
              .from_dataframe(load(spark, SF_SMOKE, "events"))
              .key_by("user_id").pattern_matches(pat).to_df().collect())
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in got} == {key(r) for r in want_m}


class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState stand-in for
    stepper-level unit tests (watermark, timeout, typed tuple state)."""

    def __init__(self, wm_ms, timed_out=False, state=None):
        self._wm_ms = wm_ms
        self.hasTimedOut = timed_out
        self._state = state
        self.timeout_ts = None

    @property
    def exists(self):
        return self._state is not None

    @property
    def get(self):
        return self._state

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def update(self, v):
        self._state = v

    def remove(self):
        self._state = None

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_ts = ts_ms


def test_absence_stepper_compares_deadlines_in_microseconds():
    """ADVICE r8 (cep.py absence_stepper): an anchor whose true µs
    deadline is up to 999 µs PAST the ms watermark must stay pending —
    flooring the deadline to ms emitted it as a false absence while an
    on-time answer (t_b in (wm, deadline]) could still arrive. The
    inclusive horizon is divergences row 12."""
    import datetime

    import pandas as pd

    from flink_tutorial_broadcast_spark.cep import absence_stepper

    step = absence_stepper("a", "b", within_us=500, key_cols=["k"])

    def batch(rows):  # rows: (t_us, event_id, type)
        return [pd.DataFrame({
            "k": [1] * len(rows),
            "ts": [datetime.datetime.fromtimestamp(
                t / 1_000_000, datetime.timezone.utc) for t, _, _ in rows],
            "event_id": [i for _, i, _ in rows],
            "event_type": [ty for _, _, ty in rows]})]

    # anchor t=999_700µs, deadline 1_000_200µs; watermark 1000 ms =
    # 1_000_000µs < deadline -> must stay LIVE (old floor said due)
    st = _FakeGroupState(wm_ms=1000)
    out = list(step((1,), iter(batch([(999_700, 7, "a")])), st))
    assert out == [] and st.exists
    # timer re-arm CEILS to ms: never fires before the true deadline
    assert st.timeout_ts == 1001

    # the on-time answer lands in the next micro-batch -> anchor gone
    out = list(step((1,), iter(batch([(1_000_100, 8, "b")])), st))
    assert out == [] and not st.exists

    # control: once the watermark passes the µs deadline, it emits
    st2 = _FakeGroupState(wm_ms=1001)
    out2 = list(step((1,), iter(batch([(999_700, 7, "a")])), st2))
    assert len(out2) == 1 and list(out2[0]["anchor_id"]) == [7]
    assert not st2.exists


def test_pattern_streaming_fork_loop_converges(spark, queries):
    """STREAMING bounded one_or_more (round 9): the fork-loop stepper
    (fork sets + one horizon-bounded loop array in keyed state) must
    converge across the micro-batch boundary to the oracle-backed
    q_cep_one_or_more_bounded batch counts."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase").one_or_more()
           .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_one_or_more_bounded"](
                spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want  # non-vacuous

    # unbounded looping still refuses loudly, batch and streaming
    unbounded = (Pattern.begin("v", "view")
                 .followed_by("p", "purchase").one_or_more().no_skip())
    ks = (_env(spark)
          .from_dataframe(load(spark, SF_SMOKE, "events"))
          .key_by("user_id"))
    with pytest.raises(NotImplementedError, match="one_or_more"):
        ks.pattern(unbounded)


def test_pattern_chunked_scope_refusals(spark):
    """chunked=True is exact ONLY for the fork (noSkip) family:
    skip-past-last consumption chains beyond any horizon (a replayed
    chunk would re-anchor on consumed events), unbounded fork has no
    chunk size, and streaming inputs already carry bounded state — all
    three refuse loudly (docs/scale.md §CEP)."""
    ks = (_env(spark)
          .from_dataframe(load(spark, SF_SMOKE, "events"))
          .key_by("user_id"))
    skip_past = (Pattern.begin("v", "view")
                 .followed_by("p", "purchase").within("12 hours"))
    with pytest.raises(NotImplementedError, match="forking"):
        ks.pattern(skip_past, chunked=True)
    unbounded_fork = (Pattern.begin("v", "view")
                      .followed_by("p", "purchase").no_skip())
    with pytest.raises(ValueError, match="within"):
        ks.pattern(unbounded_fork, chunked=True)
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    bounded_fork = (Pattern.begin("v", "view")
                    .followed_by("p", "purchase")
                    .within("12 hours").no_skip())
    with pytest.raises(ValueError, match="BATCH"):
        (_env(spark).from_dataframe(sdf).key_by("user_id")
         .pattern(bounded_fork, chunked=True))


def test_pattern_matches_streaming_fork_loop(spark, queries):
    """Streaming match extraction for the bounded loop (round 9): the
    fork-loop matches stepper (per-stage (t,id) arrays + the loop
    array in keyed state) must append exactly the batch bindings
    across the micro-batch boundary — including matches whose anchor
    arrived in an earlier micro-batch — and the per-user row counts
    must equal the count key (bindings are the stronger artifact;
    counts are their projection)."""
    from collections import Counter

    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase").one_or_more()
           .within("48 hours").no_skip())
    batch = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
             .key_by("user_id").pattern_matches(pat).to_df().collect())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_matches(pat).to_df())
    assert out.isStreaming
    got = _run_to_memory(out, "append").collect()
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in got} == {key(r) for r in batch}
    assert got  # non-vacuous

    want_counts = {r.user_id: r.n_matches for r in
                   queries["q_cep_one_or_more_bounded"](
                       spark, SF_SMOKE).collect()}
    assert dict(Counter(r.user_id for r in batch)) == want_counts


def test_pattern_matches_streaming_until(spark, queries):
    """Streaming match extraction under until() (round 13 — the kill
    rules now ride the matches stepper; previously an until() pattern
    reaching it silently dropped the stop condition): appended
    bindings equal batch exactly (incl. match_no), and the per-user
    row counts equal the oracle-backed count key q_cep_until."""
    from collections import Counter

    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .until("event_type = 'error'")
           .within("48 hours").no_skip())
    batch = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
             .key_by("user_id").pattern_matches(pat).to_df().collect())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_matches(pat).to_df())
    assert out.isStreaming
    got = _run_to_memory(out, "append").collect()
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in got} == {key(r) for r in batch}
    assert got  # non-vacuous

    want_counts = {r.user_id: r.n_matches for r in
                   queries["q_cep_until"](spark, SF_SMOKE).collect()}
    assert dict(Counter(r.user_id for r in batch)) == want_counts


def test_pattern_matches_streaming_consecutive(spark, queries):
    """Streaming match extraction under consecutive() (round 13): the
    parked-set kill rule rides the matches stepper; appended bindings
    equal batch exactly, and per-user row counts equal the
    oracle-backed count key q_cep_consecutive."""
    from collections import Counter

    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more().consecutive()
           .within("48 hours").no_skip())
    batch = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
             .key_by("user_id").pattern_matches(pat).to_df().collect())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_matches(pat).to_df())
    assert out.isStreaming
    got = _run_to_memory(out, "append").collect()
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in got} == {key(r) for r in batch}
    assert got  # non-vacuous

    want_counts = {r.user_id: r.n_matches for r in
                   queries["q_cep_consecutive"](spark,
                                                SF_SMOKE).collect()}
    assert dict(Counter(r.user_id for r in batch)) == want_counts


def test_pattern_matches_streaming_strict(spark, queries):
    """Streaming strict-chain match extraction (round 9): the KMP
    matches stepper must append exactly the batch bindings — including
    match_no — across the micro-batch boundary, for a repeated-type
    chain (click→click→purchase); per-user row counts equal the
    count key q_cep_strict_repeated."""
    from collections import Counter

    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("c1", "click").next("c2", "click")
           .next("p", "purchase"))
    batch = (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
             .key_by("user_id").pattern_matches(pat).to_df().collect())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_matches(pat).to_df())
    assert out.isStreaming
    got = _run_to_memory(out, "append").collect()
    key = lambda r: (r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us)
    assert {key(r) for r in got} == {key(r) for r in batch}
    assert got  # non-vacuous

    want_counts = {r.user_id: r.n_matches for r in
                   queries["q_cep_strict_repeated"](
                       spark, SF_SMOKE).collect()}
    assert dict(Counter(r.user_id for r in batch)) == want_counts

    # one_or_more extraction refuses loudly, batch and streaming
    oom = (Pattern.begin("v", "view").next("c", "click").one_or_more()
           .next("p", "purchase"))
    with pytest.raises(NotImplementedError, match="FIXED"):
        (_env(spark).from_dataframe(load(spark, SF_SMOKE, "events"))
         .key_by("user_id").pattern_matches(oom))


def test_fork_stepper_expires_late_out_of_order_anchors():
    """The r9 deque prefix-pop expiry must keep exact r8-filter
    semantics under OUT-OF-ORDER cross-batch arrival: a late anchor
    (older than a carried one) is sorted into position, so horizon
    expiry still drops it — an unsorted deque would hide it behind a
    live head and overcount. Same pin for the loop set."""
    import datetime

    import pandas as pd

    from flink_tutorial_broadcast_spark.cep import (
        fork_loop_stepper, fork_stepper,
    )

    def batch(rows):  # (t_us, eid, ty)
        return [pd.DataFrame({
            "k": [1] * len(rows),
            "ts": [datetime.datetime.fromtimestamp(
                t / 1_000_000, datetime.timezone.utc)
                for t, _, _ in rows],
            "event_id": [i for _, i, _ in rows],
            "event_type": [ty for _, _, ty in rows]})]

    class _St:
        _s = None

        @property
        def exists(self):
            return self._s is not None

        @property
        def get(self):
            return self._s

        def update(self, v):
            self._s = v

    tc = {"view": 1, "purchase": 2}
    # w=60s; batch 1: anchor t=100s; batch 2: LATE anchor t=50s then a
    # purchase at t=130s -> only the t=100 anchor is in horizon (130-50
    # = 80 > 60): exactly ONE match
    w = 60_000_000
    st = _St()
    fn = fork_stepper(tc, [1, 2], w, key_cols=["k"])
    s = lambda sec: sec * 1_000_000
    list(fn((1,), iter(batch([(s(100), 1, "view")])), st))
    out = list(fn((1,), iter(batch(
        [(s(50), 2, "view"), (s(130), 3, "purchase")])), st))
    assert int(out[-1]["n_matches"].iloc[0]) == 1

    # fork_loop: same shape; a second purchase at t=140 extends only
    # the live (t=100) anchor -> total 2 matches
    st2 = _St()
    fn2 = fork_loop_stepper(tc, [1, 2], w, key_cols=["k"])
    list(fn2((1,), iter(batch([(s(100), 1, "view")])), st2))
    out2 = list(fn2((1,), iter(batch(
        [(s(50), 2, "view"), (s(130), 3, "purchase"),
         (s(140), 4, "purchase")])), st2))
    assert int(out2[-1]["n_matches"].iloc[0]) == 2


def test_pattern_streaming_not_between(spark, queries):
    """Streaming mid-pattern not_followed_by (round 9): the veto-aware
    relaxed stepper must converge across the micro-batch boundary to
    the oracle-backed q_cep_not_between counts — a veto (error) in a
    LATER micro-batch must still kill a partial carried in state."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .not_followed_by("e", "error")
           .followed_by("p", "purchase"))
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_not_between"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want  # non-vacuous

    # loud shape refusals: consecutive NFB, NFB-before-next,
    # self-vetoing await, quantified NFB, extraction
    ks = (_env(spark)
          .from_dataframe(load(spark, SF_SMOKE, "events"))
          .key_by("user_id"))
    with pytest.raises(NotImplementedError, match="consecutive"):
        ks.pattern(Pattern.begin("v", "view")
                   .not_followed_by("e", "error")
                   .not_followed_by("c", "click")
                   .followed_by("p", "purchase"))
    with pytest.raises(NotImplementedError, match="strict next"):
        ks.pattern(Pattern.begin("v", "view")
                   .not_followed_by("e", "error")
                   .next("p", "purchase"))
    with pytest.raises(NotImplementedError, match="veto itself"):
        ks.pattern(Pattern.begin("v", "view")
                   .not_followed_by("p", "purchase")
                   .followed_by("p2", "purchase"))
    with pytest.raises(NotImplementedError, match="not compiled"):
        ks.pattern_matches(Pattern.begin("v", "view")
                           .not_followed_by("e", "error")
                           .followed_by("p", "purchase"))


def test_pattern_streaming_where_preds(spark, queries):
    """Streaming where() predicates (round 9): the condition MASK is
    computed JVM-side before the keyed-state steppers, so the same
    overlapping-predicate pattern as q_cep_where_overlap (every close
    also satisfies the anchor condition) must converge across the
    micro-batch boundary to the oracle-backed batch counts."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    pat = (Pattern.begin("a", "view").where("value >= 20")
           .followed_by("b", "view").where("value >= 120")
           .within("48 hours").no_skip())
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_where_overlap"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want  # non-vacuous


def test_pattern_streaming_where_bounded(spark, queries):
    """Streaming bounded machine with predicates: the q_cep_where
    pattern (big view -> any click -> big purchase within 48 h) on the
    live stream converges to the oracle-backed batch counts."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    pat = (Pattern.begin("v", "view").where("value >= 50")
           .followed_by("c", "click")
           .followed_by("p", "purchase").where("value >= 100")
           .within("48 hours"))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_where"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want


def test_pattern_optional_refusals(spark):
    """optional()/times(a, b) outside their compiled scope must raise,
    never answer wrong: skip-past-last, strict stages, streaming, and
    match extraction all refuse."""
    ev = load(spark, SF_SMOKE, "events")
    ks = _env(spark).from_dataframe(ev).key_by("user_id")

    with pytest.raises(NotImplementedError, match="no_skip"):
        ks.pattern(Pattern.begin("v", "view")
                   .followed_by("c", "click").optional()
                   .followed_by("p", "purchase"))
    with pytest.raises(NotImplementedError, match="followed_by"):
        ks.pattern(Pattern.begin("v", "view")
                   .next("c", "click").optional()
                   .next("p", "purchase").no_skip())
    with pytest.raises(NotImplementedError, match="not carried"):
        ks.pattern_matches(Pattern.begin("v", "view")
                           .followed_by("c", "click").times(1, 2)
                           .followed_by("p", "purchase").no_skip())
    # r10: zeroOrMore COMPILES on the bounded-loop shape (sum of
    # machines, q_cep_zero_or_more) — only the degenerate single-stage
    # form still refuses, at compile time
    with pytest.raises(NotImplementedError, match="zeroOrMore"):
        ks.pattern(Pattern.begin("v", "view").one_or_more().optional()
                   .within("48 hours").no_skip())

    # r10: streaming optional()/times(a, b) now COMPILES (the variant-
    # union stepper) — but the batch gates carry over identically:
    # skip-past-last still refuses on a stream
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    with pytest.raises(NotImplementedError, match="no_skip"):
        (_env(spark).from_dataframe(sdf).key_by("user_id")
         .pattern(Pattern.begin("v", "view")
                  .followed_by("c", "click").optional()
                  .followed_by("p", "purchase")))


def test_pattern_streaming_variant_union_converges(spark, queries):
    """Streaming optional()/times(a, b) (round 10 — replaces the r9
    refusal): the <=32 variant fork machines run side by side on one
    keyed state row and their counts sum, so the live-stream counts
    converge across the micro-batch boundary to the oracle-backed
    batch union-of-variants keys — including the repeated-type
    times(1,2) variant whose one-event-two-stages snapshot path the
    batch oracle's run3 pins."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    for key, pat in (
            ("q_cep_optional",
             Pattern.begin("v", "view")
             .followed_by("c", "click").optional()
             .followed_by("p", "purchase")
             .within("48 hours").no_skip()),
            ("q_cep_times_range",
             Pattern.begin("c", "click").times(1, 2)
             .followed_by("p", "purchase")
             .within("48 hours").no_skip())):
        sdf = _two_file_stream(
            spark, ["user_id", "ts", "event_id", "event_type"])
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())
        assert out.isStreaming
        rows = _run_to_memory(out, "update").collect()
        final: dict[int, int] = {}
        for r in rows:
            final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                      r["n_matches"])
        want = {r["user_id"]: r["n_matches"] for r in
                queries[key](spark, SF_SMOKE).collect()}
        assert {u: n for u, n in final.items() if n > 0} == want, key
        assert want


def test_pattern_streaming_variant_union_survives_restart(spark,
                                                          queries):
    """L119 restart discipline for the r10 variant-union stepper: all
    variants' anchor sets live in ONE state row, so a stop + resume
    over the same checkpoint must carry every variant's partial state
    — half the events, stop, half 2 arrives while down, resume; the
    converged counts equal the batch q_cep_optional key."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click").optional()
           .followed_by("p", "purchase")
           .within("48 hours").no_skip())
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r10_restart_vu_src_")
    out_dir = tempfile.mkdtemp(prefix="cep_r10_restart_vu_out_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()  # half 1: partial counts + carried per-variant anchor sets
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()  # resume the same checkpoint over half 2

    final: dict[int, int] = {}
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = max(final.get(r.user_id, 0),
                                   r.n_matches)
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_optional"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_absence_chain(spark, queries):
    """Streaming anchored-CHAIN absence (round 10 — replaces the r9
    refusal): view → click → NO purchase in (t_click, t_view + 48h],
    run live. The stepper fuses the prefix match-extraction automaton
    with the per-match deadline timers, so the emission set must equal
    the oracle-backed batch composition (q_cep_absence_chain)
    restricted to anchors whose deadline the final watermark passed."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    W_US = 48 * 3600 * 1_000_000
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .not_followed_by("p", "purchase")
           .within("48 hours"))
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"]) \
        .withWatermark("ts", "1 minute")
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    got = {(r.user_id, r.anchor_id)
           for r in _run_to_memory(out, "append").collect()}

    ev = load(spark, SF_SMOKE, "events")
    batch = {(r.user_id, r.anchor_id) for r in
             queries["q_cep_absence_chain"](spark, SF_SMOKE).collect()}
    max_us = ev.agg(F.max(F.unix_micros("ts")).alias("m")) \
        .collect()[0]["m"]
    wm_final_us = (max_us // 1000 - 60_000) * 1000
    anchors = {(r.user_id, r.event_id): r.t_us for r in
               ev.filter("event_type = 'view'")
               .select("user_id", "event_id",
                       F.unix_micros("ts").alias("t_us")).collect()}
    expected = {(u, i) for (u, i) in batch
                if anchors[(u, i)] + W_US <= wm_final_us}
    assert got == expected
    assert got and got <= batch

    # refusal edges: noSkip prefix and mid-pattern NFB stay batch-only
    sdf2 = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"]) \
        .withWatermark("ts", "1 minute")
    with pytest.raises(NotImplementedError, match="skip-past-last"):
        (_env(spark).from_dataframe(sdf2).key_by("user_id")
         .pattern(Pattern.begin("v", "view")
                  .followed_by("c", "click")
                  .not_followed_by("p", "purchase")
                  .within("48 hours").no_skip()))


def test_pattern_streaming_absence_chain_survives_restart(spark,
                                                          queries):
    """L119 restart discipline for the r10 chain-absence stepper: the
    prefix registers AND the pending completed-prefix deadlines live in
    one state row — stop after half the events, deliver half 2 while
    down, resume over the same checkpoint; the union of emissions must
    equal the single-run emission set."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    W_US = 48 * 3600 * 1_000_000
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .not_followed_by("p", "purchase")
           .within("48 hours"))
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r10_restart_ac_src_")
    out_dir = tempfile.mkdtemp(prefix="cep_r10_restart_ac_out_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir)
               .withWatermark("ts", "1 minute"))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    got = set()
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            got.add((r.user_id, r.anchor_id))
    batch = {(r.user_id, r.anchor_id) for r in
             queries["q_cep_absence_chain"](spark, SF_SMOKE).collect()}
    max_us = ev.agg(F.max(F.unix_micros("ts")).alias("m")) \
        .collect()[0]["m"]
    wm_final_us = (max_us // 1000 - 60_000) * 1000
    anchors = {(r.user_id, r.event_id): r.t_us for r in
               ev.filter("event_type = 'view'")
               .select("user_id", "event_id",
                       F.unix_micros("ts").alias("t_us")).collect()}
    expected = {(u, i) for (u, i) in batch
                if anchors[(u, i)] + W_US <= wm_final_us}
    assert got == expected
    assert got


def test_pattern_streaming_until_converges(spark, queries):
    """Streaming until() (round 10): the fork-loop stepper's until-bit
    kill — loop-stage sets cleared across micro-batch boundaries too —
    converges to the oracle-backed batch q_cep_until counts."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .until("event_type = 'error'")
           .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_until"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_fork_rel_converges(spark, queries):
    """Streaming where_rel on the forking family (round 10): the
    keyed state carries per-anchor payloads (anchor µs + referenced
    values) across micro-batch boundaries, so the live-stream counts
    converge to the oracle-backed batch q_cep_where_rel_fork."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase")
           .where_rel("value", ">", "value")
           .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_where_rel_fork"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_skip_strategies_converge(spark):
    """Streaming AfterMatchSkipStrategy (round 10): closing events
    arrive in exactly the batch prune's candidate order, so the
    inline kill-interval stepper's counts must converge across the
    micro-batch boundary to the batch compile's per-key counts — all
    four strategies, including the quantified-name first/last pair."""
    from flink_tutorial_broadcast_spark.cep import compile_pattern
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    def mk_pat(which):
        if which in ("to_first", "to_last"):
            p = (Pattern.begin("v", "view")
                 .followed_by("c", "click").times(2)
                 .followed_by("p", "purchase").within("48 hours"))
            return (p.skip_to_first("c") if which == "to_first"
                    else p.skip_to_last("c"))
        p = (Pattern.begin("v", "view")
             .followed_by("c", "click")
             .followed_by("p", "purchase").within("48 hours"))
        return (p.skip_to_next() if which == "to_next"
                else p.skip_past_last_event())

    ev = load(spark, SF_SMOKE, "events")
    for which in ("to_next", "past_last_event", "to_first", "to_last"):
        pat = mk_pat(which)
        want = {r["user_id"]: r["n_matches"] for r in
                compile_pattern(pat, ev, ["user_id"], "ts",
                                "event_id", "event_type").collect()}
        sdf = _two_file_stream(
            spark, ["user_id", "ts", "event_id", "event_type"])
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(mk_pat(which)).to_df())
        assert out.isStreaming
        rows = _run_to_memory(out, "update").collect()
        final: dict[int, int] = {}
        for r in rows:
            final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                      r["n_matches"])
        assert {u: n for u, n in final.items() if n > 0} == want, which
        assert want, which


def test_round10_rel_until_steppers_survive_restart(spark, queries):
    """L119 restart discipline for the remaining r10 steppers: the
    fork-rel stepper's per-anchor payload arrays and the fork-loop
    stepper's until-kill state must survive stop + resume over one
    checkpoint — half the events, stop, half 2 arrives while down,
    resume; converged counts equal the oracle-backed batch keys."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    cases = [
        ("fork_rel",
         Pattern.begin("v", "view")
         .followed_by("p", "purchase")
         .where_rel("value", ">", "value")
         .within("48 hours").no_skip(),
         "q_cep_where_rel_fork"),
        ("until",
         Pattern.begin("v", "view")
         .followed_by("p", "purchase").one_or_more()
         .until("event_type = 'error'")
         .within("48 hours").no_skip(),
         "q_cep_until"),
    ]
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type", "value")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    for name, pat, batch_key in cases:
        src_dir = tempfile.mkdtemp(prefix=f"cep_r10_restart_{name}_s_")
        out_dir = tempfile.mkdtemp(prefix=f"cep_r10_restart_{name}_o_")
        ckpt = checkpoint_dir()
        (ev.filter(F.col("ts") <= F.lit(split_ts))
         .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

        def run():
            sdf = (spark.readStream
                   .schema("user_id long, ts timestamp, event_id long, "
                           "event_type string, value double")
                   .option("maxFilesPerTrigger", "1")
                   .option("recursiveFileLookup", "true")
                   .parquet(src_dir))
            out = (_env(spark).from_dataframe(sdf)
                   .key_by("user_id").pattern(pat).to_df())

            def body(batch_df, batch_id):
                (batch_df.write.mode("overwrite")
                 .parquet(os.path.join(out_dir, f"batch={batch_id}")))

            q = (out.writeStream.foreachBatch(body)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        run()
        (ev.filter(F.col("ts") > F.lit(split_ts))
         .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
        run()

        final: dict[int, int] = {}
        for p in _glob.glob(os.path.join(out_dir, "batch=*")):
            for r in spark.read.parquet(p).collect():
                final[r.user_id] = max(final.get(r.user_id, 0),
                                       r.n_matches)
        want = {r.user_id: r.n_matches for r in
                queries[batch_key](spark, SF_SMOKE).collect()}
        assert {u: n for u, n in final.items() if n > 0} == want, name
        assert want, name


def test_pattern_streaming_skip_strategy_survives_restart(spark):
    """L119 restart discipline for the r10 skip-strategy stepper: the
    event-position counter, anchor payloads, AND live kill intervals
    share one state row — stop + resume over the same checkpoint must
    preserve all three (a lost counter would shift every future kill
    interval; a lost interval would resurrect pruned starts)."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.cep import compile_pattern
    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours").skip_past_last_event())
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r10_restart_ss_src_")
    out_dir = tempfile.mkdtemp(prefix="cep_r10_restart_ss_out_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    final: dict[int, int] = {}
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = max(final.get(r.user_id, 0),
                                   r.n_matches)
    want = {r["user_id"]: r["n_matches"] for r in
            compile_pattern(pat, ev, ["user_id"], "ts", "event_id",
                            "event_type").collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_where_prev(spark, queries):
    """Streaming where_prev (round 10): the keyed state's prev-element
    values refresh per advance and survive micro-batch boundaries, so
    the live counts converge to the oracle-backed batch
    q_cep_where_prev."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .where_prev("value", ">", "value")
           .within("48 hours"))
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_where_prev"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_r10_advice_refusals(spark):
    """Round-10 advice pins: three shapes that previously compiled
    SILENTLY with wrong semantics must now refuse loudly.

    1. A strict next() stage anywhere in an optional()/times(a, b)
       pattern (the variant-union fold has no strict-await handling —
       the next stage would be treated as relaxed and overcount).
    2. where_rel() on a not_followed_by stage (_await_stages strips
       NFB stages, so the rel never reaches the veto test — runs the
       relative condition should spare would be killed).
    3. times() on a non-any stage in a followed_by_any pattern (the
       any-machines treat every expanded copy as followedByAny,
       counting all combinations instead of first-match contiguity).
    """
    ev = load(spark, SF_SMOKE, "events")
    ks = _env(spark).from_dataframe(ev).key_by("user_id")

    # 1 — next() on a NON-quantified stage of an optional pattern
    with pytest.raises(NotImplementedError, match="strict next"):
        ks.pattern(Pattern.begin("v", "view")
                   .next("c", "click")
                   .followed_by("p", "purchase").optional()
                   .within("48 hours").no_skip())
    # ... and with times(a, b) on a relaxed stage, strict elsewhere
    with pytest.raises(NotImplementedError, match="strict next"):
        ks.pattern(Pattern.begin("v", "view")
                   .followed_by("c", "click").times(1, 2)
                   .next("p", "purchase").no_skip())

    # 2 — where_rel() attached to a mid-pattern not_followed_by
    with pytest.raises(NotImplementedError, match="not_followed_by"):
        ks.pattern(Pattern.begin("a", "view")
                   .not_followed_by("e", "click")
                   .where_rel("value", ">", "value")
                   .followed_by("p", "purchase"))

    # 3 — times() on the begin stage of a followed_by_any pattern
    with pytest.raises(NotImplementedError, match="non-followed_by_any"):
        ks.pattern(Pattern.begin("v", "view").times(2)
                   .followed_by_any("p", "purchase").no_skip())


def test_pattern_streaming_any_dp_converges(spark, queries):
    """Streaming followedByAny (round 9): the K-longs-per-key counting
    stepper — constant state over unbounded history — converges across
    the micro-batch boundary to q_cep_followed_by_any; the bounded
    table stepper to q_cep_followed_by_any_within."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    for key, pat in (
            ("q_cep_followed_by_any",
             Pattern.begin("v", "view")
             .followed_by_any("c", "click")
             .followed_by_any("p", "purchase").no_skip()),
            ("q_cep_followed_by_any_within",
             Pattern.begin("v", "view")
             .followed_by_any("c", "click")
             .followed_by_any("p", "purchase")
             .within("48 hours").no_skip())):
        sdf = _two_file_stream(
            spark, ["user_id", "ts", "event_id", "event_type"])
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())
        assert out.isStreaming
        rows = _run_to_memory(out, "update").collect()
        final: dict[int, int] = {}
        for r in rows:
            final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                      r["n_matches"])
        want = {r["user_id"]: r["n_matches"] for r in
                queries[key](spark, SF_SMOKE).collect()}
        assert {u: n for u, n in final.items() if n > 0} == want, key
        assert want


def test_pattern_streaming_where_rel(spark, queries):
    """Streaming where_rel (round 9): the keyed state carries the
    anchor's referenced value across micro-batch boundaries, so the
    q_cep_where_rel pattern on the live stream converges to the
    oracle-backed batch counts."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase")
           .where_rel("value", ">", "value")
           .within("48 hours"))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_where_rel"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_matches_streaming_where_preds(spark, queries):
    """Streaming pattern_matches() with where() predicates: the mask
    projection feeds the matches steppers too, so the appended
    bindings (minus match_no ordering) accumulate to the oracle-backed
    batch extraction across the micro-batch boundary."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    pat = (Pattern.begin("a", "view").where("value >= 20")
           .followed_by("b", "view").where("value >= 120")
           .within("48 hours").no_skip())
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_matches(pat).to_df())
    assert out.isStreaming
    got = {(r.user_id, r.start_event_id, r.end_event_id, r.span_us)
           for r in _run_to_memory(out, "append").collect()}
    want = {(r.user_id, r.start_event_id, r.end_event_id, r.span_us)
            for r in queries["q_cep_where_matches"](
                spark, SF_SMOKE).collect()}
    assert got == want
    assert want


def test_condition_mask_width_guard():
    """The condition mask is a SQL BIGINT: >62 distinct stage
    conditions must refuse loudly instead of shifting into the sign
    bit."""
    from flink_tutorial_broadcast_spark.cep import _cond_codes

    pat = Pattern.begin("s0", "t0")
    for i in range(1, 63):
        pat = pat.followed_by(f"s{i}", f"t{i}")
    with pytest.raises(NotImplementedError, match="62"):
        _cond_codes(pat)
    pat_ok = Pattern.begin("s0", "t0")
    for i in range(1, 62):
        pat_ok = pat_ok.followed_by(f"s{i}", f"t{i}")
    assert len(_cond_codes(pat_ok)) == 62


def test_round9_verb_steppers_survive_restart(spark, queries):
    """L119 restart discipline for the round-9 verb steppers: the
    where_rel stepper's anchor VALUES, the any-DP stepper's subsequence
    counters, and the any-table stepper's anchor-aligned buffers must
    all survive a stop + resume over the same checkpoint — run 1
    drains half the events, the query stops, half 2 arrives while it
    is down, and the resumed run's converged counts must equal the
    oracle-backed batch keys over the full fixture. Memory sinks
    refuse recovery, so output lands via foreachBatch parquet."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    cases = [
        ("where_rel",
         Pattern.begin("v", "view")
         .followed_by("p", "purchase").where_rel("value", ">", "value")
         .within("48 hours"),
         "q_cep_where_rel"),
        ("any_dp",
         Pattern.begin("v", "view")
         .followed_by_any("c", "click")
         .followed_by_any("p", "purchase").no_skip(),
         "q_cep_followed_by_any"),
        ("any_table",
         Pattern.begin("v", "view")
         .followed_by_any("c", "click")
         .followed_by_any("p", "purchase")
         .within("48 hours").no_skip(),
         "q_cep_followed_by_any_within"),
    ]
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type", "value")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    for name, pat, batch_key in cases:
        src_dir = tempfile.mkdtemp(prefix=f"cep_r9_restart_{name}_src_")
        out_dir = tempfile.mkdtemp(prefix=f"cep_r9_restart_{name}_out_")
        ckpt = checkpoint_dir()
        (ev.filter(F.col("ts") <= F.lit(split_ts))
         .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

        def run():
            sdf = (spark.readStream
                   .schema("user_id long, ts timestamp, event_id long, "
                           "event_type string, value double")
                   .option("maxFilesPerTrigger", "1")
                   .option("recursiveFileLookup", "true")
                   .parquet(src_dir))
            out = (_env(spark).from_dataframe(sdf)
                   .key_by("user_id").pattern(pat).to_df())

            def body(batch_df, batch_id):
                (batch_df.write.mode("overwrite")
                 .parquet(os.path.join(out_dir, f"batch={batch_id}")))

            q = (out.writeStream.foreachBatch(body)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        run()  # half 1: partial counts + carried keyed state
        (ev.filter(F.col("ts") > F.lit(split_ts))
         .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
        run()  # resume the same checkpoint over half 2

        final: dict[int, int] = {}
        for p in _glob.glob(os.path.join(out_dir, "batch=*")):
            for r in spark.read.parquet(p).collect():
                final[r.user_id] = max(final.get(r.user_id, 0),
                                       r.n_matches)
        want = {r.user_id: r.n_matches for r in
                queries[batch_key](spark, SF_SMOKE).collect()}
        assert {u: n for u, n in final.items() if n > 0} == want, name
        assert want, name


def test_pattern_streaming_absence_with_predicates(spark):
    """Streaming absence with where() predicates (the absence_stepper's
    mask_mode): big-view anchors (value >= 50) with no qualifying big
    purchase (value >= 100) within 12 h must emit exactly the batch
    anti-join's anchors whose µs deadlines the final watermark passed —
    the role mask is computed JVM-side (bit 1 anchor, bit 2 answer)."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    W_US = 12 * 3600 * 1_000_000
    pat = (Pattern.begin("v", "view").where("value >= 50")
           .not_followed_by("p", "purchase").where("value >= 100")
           .within("12 hours"))
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"]) \
        .withWatermark("ts", "1 minute")
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    got = {(r.user_id, r.anchor_id)
           for r in _run_to_memory(out, "append").collect()}

    ev = load(spark, SF_SMOKE, "events")
    batch = {(r.user_id, r.anchor_id) for r in
             (_env(spark).from_dataframe(ev)
              .key_by("user_id").pattern(pat).to_df().collect())}
    max_us = ev.agg(F.max(F.unix_micros("ts")).alias("m")) \
        .collect()[0]["m"]
    wm_final_us = (max_us // 1000 - 60_000) * 1000
    anchors = {(r.user_id, r.event_id): r.t_us for r in
               ev.filter("event_type = 'view' AND value >= 50")
               .select("user_id", "event_id",
                       F.unix_micros("ts").alias("t_us")).collect()}
    expected = {(u, i) for (u, i) in batch
                if anchors[(u, i)] + W_US <= wm_final_us}
    assert got == expected
    assert got and got <= batch


def test_pattern_streaming_where_agg(spark, queries):
    """Streaming where_agg (round 11): the keyed state's aggregate
    registers reset at anchoring, combine per advance, and survive
    micro-batch boundaries, so the live counts converge to the
    oracle-backed batch q_cep_where_agg."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .where_agg("sum", "value", "<", 150)
           .within("48 hours"))
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_where_agg"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_where_agg_survives_restart(spark, queries):
    """L119 restart discipline for the r11 aggregate registers: the
    relaxed-rel stepper's rg slots (run sum here) must survive stop +
    resume over one checkpoint — half the events, stop, half 2
    arrives while down, resume; converged counts equal the
    oracle-backed batch q_cep_where_agg."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .where_agg("sum", "value", "<", 150)
           .within("48 hours"))
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type", "value")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r11_restart_agg_s_")
    out_dir = tempfile.mkdtemp(prefix="cep_r11_restart_agg_o_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string, value double")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    final: dict[int, int] = {}
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = max(final.get(r.user_id, 0),
                                   r.n_matches)
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_where_agg"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_fork_prev(spark, queries):
    """Streaming where_prev on the fork family (round 11): the
    per-anchor payload's prev slots refresh at promotion and survive
    micro-batch boundaries; converged counts equal the oracle-backed
    batch q_cep_where_prev_fork."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .where_prev("value", ">", "value")
           .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    rows = _run_to_memory(out, "update").collect()
    final: dict[int, int] = {}
    for r in rows:
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_where_prev_fork"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_fork_prev_survives_restart(spark, queries):
    """L119 restart discipline for the r11 prev payload slots: stop +
    resume over one checkpoint with half the events arriving while the
    query is down — parked runs must keep their bound prev values."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .where_prev("value", ">", "value")
           .within("48 hours").no_skip())
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type", "value")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r11_restart_fp_s_")
    out_dir = tempfile.mkdtemp(prefix="cep_r11_restart_fp_o_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string, value double")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    final: dict[int, int] = {}
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = max(final.get(r.user_id, 0),
                                   r.n_matches)
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_where_prev_fork"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_zero_or_more_converges(spark, queries):
    """Streaming zeroOrMore (round 11 — replaces the r10 refusal): one
    keyed-state row runs the prefix and fork-loop addends side by
    side; converged counts equal the oracle-backed batch
    q_cep_zero_or_more (2-stage shape) AND the batch compile for a
    K=3 shape (the prefix fork machinery path)."""
    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern, compile_pattern_stream,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    # 2-stage: the oracle-backed registered key
    pat2 = (Pattern.begin("v", "view")
            .followed_by("p", "purchase").one_or_more().optional()
            .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat2).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_zero_or_more"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want

    # K=3: view -> click -> purchase* (prefix = 2-stage fork machine)
    pat3 = (Pattern.begin("v", "view")
            .followed_by("c", "click")
            .followed_by("p", "purchase").one_or_more().optional()
            .within("48 hours").no_skip())
    ev = load(spark, SF_SMOKE, "events")
    batch3 = {r["user_id"]: r["n_matches"] for r in
              compile_pattern(pat3, ev, ["user_id"], "ts",
                              "event_id", "event_type").collect()}
    sdf3 = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out3 = compile_pattern_stream(pat3, sdf3, ["user_id"], "ts",
                                  "event_id", "event_type")
    final3: dict[int, int] = {}
    for r in _run_to_memory(out3, "update").collect():
        final3[r["user_id"]] = max(final3.get(r["user_id"], 0),
                                   r["n_matches"])
    assert {u: n for u, n in final3.items() if n > 0} == batch3
    assert batch3


def test_pattern_streaming_zero_or_more_survives_restart(spark,
                                                         queries):
    """L119 restart discipline for the r11 zeroOrMore stepper: both
    addends' sets (loop anchor sets + parked loop + prefix sets) must
    carry across stop + resume over one checkpoint."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more().optional()
           .within("48 hours").no_skip())
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r11_restart_zom_s_")
    out_dir = tempfile.mkdtemp(prefix="cep_r11_restart_zom_o_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    final: dict[int, int] = {}
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = max(final.get(r.user_id, 0),
                                   r.n_matches)
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_zero_or_more"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_skip_strategy_bindings(spark):
    """Streaming skip-strategy BINDINGS (round 11 — replaces
    divergences row 15's remaining refusal): the counts stepper's
    survivals happen in exactly the batch prune's candidate order, so
    append-mode emission of (match_no, start, end, span) must equal
    the batch _skip_strategy_matches rows EXACTLY — match_no included
    — for all four strategies."""
    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern_matches, compile_pattern_matches_stream,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    def mk_pat(which):
        if which in ("to_first", "to_last"):
            p = (Pattern.begin("v", "view")
                 .followed_by("c", "click").times(2)
                 .followed_by("p", "purchase").within("48 hours"))
            return (p.skip_to_first("c") if which == "to_first"
                    else p.skip_to_last("c"))
        p = (Pattern.begin("v", "view")
             .followed_by("c", "click")
             .followed_by("p", "purchase").within("48 hours"))
        return (p.skip_to_next() if which == "to_next"
                else p.skip_past_last_event())

    ev = load(spark, SF_SMOKE, "events")
    for which in ("to_next", "past_last_event", "to_first", "to_last"):
        want = {(r["user_id"], r["match_no"], r["start_event_id"],
                 r["end_event_id"], r["span_us"]) for r in
                compile_pattern_matches(
                    mk_pat(which), ev, ["user_id"], "ts",
                    "event_id", "event_type").collect()}
        sdf = _two_file_stream(
            spark, ["user_id", "ts", "event_id", "event_type"])
        out = compile_pattern_matches_stream(
            mk_pat(which), sdf, ["user_id"], "ts", "event_id",
            "event_type")
        assert out.isStreaming
        got = {(r["user_id"], r["match_no"], r["start_event_id"],
                r["end_event_id"], r["span_us"]) for r in
               _run_to_memory(out, "append").collect()}
        assert got == want, which
        assert want, which


def test_pattern_streaming_skip_bindings_survive_restart(spark):
    """L119 restart discipline for the r11 bindings mode: kill
    intervals and anchor payloads carry across stop + resume; the
    union of both runs' appended rows equals the batch bindings."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern_matches, compile_pattern_matches_stream,
    )
    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase").within("48 hours")
           .skip_past_last_event())
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r11_restart_skb_s_")
    out_dir = tempfile.mkdtemp(prefix="cep_r11_restart_skb_o_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = compile_pattern_matches_stream(
            pat, sdf, ["user_id"], "ts", "event_id", "event_type")

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    got = set()
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            got.add((r.user_id, r.match_no, r.start_event_id,
                     r.end_event_id, r.span_us))
    want = {(r["user_id"], r["match_no"], r["start_event_id"],
             r["end_event_id"], r["span_us"]) for r in
            compile_pattern_matches(pat, ev, ["user_id"], "ts",
                                    "event_id", "event_type").collect()}
    assert got == want
    assert want


def test_pattern_streaming_group_times(spark, queries):
    """Groups compile eagerly, so streaming carries them with no new
    stepper: converged counts equal the oracle-backed batch
    q_cep_group_times."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sub = Pattern.begin("v", "view").followed_by("c", "click")
    pat = (Pattern.begin_group(sub).times(2)
           .followed_by("p", "purchase").within("48 hours"))
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_group_times"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_loop_agg(spark, queries):
    """Streaming loop-aggregate condition (round 11): parked runs'
    registers survive micro-batch boundaries; converged counts equal
    the oracle-backed batch q_cep_loop_agg."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .where_agg("sum", "value", "<", 200)
           .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type", "value"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_loop_agg"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_loop_agg_survives_restart(spark, queries):
    """L119 restart discipline for the r11 loop-agg stepper: parked
    (t, register, loop length) triples carry across stop + resume."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .where_agg("sum", "value", "<", 200)
           .within("48 hours").no_skip())
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type", "value")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r11_restart_la_s_")
    out_dir = tempfile.mkdtemp(prefix="cep_r11_restart_la_o_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string, value double")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    final: dict[int, int] = {}
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = max(final.get(r.user_id, 0),
                                   r.n_matches)
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_loop_agg"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_times_or_more(spark, queries):
    """timesOrMore rides the eager expansion onto the fork-loop
    stepper: converged counts equal the oracle-backed batch
    q_cep_times_or_more."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").times_or_more(2)
           .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_times_or_more"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_consecutive(spark, queries):
    """Streaming consecutive() (round 12): the fork-loop stepper's
    kill rule fires across micro-batch boundaries; converged counts
    equal the oracle-backed batch q_cep_consecutive."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more().consecutive()
           .within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_consecutive"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_consecutive_survives_restart(spark,
                                                        queries):
    """L119 restart discipline for the r12 consecutive() loop: the
    parked set (and its kill-rule emptiness) carries across stop +
    resume — a kill event in the second half must not resurrect runs
    parked before the checkpoint."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more().consecutive()
           .within("48 hours").no_skip())
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r12_restart_cs_s_")
    out_dir = tempfile.mkdtemp(prefix="cep_r12_restart_cs_o_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    final: dict[int, int] = {}
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = max(final.get(r.user_id, 0),
                                   r.n_matches)
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_consecutive"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_allow_combinations(spark, queries):
    """Streaming allowCombinations (round 12): the parked subsequence
    registers double across micro-batch boundaries; converged counts
    equal the oracle-backed batch q_cep_allow_combinations."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .allow_combinations().within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_allow_combinations"](spark,
                                                SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_group_loop(spark, queries):
    """Streaming GROUP one_or_more (round 12): the fork stepper's
    back-edge survives micro-batch boundaries; converged counts equal
    the oracle-backed batch q_cep_group_loop."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .one_or_more().within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_group_loop"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_group_optional(spark, queries):
    """Streaming GROUP optional (round 13 — replaces the r12
    batch-only refusal): the variant-union stepper carries the group
    variants (prefix alone + prefix-plus-one-copy) side by side;
    converged counts equal the oracle-backed batch
    q_cep_group_optional."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .optional().within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_group_optional"](spark,
                                            SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_group_times_range(spark, queries):
    """Streaming GROUP times(1, 2) (round 13): one variant per copy
    count on the shared stepper state row; converged counts equal the
    oracle-backed batch q_cep_group_times_range."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .times(1, 2).within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_group_times_range"](spark,
                                               SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_group_zom(spark, queries):
    """Streaming GROUP zeroOrMore (round 13): the prefix addend and
    the back-edge group loop run side by side in one state row;
    converged counts equal the oracle-backed batch q_cep_group_zom."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .one_or_more().optional().within("48 hours").no_skip())
    sdf = _two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern(pat).to_df())
    assert out.isStreaming
    final: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0),
                                  r["n_matches"])
    want = {r["user_id"]: r["n_matches"] for r in
            queries["q_cep_group_zom"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_group_zom_survives_restart(spark, queries):
    """Restart discipline for the r13 group-variant steppers: the
    side-by-side state row (loop fork sets + prefix fork sets +
    summed count) carries across stop + resume with half-2 arriving
    while the query is down; the final per-key counts equal batch."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .one_or_more().optional().within("48 hours").no_skip())
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r13_restart_gz_s_")
    out_dir = tempfile.mkdtemp(prefix="cep_r13_restart_gz_o_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    final: dict[int, int] = {}
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = max(final.get(r.user_id, 0),
                                   r.n_matches)
    want = {r.user_id: r.n_matches for r in
            queries["q_cep_group_zom"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == want
    assert want


def test_pattern_streaming_timeouts(spark, queries):
    """Streaming timeout side output (round 11): emissions = the batch
    q_cep_timeouts rows whose expiry a later same-key event OBSERVED
    (emitted inline, like the batch fold) plus end-of-input partials
    whose deadline the final watermark passed (timer path); nothing
    else may leak."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )

    ev = load(spark, SF_SMOKE, "events")
    sdf = (_two_file_stream(
        spark, ["user_id", "ts", "event_id", "event_type"])
        .withWatermark("ts", "1 minute"))
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours"))
    out = (_env(spark).from_dataframe(sdf)
           .key_by("user_id").pattern_timeouts(pat).to_df())
    assert out.isStreaming
    got = {(r.user_id, r.anchor_id, r.stages_matched, r.timeout_at_us)
           for r in _run_to_memory(out, "append").collect()}

    batch = {(r.user_id, r.anchor_id, r.stages_matched,
              r.timeout_at_us)
             for r in queries["q_cep_timeouts"](spark,
                                                SF_SMOKE).collect()}
    max_us = ev.agg(F.max(F.unix_micros("ts")).alias("m")) \
        .collect()[0]["m"]
    wm_final_us = (max_us // 1000 - 60_000) * 1000
    max_t_user = {r.user_id: r.m for r in
                  ev.groupBy("user_id")
                  .agg(F.max(F.unix_micros("ts")).alias("m"))
                  .collect()}
    expected = {(u, a, s, tout) for (u, a, s, tout) in batch
                if max_t_user[u] > tout or tout <= wm_final_us}
    assert got == expected
    assert got and got <= batch


def test_pattern_streaming_timeouts_survive_restart(spark, queries):
    """L119 restart discipline for the r11 timeout stepper: the live
    run (stage, anchor id, anchor t) carries across stop + resume;
    the union of appended rows equals the convergence criterion."""
    import glob as _glob

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("48 hours"))
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src_dir = tempfile.mkdtemp(prefix="cep_r11_restart_to_s_")
    out_dir = tempfile.mkdtemp(prefix="cep_r11_restart_to_o_")
    ckpt = checkpoint_dir()
    (ev.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=0")))

    def run():
        sdf = (spark.readStream
               .schema("user_id long, ts timestamp, event_id long, "
                       "event_type string")
               .option("maxFilesPerTrigger", "1")
               .option("recursiveFileLookup", "true")
               .parquet(src_dir)
               .withWatermark("ts", "1 minute"))
        out = (_env(spark).from_dataframe(sdf)
               .key_by("user_id").pattern_timeouts(pat).to_df())

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (out.writeStream.foreachBatch(body)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    (ev.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(src_dir, "f=1")))
    run()

    got = set()
    for p in _glob.glob(os.path.join(out_dir, "batch=*")):
        for r in spark.read.parquet(p).collect():
            got.add((r.user_id, r.anchor_id, r.stages_matched,
                     r.timeout_at_us))
    batch = {(r.user_id, r.anchor_id, r.stages_matched,
              r.timeout_at_us)
             for r in queries["q_cep_timeouts"](spark,
                                                SF_SMOKE).collect()}
    max_us = ev.agg(F.max(F.unix_micros("ts")).alias("m")) \
        .collect()[0]["m"]
    wm_final_us = (max_us // 1000 - 60_000) * 1000
    max_t_user = {r.user_id: r.m for r in
                  ev.groupBy("user_id")
                  .agg(F.max(F.unix_micros("ts")).alias("m"))
                  .collect()}
    expected = {(u, a, s, tout) for (u, a, s, tout) in batch
                if max_t_user[u] > tout or tout <= wm_final_us}
    assert got == expected
    assert got and got <= batch
