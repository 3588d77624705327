"""Hypothesis property tests for the cep.py compilers: on randomized
event sequences, every compiled machine must equal an independently
coded pure-Python NFA reference — evidence beyond the fixture's
distribution (SURVEY.md §5.3 discipline applied to the round-7 CEP
facade)."""

from __future__ import annotations

import datetime as dt
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F  # noqa: F401

from flink_tutorial_broadcast_spark.cep import Pattern
from flink_tutorial_broadcast_spark.datastream import (
    StreamExecutionEnvironment,
)

BASE = dt.datetime(2024, 1, 1)
TYPES = ["view", "click", "purchase", "other"]

# (user, minute-offset, type-index); minutes capped so `within` horizons
# are actually exercised (48h = 2880 min > max offset only sometimes)
seq_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 5000),
              st.integers(0, 3)),
    min_size=1, max_size=35)


def _mk(spark, rows):
    # event_id = list position → a unique, order-stable tiebreak
    data = [(u, BASE + dt.timedelta(minutes=m), i, TYPES[t])
            for i, (u, m, t) in enumerate(rows)]
    return spark.createDataFrame(
        data, "user_id int, ts timestamp, event_id long, event_type string")


def _per_user_ordered(rows):
    """events per user in (ts, event_id) order → list of (minute, type)."""
    per = {}
    for i, (u, m, t) in enumerate(rows):
        per.setdefault(u, []).append((m, i, TYPES[t]))
    return {u: [(m, ty) for m, _, ty in sorted(evs)]
            for u, evs in per.items()}


def _ref_relaxed(seq, stages):
    """Skip-past-last K-stage automaton (each event binds to at most one
    match; earliest-match greedy)."""
    stage, cnt = 0, 0
    for _, ty in seq:
        if ty == stages[stage]:
            stage += 1
            if stage == len(stages):
                cnt, stage = cnt + 1, 0
    return cnt


def _ref_fork(seq, stages, within_min):
    """noSkip forking NFA with expiry: anchor minute-stamps per stage."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]
    cnt = 0
    for m, ty in seq:
        if within_min is not None:
            sets = [[a for a in s if m - a <= within_min] for s in sets]
        if ty == stages[0]:
            sets[0].append(m)
        for i in range(1, K - 1):
            if ty == stages[i]:
                sets[i] = sets[i] + sets[i - 1]
                sets[i - 1] = []
        if ty == stages[K - 1] and K >= 2:
            cnt += len(sets[K - 2])
            sets[K - 2] = []
    return cnt


def _ref_strict_regex(seq, regex):
    path = ">".join(ty for _, ty in seq)
    return len(re.findall(regex, path))


def _run(spark, df, pat):
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    rows = (env.from_dataframe(df).key_by("user_id").pattern(pat)
            .to_df().collect())
    return {r["user_id"]: r["n_matches"] for r in rows}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_relaxed_machine_matches_python_nfa(spark, rows):
    stages = ["view", "click", "purchase"]
    pat = (Pattern.begin("a", "view").followed_by("b", "click")
           .followed_by("c", "purchase"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_relaxed(seq, stages)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_fork_machine_matches_python_nfa(spark, rows):
    stages = ["view", "click", "purchase"]
    pat = (Pattern.begin("a", "view").followed_by("b", "click")
           .followed_by("c", "purchase").within("48 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_fork(seq, stages, 48 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_fork_two_stage_matches_python_nfa(spark, rows):
    """K=2 exercises the generalized fold's boundary (single anchor
    array, first stage IS the penultimate stage)."""
    pat = (Pattern.begin("a", "click").followed_by("b", "purchase")
           .within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_fork(seq, ["click", "purchase"], 12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_strict_times_matches_python_regex(spark, rows):
    pat = (Pattern.begin("a", "view").next("b", "click").times(2)
           .next("c", "purchase"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_strict_regex(seq, r"(view(>click){2}>purchase)")
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def _ref_relaxed_within(seq, stages, within_min):
    """Bounded single-anchor skip-past-last machine: expiry resets the
    partial BEFORE the event is considered."""
    stage, cnt, anchor = 0, 0, 0
    for m, ty in seq:
        if stage > 0 and m - anchor > within_min:
            stage = 0
        if ty == stages[stage]:
            if stage == 0:
                anchor = m
            stage += 1
            if stage == len(stages):
                cnt, stage = cnt + 1, 0
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_relaxed_within_machine_matches_python_nfa(spark, rows):
    stages = ["view", "click", "purchase"]
    pat = (Pattern.begin("a", "view").followed_by("b", "click")
           .followed_by("c", "purchase").within("48 hours"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_relaxed_within(seq, stages, 48 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def _ref_fork_matches(seq_full, stages, within_min):
    """Forking NFA collecting bindings: anchors are (minute, event_id);
    every surviving penultimate-stage anchor completes on the closing
    event."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]
    out = []
    for m, eid, ty in seq_full:
        if within_min is not None:
            sets = [[a for a in s if m - a[0] <= within_min]
                    for s in sets]
        if ty == stages[0]:
            sets[0] = sets[0] + [(m, eid)]
        for i in range(1, K - 1):
            if ty == stages[i]:
                sets[i] = sets[i] + sets[i - 1]
                sets[i - 1] = []
        if ty == stages[K - 1]:
            out.extend((a_eid, eid, (m - a_m) * 60)
                       for a_m, a_eid in sets[K - 2])
            sets[K - 2] = []
    return out


def _ref_fork_snapshot(seq, stages, within_min):
    """noSkip forking NFA, SNAPSHOT semantics: all stage transitions for
    one event read the pre-event state, so an event never serves two
    positions of the same run — required when adjacent stages repeat an
    event type (a→a), and identical to _ref_fork on distinct types."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]
    cnt = 0
    for m, ty in seq:
        if within_min is not None:
            sets = [[a for a in s if m - a <= within_min] for s in sets]
        match = [ty == stages[i] for i in range(K)]
        snap = [list(s) for s in sets]
        if match[K - 1] and K >= 2:
            cnt += len(snap[K - 2])
        for i in range(K - 1):
            base = [] if match[i + 1] else snap[i]
            if match[i]:
                sets[i] = base + ([m] if i == 0 else snap[i - 1])
            else:
                sets[i] = base
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_fork_snapshot_reference_agrees_on_distinct_types(
        spark, rows):
    """The snapshot reference and the sequential reference are the same
    machine when no event type repeats — pinning that the snapshot
    rewrite didn't change the already-verified distinct-type family."""
    stages = ["view", "click", "purchase"]
    for u, seq in _per_user_ordered(rows).items():
        assert _ref_fork_snapshot(seq, stages, 48 * 60) \
            == _ref_fork(seq, stages, 48 * 60)


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_repeated_stage_relaxed_matches_python_nfa(spark, rows):
    """REPEATED event types across followed_by stages (the
    login→login→alert canon: here click→click→purchase) — the
    stage-index machine must equal the pure-Python skip-past-last NFA,
    whose reference loop is already stage-indexed."""
    stages = ["click", "click", "purchase"]
    pat = (Pattern.begin("a", "click").followed_by("b", "click")
           .followed_by("c", "purchase"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_relaxed(seq, stages)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_repeated_stage_fork_matches_python_nfa(spark, rows):
    """Repeated types under no_skip(): the forking machine's snapshot
    drain-and-refill must equal the snapshot-semantics Python NFA —
    one 'click' simultaneously closes stage-1 runs into stage 2 and
    anchors new runs."""
    stages = ["click", "click", "purchase"]
    pat = (Pattern.begin("a", "click").followed_by("b", "click")
           .followed_by("c", "purchase").within("48 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_fork_snapshot(seq, stages, 48 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_repeated_stage_within_matches_python_nfa(spark, rows):
    """Repeated types + within() in the bounded single-anchor machine:
    anchor expiry and stage-index transitions compose."""
    stages = ["click", "click", "purchase"]
    pat = (Pattern.begin("a", "click").followed_by("b", "click")
           .followed_by("c", "purchase").within("12 hours"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_relaxed_within(seq, stages, 12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_relaxed_times_equals_manual_expansion(spark, rows):
    """times(n) on a followed_by stage == writing the stage n times
    (Flink's default relaxed internal contiguity), on every random
    sequence — including under within()."""
    quant = (Pattern.begin("v", "view")
             .followed_by("c", "click").times(2)
             .followed_by("p", "purchase").within("48 hours"))
    manual = (Pattern.begin("v", "view")
              .followed_by("c1", "click")
              .followed_by("c2", "click")
              .followed_by("p", "purchase").within("48 hours"))
    df = _mk(spark, rows)
    assert _run(spark, df, quant) == _run(spark, df, manual)


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_fork_matches_bindings_match_python_nfa(spark, rows):
    """pattern_matches() under no_skip(): the full per-key binding
    multiset (anchor id, closing id, span seconds) equals the Python
    forking NFA's."""
    pat = (Pattern.begin("a", "view").followed_by("b", "click")
           .followed_by("c", "purchase").within("48 hours").no_skip())
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    got_rows = (env.from_dataframe(_mk(spark, rows))
                .key_by("user_id").pattern_matches(pat)
                .to_df().collect())
    got = {}
    for r in got_rows:
        got.setdefault(r["user_id"], []).append(
            (r["start_event_id"], r["end_event_id"],
             r["span_us"] // 1_000_000))
    per = {}
    for i, (u, m, t) in enumerate(rows):
        per.setdefault(u, []).append((m, i, TYPES[t]))
    want = {}
    for u, evs in per.items():
        res = _ref_fork_matches(sorted(evs),
                                ["view", "click", "purchase"], 48 * 60)
        if res:
            want[u] = res
    assert {u: sorted(v) for u, v in got.items()} \
        == {u: sorted(v) for u, v in want.items()}


def _ref_mixed(seq, stages, strict, within_min=None):
    """Single-run skip-past-last machine with PER-STAGE strict awaits:
    a non-matching event at a strict (next) await kills the run — and
    may itself re-anchor a new one — instead of being skipped. strict
    is index-aligned with stages (strict[0] is never consulted: before
    the anchor there is no previous match)."""
    K = len(stages)
    stage, cnt, anchor = 0, 0, 0
    for m, ty in seq:
        if within_min is not None and stage > 0 \
                and m - anchor > within_min:
            stage = 0
        if ty == stages[stage]:
            if stage == 0:
                anchor = m
            stage += 1
            if stage == K:
                cnt, stage = cnt + 1, 0
        elif strict[stage] and stage > 0:
            if ty == stages[0]:
                stage, anchor = 1, m
            else:
                stage = 0
    return cnt


def _ref_mixed_fork(seq, stages, strict, within_min=None):
    """Forking NFA with strict awaits, snapshot semantics: a strict-
    await anchor set drains upward on a match and DIES on anything
    else (its immediate-next event was wrong)."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]
    cnt = 0
    for m, ty in seq:
        if within_min is not None:
            sets = [[a for a in s if m - a <= within_min] for s in sets]
        match = [ty == stages[i] for i in range(K)]
        snap = [list(s) for s in sets]
        if match[K - 1] and K >= 2:
            cnt += len(snap[K - 2])
        for i in range(K - 1):
            if strict[i + 1]:
                base = []
            else:
                base = [] if match[i + 1] else snap[i]
            if match[i]:
                sets[i] = base + ([m] if i == 0 else snap[i - 1])
            else:
                sets[i] = base
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_mixed_contiguity_matches_python_nfa(spark, rows):
    """begin(view).followed_by(click).next(purchase): the purchase must
    be the IMMEDIATE next event after the click — the stage machines'
    strict-await kill/re-anchor must equal the Python reference on
    random sequences."""
    stages = ["view", "click", "purchase"]
    strict = [False, False, True]
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .next("p", "purchase"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_mixed(seq, stages, strict)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_mixed_contiguity_within_matches_python_nfa(spark, rows):
    """Mixed contiguity + within(): expiry and strict-await kill
    compose in the bounded single-anchor machine."""
    stages = ["view", "click", "purchase"]
    strict = [False, False, True]
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .next("p", "purchase").within("12 hours"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_mixed(seq, stages, strict, 12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_mixed_contiguity_fork_matches_python_nfa(spark, rows):
    """Mixed contiguity under no_skip(): strict-await anchor sets
    drain-or-die in the forking machine, snapshot semantics."""
    stages = ["view", "click", "purchase"]
    strict = [False, False, True]
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .next("p", "purchase").within("48 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_mixed_fork(seq, stages, strict, 48 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_strict_middle_stage_matches_python_nfa(spark, rows):
    """The strict stage in the MIDDLE: begin(view).next(click)
    .followed_by(purchase) — the click must immediately follow the
    anchoring view, the purchase may come whenever."""
    stages = ["view", "click", "purchase"]
    strict = [False, True, False]
    pat = (Pattern.begin("v", "view").next("c", "click")
           .followed_by("p", "purchase"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_mixed(seq, stages, strict)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=50, deadline=None)
@given(rows=seq_strategy)
def test_strict_machine_equals_regex_on_distinct_types(spark, rows):
    """The claim behind round 8's STREAMING strict chains: for DISTINCT
    stage types the single-run kill-or-re-anchor machine (the stepper
    the stream runs) counts exactly what the batch regex counts — a
    distinct alphabet means the pattern has no proper border, so the
    KMP failure function is <= 1 and greedy consumption never wastes an
    event a later anchor could use. Pinned machine-vs-regex on random
    sequences, pure Python (the Spark twins are pinned by the facade
    convergence test)."""
    stages = ["view", "click", "purchase"]

    def machine(seq):
        stage = cnt = 0
        for _, ty in seq:
            if ty == stages[stage]:
                stage += 1
                if stage == len(stages):
                    cnt, stage = cnt + 1, 0
            elif stage > 0:
                stage = 1 if ty == stages[0] else 0
        return cnt

    for _, seq in _per_user_ordered(rows).items():
        assert machine(seq) == _ref_strict_regex(
            seq, r"(view>click>purchase)")


class _KmpFakeState:
    def __init__(self):
        self._s = None

    @property
    def exists(self):
        return self._s is not None

    @property
    def get(self):
        return self._s

    def update(self, v):
        self._s = v


# bordered fixed strings are the cases the r8 kill-or-re-anchor rule
# undercounts: 'vvp' (border 'v' inside 'vv'), 'vcvc' (abab, border
# 'vc'), 'vvc' (aab) — plus a distinct alphabet as the fail<=1 control
KMP_PATTERNS = [
    ["view", "view", "purchase"],
    ["view", "click", "view", "click"],
    ["view", "view", "click"],
    ["view", "click", "purchase"],
]


@settings(max_examples=100, deadline=None)
@given(rows=seq_strategy,
       pat_i=st.integers(0, len(KMP_PATTERNS) - 1),
       cuts=st.lists(st.integers(0, 34), max_size=3))
def test_kmp_stepper_equals_regex_nonoverlapping_count(rows, pat_i,
                                                       cuts):
    """Round 9's streaming strict-chain machine: the KMP automaton with
    restart-after-match, fed the same events across ARBITRARY
    micro-batch splits, must count exactly the batch regex's leftmost
    non-overlapping matches — including bordered patterns (aab, abab,
    aax) where a mismatch legally re-enters mid-pattern. Pure-Python
    pin of cep.kmp_stepper's step function itself (the Spark plumbing
    is pinned by the facade convergence test)."""
    import pandas as pd

    from flink_tutorial_broadcast_spark.cep import (
        _kmp_failure, kmp_stepper,
    )

    stages = KMP_PATTERNS[pat_i]
    tcodes: dict[str, int] = {}
    for t in stages:
        tcodes.setdefault(t, len(tcodes) + 1)
    scodes = [tcodes[s] for s in stages]
    # sanity: the failure function is a border function
    fail = _kmp_failure(scodes)
    assert fail[0] == 0 and fail[1] == 0
    assert all(0 <= fail[j] < j for j in range(1, len(scodes) + 1))

    step = kmp_stepper(tcodes, scodes, key_cols=["user_id"])
    char = {t: chr(ord("a") + c - 1) for t, c in tcodes.items()}
    regex = "(" + "".join(char[s] for s in stages) + ")"

    for u, seq in _per_user_ordered(rows).items():
        # reference: leftmost non-overlapping regex count on the
        # single-char path ('-' breaks contiguity like any non-alphabet
        # event)
        path = "".join(char.get(ty, "-") for _, ty in seq)
        want = len(re.findall(regex, path))

        # machine: feed in 1..4 chunks at the hypothesis-chosen cuts
        # (micro-batch boundaries must be invisible to the count)
        pts = sorted({c for c in cuts if c < len(seq)})
        bounds = [0] + pts + [len(seq)]
        st_obj = _KmpFakeState()
        last = None
        for lo, hi in zip(bounds, bounds[1:]):
            chunk = seq[lo:hi]
            if not chunk:
                continue
            pdf = pd.DataFrame({
                "user_id": [u] * len(chunk),
                "ts": [m for m, _ in chunk],
                "event_id": list(range(lo, lo + len(chunk))),
                "event_type": [ty for _, ty in chunk]})
            out = list(step((u,), iter([pdf]), st_obj))
            last = out[-1]
        got = int(last["n_matches"].iloc[0]) if last is not None else 0
        assert got == want, (stages, seq, got, want)


def _brute_fork_loop(seq, stages, within_min):
    """INDEPENDENT reference for the bounded fork-loop machine: direct
    match enumeration, no automaton. A run anchors at every begin
    event, takes the FIRST matching event per middle stage (in-horizon,
    later in sequence order), then yields one match per in-horizon
    final-stage event after the penultimate binding. K=1: every event
    pairs with itself and every later in-horizon event."""
    K = len(stages)
    n = len(seq)
    cnt = 0
    if K == 1:
        xs = [m for m, ty in seq if ty == stages[0]]
        return sum(1 for a in range(len(xs)) for b in range(a, len(xs))
                   if xs[b] - xs[a] <= within_min)
    for idx in range(n):
        mv, tv = seq[idx]
        if tv != stages[0]:
            continue
        pos, ok = idx, True
        for s in stages[1:-1]:
            nxt = next((j for j in range(pos + 1, n)
                        if seq[j][1] == s
                        and seq[j][0] - mv <= within_min), None)
            if nxt is None:
                ok = False
                break
            pos = nxt
        if not ok:
            continue
        cnt += sum(1 for j in range(pos + 1, n)
                   if seq[j][1] == stages[-1]
                   and seq[j][0] - mv <= within_min)
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_fork_loop_machine_matches_brute_force(spark, rows):
    """Bounded one_or_more (round 9): begin(v).followed_by(c)
    .followed_by(p).one_or_more().within(48h).no_skip() — the fork-loop
    fold must equal the brute-force match enumeration on random
    sequences."""
    pat = (Pattern.begin("a", "view").followed_by("b", "click")
           .followed_by("c", "purchase").one_or_more()
           .within("48 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _brute_fork_loop(seq, ["view", "click", "purchase"],
                                48 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_fork_loop_single_stage_matches_brute_force(spark, rows):
    """K=1 bounded one_or_more: begin(c).one_or_more().within(12h)
    .no_skip() — every click anchors AND extends every live earlier
    anchor, so the count is the number of in-horizon ordered click
    pairs (i <= j)."""
    pat = (Pattern.begin("a", "click").one_or_more()
           .within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _brute_fork_loop(seq, ["click"], 12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy,
       horizons=st.integers(1, 3))
def test_cep_chunked_fork_equals_unchunked(spark, rows, horizons):
    """Round 9 exact time-chunking: the fork compile with chunked=True
    (horizon-aligned chunks, one-horizon overlap, anchor-owned counts)
    must equal both the unchunked fork fold AND the independent
    pure-Python NFA on random sequences — for several chunk sizes, so
    matches that straddle chunk boundaries are really exercised (the
    12-hour horizon over 0..5000-minute offsets forces many chunks at
    horizons=1)."""
    pat = (Pattern.begin("a", "view").followed_by("b", "click")
           .followed_by("c", "purchase").within("12 hours").no_skip())
    df = _mk(spark, rows)
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    chunked = {r["user_id"]: r["n_matches"] for r in
               (env.from_dataframe(df).key_by("user_id")
                .pattern(pat, chunked=True, chunk_horizons=horizons)
                .to_df().collect())}
    plain = _run(spark, df, pat)
    assert chunked == plain
    want = {u: _ref_fork(seq, ["view", "click", "purchase"], 12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert chunked == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=60, deadline=None)
@given(rows=seq_strategy,
       pat_i=st.integers(0, len(KMP_PATTERNS) - 1),
       cuts=st.lists(st.integers(0, 34), max_size=3))
def test_kmp_matches_stepper_equals_re_finditer(rows, pat_i, cuts):
    """Strict-chain match EXTRACTION (round 9): the KMP matches stepper
    (ring buffer of the last K events; restart-after-match), fed across
    arbitrary micro-batch splits, must emit exactly re.finditer's
    leftmost non-overlapping spans — start/end positions and counts —
    on bordered patterns included. Pure-Python pin of
    cep.kmp_matches_stepper; the Spark batch fold is pinned by the
    oracle key and the streaming convergence test."""
    import pandas as pd

    from flink_tutorial_broadcast_spark.cep import kmp_matches_stepper

    stages = KMP_PATTERNS[pat_i]
    tcodes: dict[str, int] = {}
    for ty in stages:
        tcodes.setdefault(ty, len(tcodes) + 1)
    scodes = [tcodes[s] for s in stages]
    step = kmp_matches_stepper(tcodes, scodes, key_cols=["user_id"])
    char = {ty: chr(ord("a") + cc - 1) for ty, cc in tcodes.items()}
    regex = "".join(char[s] for s in stages)

    for u, seq in _per_user_ordered(rows).items():
        path = "".join(char.get(ty, "-") for _, ty in seq)
        # reference bindings: (start event index, end event index)
        want = {(m.start(), m.end() - 1)
                for m in re.finditer(re.escape(regex), path)}
        pts = sorted({cc for cc in cuts if cc < len(seq)})
        bounds = [0] + pts + [len(seq)]
        st_obj = _KmpFakeState()
        got = set()
        for lo, hi in zip(bounds, bounds[1:]):
            chunk = seq[lo:hi]
            if not chunk:
                continue
            pdf = pd.DataFrame({
                "user_id": [u] * len(chunk),
                "ts": [m for m, _ in chunk],
                "event_id": list(range(lo, lo + len(chunk))),
                "event_type": [ty for _, ty in chunk]})
            for out in step((u,), iter([pdf]), st_obj):
                got |= set(zip(out["start_event_id"].tolist(),
                               out["end_event_id"].tolist()))
        assert got == want, (stages, seq, got, want)


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy,
       horizons=st.integers(1, 3))
def test_cep_chunked_fork_loop_equals_unchunked(spark, rows, horizons):
    """Exact time-chunking extends to the BOUNDED LOOP family (round
    9): a loop match is also a function of its anchor alone, so the
    chunked compile with the owned-anchor gate plus the loop array
    must equal both the plain fork-loop fold and the brute-force match
    enumeration — boundary-straddling loop extensions included (a
    close in the overlap region extends anchors owned by the previous
    chunk)."""
    pat = (Pattern.begin("a", "view").followed_by("b", "click")
           .followed_by("c", "purchase").one_or_more()
           .within("12 hours").no_skip())
    df = _mk(spark, rows)
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    chunked = {r["user_id"]: r["n_matches"] for r in
               (env.from_dataframe(df).key_by("user_id")
                .pattern(pat, chunked=True, chunk_horizons=horizons)
                .to_df().collect())}
    plain = _run(spark, df, pat)
    assert chunked == plain
    want = {u: _brute_fork_loop(seq, ["view", "click", "purchase"],
                                12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert chunked == {u: n for u, n in want.items() if n > 0}


def _ref_veto_relaxed(seq, begin_ty, veto_ty, close_ty):
    """Skip-past-last single-anchor machine with a mid-pattern
    not_followed_by veto on the closing await."""
    stage = cnt = 0
    for _, ty in seq:
        if stage == 0:
            if ty == begin_ty:
                stage = 1
        else:
            if ty == close_ty:
                cnt, stage = cnt + 1, 0
            elif ty == veto_ty:
                stage = 1 if ty == begin_ty else 0
    return cnt


def _ref_veto_fork(seq, begin_ty, veto_ty, close_ty, within_min):
    """noSkip forking machine with the veto drain."""
    anchors: list[int] = []
    cnt = 0
    for m, ty in seq:
        anchors = [a for a in anchors if m - a <= within_min]
        if ty == close_ty:
            cnt += len(anchors)
            anchors = []
        elif ty == veto_ty:
            anchors = []
        if ty == begin_ty:
            anchors.append(m)
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_veto_relaxed_matches_python_nfa(spark, rows):
    """Mid-pattern not_followed_by (round 9): begin(view)
    .not_followed_by(other).followed_by(purchase) under skip-past-last
    — the veto machine must equal the independent pure-Python
    automaton on random sequences."""
    pat = (Pattern.begin("v", "view").not_followed_by("x", "other")
           .followed_by("p", "purchase"))
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_veto_relaxed(seq, "view", "other", "purchase")
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_veto_fork_matches_python_nfa(spark, rows):
    """Mid-pattern not_followed_by on the FORKING machine: a veto
    event drains every open anchor awaiting the close (noSkip +
    within)."""
    pat = (Pattern.begin("v", "view").not_followed_by("x", "other")
           .followed_by("p", "purchase").within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_veto_fork(seq, "view", "other", "purchase",
                              12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_absence_chain_matches_brute_force(spark, rows):
    """Anchored-chain absence (round 9): begin(view).followed_by(click)
    .not_followed_by(purchase).within(12h) — the prefix-extraction +
    anti-join composition must equal a brute-force replay: bounded
    skip-past-last view→click matches with no purchase in
    (t_click, t_view + 12h]."""
    pat = (Pattern.begin("a", "view").followed_by("b", "click")
           .not_followed_by("x", "purchase").within("12 hours"))
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    got = {(r["user_id"], r["anchor_id"]) for r in
           (env.from_dataframe(_mk(spark, rows)).key_by("user_id")
            .pattern(pat).to_df().collect())}

    w = 12 * 60
    want = set()
    per = {}
    for i, (u, m, t) in enumerate(rows):
        per.setdefault(u, []).append((m, i, TYPES[t]))
    for u, evs in per.items():
        seq = sorted(evs)
        stage, a_m, a_id = 0, 0, 0
        matches = []  # (anchor_id, a_m, e_m)
        for m, i, ty in seq:
            if stage == 1 and m - a_m > w:
                stage = 0
            if stage == 0 and ty == "view":
                stage, a_m, a_id = 1, m, i
            elif stage == 1 and ty == "click":
                matches.append((a_id, a_m, m))
                stage = 0
        for a_id, a_m, e_m in matches:
            if not any(ty == "purchase" and e_m < m2 <= a_m + w
                       for m2, _, ty in seq):
                want.add((u, a_id))
    assert got == want


# -- where()/or_where() stage predicates (round 9) ---------------------

# (user, minute-offset, type-index, value 0..200): values exercise the
# predicate thresholds on both sides
seq_val_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 5000),
              st.integers(0, 3), st.integers(0, 200)),
    min_size=1, max_size=35)


def _mk_val(spark, rows):
    data = [(u, BASE + dt.timedelta(minutes=m), i, TYPES[t], float(v))
            for i, (u, m, t, v) in enumerate(rows)]
    return spark.createDataFrame(
        data, "user_id int, ts timestamp, event_id long, "
              "event_type string, value double")


def _per_user_ordered_val(rows):
    per = {}
    for i, (u, m, t, v) in enumerate(rows):
        per.setdefault(u, []).append((m, i, TYPES[t], v))
    return {u: [(m, ty, v) for m, _, ty, v in sorted(evs)]
            for u, evs in per.items()}


def _ref_relaxed_within_pred(seq, preds, within_min):
    """Single-anchor expire-then-step machine over predicate stages —
    the pure-Python twin of cep._relaxed_machine (within()) with masks."""
    K = len(preds)
    stage, cnt, anchor = 0, 0, 0
    for m, ty, v in seq:
        if stage > 0 and m - anchor > within_min:
            stage = 0
        if preds[stage](ty, v):
            if stage == 0:
                anchor = m
            stage += 1
            if stage == K:
                cnt, stage = cnt + 1, 0
    return cnt


def _ref_fork_pred2(seq, p1, p2, within_min):
    """K=2 forking NFA over OVERLAPPING predicates with the engine's
    pre-event-snapshot discipline: a close event counts the open
    anchors BEFORE it may itself re-anchor."""
    s1, cnt = [], 0
    for m, ty, v in seq:
        s1 = [a for a in s1 if m - a <= within_min]
        hit1, hit2 = p1(ty, v), p2(ty, v)
        if hit2:
            cnt += len(s1)
        base = [] if hit2 else s1
        s1 = base + ([m] if hit1 else [])
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_where_bounded_matches_python_nfa(spark, rows):
    """Disjoint predicate stages on the bounded single-anchor machine
    (q_cep_where's shape at property scale)."""
    pat = (Pattern.begin("a", "view").where("value >= 50")
           .followed_by("b", "click")
           .followed_by("c", "purchase").where("value >= 100")
           .within("48 hours"))
    got = _run(spark, _mk_val(spark, rows), pat)
    preds = [lambda ty, v: ty == "view" and v >= 50,
             lambda ty, v: ty == "click",
             lambda ty, v: ty == "purchase" and v >= 100]
    want = {u: _ref_relaxed_within_pred(seq, preds, 48 * 60)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_where_overlap_fork_matches_python_nfa(spark, rows):
    """OVERLAPPING predicates on the fork machine: a value>=120 view
    satisfies BOTH stage conditions — two live bits in one event mask;
    it must count the open anchors and re-anchor itself in one
    pre-snapshot step (q_cep_where_overlap's shape)."""
    pat = (Pattern.begin("a", "view").where("value >= 20")
           .followed_by("b", "view").where("value >= 120")
           .within("12 hours").no_skip())
    got = _run(spark, _mk_val(spark, rows), pat)
    want = {u: _ref_fork_pred2(
                seq,
                lambda ty, v: ty == "view" and v >= 20,
                lambda ty, v: ty == "view" and v >= 120,
                12 * 60)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_or_where_matches_python_nfa(spark, rows):
    """or_where alternatives + a where refinement on the UNBOUNDED
    skip-past-last machine: anchor = view OR other, close = purchase
    with value >= 100."""
    pat = (Pattern.begin("a", "view")
           .or_where("event_type = 'other'")
           .followed_by("p", "purchase").where("value >= 100"))
    got = _run(spark, _mk_val(spark, rows), pat)

    def ref(seq):
        stage, cnt = 0, 0
        for m, ty, v in seq:
            if stage == 0 and ty in ("view", "other"):
                stage = 1
            elif stage == 1 and ty == "purchase" and v >= 100:
                cnt, stage = cnt + 1, 0
        return cnt

    want = {u: ref(seq)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


# -- optional() / times(a, b) union-of-variants (round 9) --------------

def _ref_fork_snap(seq, preds, within_min):
    """Generic noSkip fork reference with the engine's pre-event
    snapshot discipline, predicate stages, any K >= 1."""
    K = len(preds)
    if K == 1:
        return sum(1 for m, ty in seq if preds[0](ty))
    sets = [[] for _ in range(K - 1)]
    cnt = 0
    for m, ty in seq:
        if within_min is not None:
            sets = [[a for a in s if m - a <= within_min]
                    for s in sets]
        hit = [p(ty) for p in preds]
        snap = [list(s) for s in sets]
        if hit[K - 1]:
            cnt += len(snap[K - 2])
        for i in range(K - 2, -1, -1):
            base = [] if hit[i + 1] else snap[i]
            if hit[i]:
                base = base + ([m] if i == 0 else snap[i - 1])
            sets[i] = base
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_optional_union_matches_python_nfa(spark, rows):
    """optional() middle stage == sum of the with- and without-variant
    fork counts (q_cep_optional's shape), including an optional BEGIN
    whose dropped variant is a 1-stage count."""
    v = lambda ty: ty == "view"
    c = lambda ty: ty == "click"
    p = lambda ty: ty == "purchase"
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click").optional()
           .followed_by("p", "purchase")
           .within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_fork_snap(seq, [v, c, p], 12 * 60)
            + _ref_fork_snap(seq, [v, p], 12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}

    pat2 = (Pattern.begin("v", "view").optional()
            .followed_by("p", "purchase")
            .within("12 hours").no_skip())
    got2 = _run(spark, _mk(spark, rows), pat2)
    want2 = {u: _ref_fork_snap(seq, [v, p], 12 * 60)
             + _ref_fork_snap(seq, [p], None)
             for u, seq in _per_user_ordered(rows).items()}
    assert got2 == {u: n for u, n in want2.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_times_range_union_matches_python_nfa(spark, rows):
    """times(1, 2) == sum of the times(1) and times(2) variant fork
    counts; the 2-copy variant repeats the stage type, driving the
    one-event-two-stages snapshot path (q_cep_times_range's shape)."""
    c = lambda ty: ty == "click"
    p = lambda ty: ty == "purchase"
    pat = (Pattern.begin("c", "click").times(1, 2)
           .followed_by("p", "purchase")
           .within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_fork_snap(seq, [c, p], 12 * 60)
            + _ref_fork_snap(seq, [c, c, p], 12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


# -- followed_by_any counting DP (round 9) -----------------------------

def _brute_subseq(seq, types, within_min=None):
    """Independent brute force: enumerate ALL increasing subsequences
    matching `types`, every bound event within the horizon of the
    first (recursion over candidate positions — no DP, no counters)."""
    idx = [[i for i, e in enumerate(seq) if e[1] == t] for t in types]
    n = 0

    def rec(stage, last_i, first_m):
        nonlocal n
        if stage == len(types):
            n += 1
            return
        for i in idx[stage]:
            if i <= last_i:
                continue
            m = seq[i][0]
            if within_min is not None and stage > 0 \
                    and m - first_m > within_min:
                continue
            rec(stage + 1, i, m if stage == 0 else first_m)

    rec(0, -1, None)
    return n


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_any_dp_matches_brute_force(spark, rows):
    """Unbounded followedByAny: the K-counter DP equals brute-force
    subsequence enumeration (q_cep_followed_by_any's shape)."""
    pat = (Pattern.begin("v", "view")
           .followed_by_any("c", "click")
           .followed_by_any("p", "purchase")
           .no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _brute_subseq(seq, ["view", "click", "purchase"])
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_any_table_matches_brute_force(spark, rows):
    """Bounded followedByAny: the anchor-aligned partial-count table
    equals brute-force enumeration with the anchor-horizon rule
    (q_cep_followed_by_any_within's shape), including repeated types
    via times(2) expansion."""
    pat = (Pattern.begin("v", "view")
           .followed_by_any("c", "click")
           .followed_by_any("p", "purchase")
           .within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _brute_subseq(seq, ["view", "click", "purchase"],
                             12 * 60)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}

    pat2 = (Pattern.begin("v", "view")
            .followed_by_any("c", "click").times(2)
            .within("12 hours").no_skip())
    got2 = _run(spark, _mk(spark, rows), pat2)
    want2 = {u: _brute_subseq(seq, ["view", "click", "click"],
                              12 * 60)
             for u, seq in _per_user_ordered(rows).items()}
    assert got2 == {u: n for u, n in want2.items() if n > 0}


# -- where_rel anchor-relative conditions (round 9) --------------------

@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_where_rel_matches_python_nfa(spark, rows):
    """Anchor-relative conditions on the single-anchor machines: the
    fold's carried anchor value must gate the await exactly like the
    pure-Python reference — bounded and unbounded, with a scale
    factor, and composed with a static where() on the anchor."""
    pat = (Pattern.begin("v", "view").where("value >= 30")
           .followed_by("p", "purchase")
           .where_rel("value", ">=", "value", scale=1.5)
           .within("12 hours"))
    got = _run(spark, _mk_val(spark, rows), pat)

    def ref(seq, w):
        stage, cnt, at, av = 0, 0, 0, 0.0
        for m, ty, v in seq:
            if w is not None and stage > 0 and m - at > w:
                stage = 0
            if stage == 0 and ty == "view" and v >= 30:
                stage, at, av = 1, m, v
            elif stage == 1 and ty == "purchase" and v >= 1.5 * av:
                cnt, stage = cnt + 1, 0
        return cnt

    want = {u: ref(seq, 12 * 60)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}

    pat2 = (Pattern.begin("v", "view")
            .followed_by("p", "purchase")
            .where_rel("value", "<", "value"))
    got2 = _run(spark, _mk_val(spark, rows), pat2)

    def ref2(seq):
        stage, cnt, av = 0, 0, 0.0
        for m, ty, v in seq:
            if stage == 0 and ty == "view":
                stage, av = 1, v
            elif stage == 1 and ty == "purchase" and v < av:
                cnt, stage = cnt + 1, 0
        return cnt

    want2 = {u: ref2(seq)
             for u, seq in _per_user_ordered_val(rows).items()}
    assert got2 == {u: n for u, n in want2.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_any_dp_with_predicates_matches_brute_force(spark, rows):
    """followed_by_any composed with where() predicates: the DP's
    stage bits come from the same condition mask, so a value-refined
    any-pattern must equal brute-force enumeration over the predicate
    stages (including the overlap case: every big view is also a
    plain view)."""
    pat = (Pattern.begin("v", "view")
           .followed_by_any("b", "view").where("value >= 120")
           .no_skip())
    got = _run(spark, _mk_val(spark, rows), pat)

    def brute(seq):
        n = views = 0
        for _, ty, v in seq:
            if ty == "view":
                if v >= 120:
                    n += views  # pairs (earlier view, this big view)
                views += 1
        return n

    want = {u: brute(seq)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: c for u, c in want.items() if c > 0}


# -- AfterMatchSkipStrategy variants (round 10) ------------------------

def _per_user_with_ids(rows):
    """events per user in (ts, event_id) order → (minute, id, type)."""
    per = {}
    for i, (u, m, t) in enumerate(rows):
        per.setdefault(u, []).append((m, i, TYPES[t]))
    return {u: sorted(evs) for u, evs in per.items()}


def _ref_skip_strategy(evs, stages, within_min, mode, jn=None):
    """INDEPENDENT reference for the skip-strategy machines, written
    at a higher level than the engine's fold: (1) enumerate the noSkip
    candidates — ONE per anchor at most, since Flink's followedBy run
    binds the first qualifying event per stage INCLUDING the close
    (the engine's penultimate set drains on close: one close may
    complete several anchors, but an anchor never re-closes); every
    element must lie within the anchor's horizon; (2) replay the
    kill-interval pruning over candidates in (end, start) order.
    Returns kept [(start_id, end_id)] in emission order."""
    K = len(stages)
    n = len(evs)
    cands = []
    for ai in range(n):
        ma, _, tya = evs[ai]
        if tya != stages[0]:
            continue
        chain = [ai]
        ok = True
        for s in range(1, K):
            nxt = next(
                (i for i in range(chain[-1] + 1, n)
                 if evs[i][2] == stages[s]
                 and (within_min is None or evs[i][0] - ma <= within_min)),
                None)
            if nxt is None:
                ok = False
                break
            chain.append(nxt)
        if not ok:
            continue
        cands.append((chain[-1], ai, tuple(chain[:-1])))
    cands.sort()
    kept, kills = [], []
    for end, start, chain in cands:
        if any(lo <= start <= hi for lo, hi in kills):
            continue
        kept.append((evs[start][1], evs[end][1]))
        if mode == "to_next":
            kills.append((start, start))
        elif mode == "past_last_event":
            kills.append((start, end))
        else:
            named = chain[jn] if jn is not None and jn < K - 1 else end
            kills.append((start + 1, named - 1))
    return kept


def _run_matches(spark, df, pat):
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    rows = (env.from_dataframe(df).key_by("user_id")
            .pattern_matches(pat).to_df()
            .orderBy("user_id", "match_no").collect())
    per = {}
    for r in rows:
        per.setdefault(r["user_id"], []).append(
            (r["start_event_id"], r["end_event_id"]))
    return per


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_skip_to_next_matches_brute_force(spark, rows):
    """skip_to_next == noSkip enumeration keeping only the first-
    completing match per start event (point kills)."""
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("12 hours").skip_to_next())
    got = _run_matches(spark, _mk(spark, rows), pat)
    want = {u: _ref_skip_strategy(evs, ["view", "click", "purchase"],
                                  720, "to_next")
            for u, evs in _per_user_with_ids(rows).items()}
    assert got == {u: m for u, m in want.items() if m}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_skip_past_last_event_matches_brute_force(spark, rows):
    """skip_past_last_event == noSkip enumeration pruned by the
    [start, end] kill interval — Flink's exact NFA discard rule."""
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase")
           .within("12 hours").skip_past_last_event())
    got = _run_matches(spark, _mk(spark, rows), pat)
    want = {u: _ref_skip_strategy(evs, ["view", "click", "purchase"],
                                  720, "past_last_event")
            for u, evs in _per_user_with_ids(rows).items()}
    assert got == {u: m for u, m in want.items() if m}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_skip_to_first_last_match_brute_force(spark, rows):
    """skip_to_first/skip_to_last on a times(2) stage: the quantified
    name binds one event per expanded copy, so first/last reference
    the first/second click's position — the kill ranges differ and
    both must equal the brute-force replay."""
    stages = ["view", "click", "click", "purchase"]
    per = _per_user_with_ids(rows)
    for mode, jn in (("to_first", 1), ("to_last", 2)):
        pat = (Pattern.begin("v", "view")
               .followed_by("c", "click").times(2)
               .followed_by("p", "purchase")
               .within("12 hours"))
        pat = (pat.skip_to_first("c") if mode == "to_first"
               else pat.skip_to_last("c"))
        got = _run_matches(spark, _mk(spark, rows), pat)
        want = {u: _ref_skip_strategy(evs, stages, 720, mode, jn)
                for u, evs in per.items()}
        assert got == {u: m for u, m in want.items() if m}, mode


def test_skip_past_last_event_vs_default_machine(spark):
    """The documented divergence between the engine's default
    `past_last` single-run machine and Flink's exact skipPastLastEvent
    (the skip_past_last_event verb): when an anchor expires mid-run, a
    begin event that arrived during the stale anchor's tenure never
    anchors the single-run machine — but it DOES fork an NFA run,
    which can complete. v@0 (expires), v@500 (shadowed), c@900,
    p@1000, within 12h: the single-run machine emits NOTHING (at c@900
    the stale anchor resets and the click cannot re-anchor); the NFA
    emits (v@500, p@1000)."""
    rows = [(0, 0, 0), (0, 500, 0), (0, 900, 1), (0, 1000, 2)]
    df = _mk(spark, rows)
    base = (Pattern.begin("v", "view").followed_by("c", "click")
            .followed_by("p", "purchase").within("12 hours"))
    assert _run_matches(spark, df, base) == {}
    nfa = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase").within("12 hours")
           .skip_past_last_event())
    assert _run_matches(spark, df, nfa) == {0: [(1, 3)]}


def test_skip_strategy_refusals(spark):
    """skip_to_* scope edges refuse loudly: strict next() stages,
    one_or_more, followed_by_any, not_followed_by, unknown stage name,
    skip_to_first of the begin stage, and streaming."""
    import pytest

    pats = [
        (NotImplementedError, "strict next",
         lambda: Pattern.begin("v", "view").next("c", "click")
         .skip_to_next()._family()),
        (NotImplementedError, "one_or_more",
         lambda: Pattern.begin("v", "view")
         .followed_by("c", "click").one_or_more()
         .within("1 hours").skip_to_next()._family()),
        (NotImplementedError, "followed_by_any",
         lambda: Pattern.begin("v", "view")
         .followed_by_any("c", "click").skip_to_next()._family()),
        (NotImplementedError, "not_followed_by",
         lambda: Pattern.begin("v", "view")
         .not_followed_by("c", "click").within("1 hours")
         .skip_to_next()._family()),
        (ValueError, "references no stage",
         lambda: Pattern.begin("v", "view")
         .followed_by("c", "click").skip_to_last("zz")._family()),
        (ValueError, "begin stage",
         lambda: Pattern.begin("v", "view")
         .followed_by("c", "click").skip_to_first("v")._family()),
    ]
    for exc, msg, fn in pats:
        with pytest.raises(exc, match=msg):
            fn()


# -- until() / greedy() on the bounded loop (round 10) -----------------

def _ref_fork_loop_until(seq, stages, within_min, until_ty):
    """Independent reference for the bounded fork-loop WITH an until()
    stop condition: the forking machine plus one parked-loop list,
    all transitions reading the pre-event snapshot — a close COUNTS
    the awaiting set and the parked loop, parks the awaiting set, and
    DRAINS it (each anchor counts once per close, then re-counts from
    the loop at every later close); an until-type event clears the
    loop-stage sets (awaiting-first and parked) and is never admitted,
    even if it also matches the loop type."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]
    lp = []
    cnt = 0
    for m, ty in seq:
        if within_min is not None:
            sets = [[a for a in s if m - a <= within_min] for s in sets]
            lp = [a for a in lp if m - a <= within_min]
        match = [ty == stages[i] for i in range(K)]
        iu = ty == until_ty
        old = [list(s) for s in sets]
        if match[K - 1] and not iu:
            if K >= 2:
                cnt += len(old[K - 2]) + len(lp)
                lp = lp + old[K - 2]
            else:
                cnt += 1 + len(lp)
                lp = lp + [m]
        for i in range(K - 2, -1, -1):
            base = [] if match[i + 1] else old[i]
            if match[i] and not (iu and i == K - 2):
                base = base + ([m] if i == 0 else old[i - 1])
            sets[i] = base
        if iu:
            lp = []
            if K >= 2:
                sets[K - 2] = []
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_until_matches_brute_force(spark, rows):
    """one_or_more().until(stop) on the bounded loop: the engine's
    until-bit kill must equal an independently-coded loop machine with
    the same stop semantics — K=2 (anchor set IS the loop-awaiting
    set) and K=3 both."""
    pat2 = (Pattern.begin("v", "view")
            .followed_by("p", "purchase").one_or_more()
            .until("event_type = 'click'")
            .within("12 hours").no_skip())
    got2 = _run(spark, _mk(spark, rows), pat2)
    want2 = {u: _ref_fork_loop_until(seq, ["view", "purchase"], 720,
                                     "click")
             for u, seq in _per_user_ordered(rows).items()}
    assert got2 == {u: n for u, n in want2.items() if n > 0}

    pat3 = (Pattern.begin("v", "view")
            .followed_by("c", "click")
            .followed_by("p", "purchase").one_or_more()
            .until("event_type = 'other'")
            .within("12 hours").no_skip())
    got3 = _run(spark, _mk(spark, rows), pat3)
    want3 = {u: _ref_fork_loop_until(
        seq, ["view", "click", "purchase"], 720, "other")
        for u, seq in _per_user_ordered(rows).items()}
    assert got3 == {u: n for u, n in want3.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_greedy_is_noop_on_final_loop(spark, rows):
    """greedy() [FLINK-API: Pattern#greedy — documented as having no
    effect on the LAST stage of a pattern]: counts with and without
    the marker must be identical on the bounded loop."""
    base = (Pattern.begin("v", "view")
            .followed_by("p", "purchase").one_or_more()
            .within("12 hours").no_skip())
    g = (Pattern.begin("v", "view")
         .followed_by("p", "purchase").one_or_more().greedy()
         .within("12 hours").no_skip())
    df = _mk(spark, rows)
    assert _run(spark, df, base) == _run(spark, df, g)


def test_until_greedy_refusals(spark):
    """until()/greedy() attachment rules refuse loudly."""
    import pytest

    with pytest.raises(ValueError, match="one_or_more"):
        Pattern.begin("v", "view").followed_by("p", "purchase") \
            .until("event_type = 'error'")
    with pytest.raises(NotImplementedError, match="one until"):
        (Pattern.begin("v", "view")
         .followed_by("p", "purchase").one_or_more()
         .until("a = 1").until("b = 2"))
    with pytest.raises(ValueError, match="quantified"):
        Pattern.begin("v", "view").followed_by("p", "purchase").greedy()
    # r13 LIFTED the until() extraction refusal on the fork-loop
    # shape (bindings ride the count fold's kill rules); chunked
    # still refuses
    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern_chunked, compile_pattern_matches,
    )
    df = _mk(spark, [(0, 0, 0), (0, 1, 2)])
    upat = (Pattern.begin("v", "view")
            .followed_by("p", "purchase").one_or_more()
            .until("event_type = 'error'")
            .within("12 hours").no_skip())
    assert compile_pattern_matches(
        upat, df, ["user_id"], "ts", "event_id",
        "event_type").columns == ["user_id", "match_no",
                                  "start_event_id", "end_event_id",
                                  "span_us"]
    with pytest.raises(NotImplementedError, match="chunked"):
        compile_pattern_chunked(upat, df, ["user_id"], "ts",
                                "event_id", "event_type")


# -- where_rel on the forking family (round 10) ------------------------

def _ref_fork_rel(seq, stages, within_min, rels):
    """Independent reference for the fork machine with per-anchor
    payloads: rels[i] (0-based stage) is a python predicate
    (event_value, anchor_value) -> bool or None; qualifying anchors
    promote/complete and are consumed, the rest stay awaiting."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]  # entries (minute, anchor_value)
    cnt = 0
    for m, ty, v in seq:
        if within_min is not None:
            sets = [[a for a in s if m - a[0] <= within_min]
                    for s in sets]
        match = [ty == stages[i] for i in range(K)]

        def ok(i, a):  # 1-based stage i
            r = rels[i - 1]
            return True if r is None else r(v, a[1])

        old = [list(s) for s in sets]
        if match[K - 1]:
            cnt += sum(1 for a in old[K - 2] if ok(K, a))
        for i in range(1, K):
            j = i - 1
            kept = ([a for a in old[j] if not ok(i + 1, a)]
                    if match[i] else old[j])
            incoming = []
            if match[i - 1]:
                if i == 1:
                    incoming = [(m, v)]
                else:
                    src = old[j - 1]
                    incoming = ([a for a in src if ok(i, a)]
                                if rels[i - 1] is not None else src)
            sets[j] = kept + incoming
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_fork_rel_matches_brute_force(spark, rows):
    """where_rel on the fork family: K=2 (close consumes qualifying
    anchors only) and K=3 (rel on the MIDDLE stage — partial
    promotion, non-qualifying anchors keep awaiting) must equal the
    independently-coded per-anchor machine."""
    pat2 = (Pattern.begin("v", "view")
            .followed_by("p", "purchase")
            .where_rel("value", ">", "value")
            .within("12 hours").no_skip())
    got2 = _run(spark, _mk_val(spark, rows), pat2)
    want2 = {u: _ref_fork_rel(seq, ["view", "purchase"], 720,
                              [None, lambda e, a: e > a])
             for u, seq in _per_user_ordered_val(rows).items()}
    assert got2 == {u: n for u, n in want2.items() if n > 0}

    pat3 = (Pattern.begin("v", "view")
            .followed_by("c", "click")
            .where_rel("value", ">=", "value", scale=0.5)
            .followed_by("p", "purchase")
            .within("12 hours").no_skip())
    got3 = _run(spark, _mk_val(spark, rows), pat3)
    want3 = {u: _ref_fork_rel(
        seq, ["view", "click", "purchase"], 720,
        [None, lambda e, a: e >= a * 0.5, None])
        for u, seq in _per_user_ordered_val(rows).items()}
    assert got3 == {u: n for u, n in want3.items() if n > 0}


# -- not_next strict absence (round 10) --------------------------------

def _ref_not_next(evs, stages, within_min, neg_ty):
    """Independent reference for notNext: run the skip-past-last
    prefix automaton (greedy chain per _ref_skip_strategy's model for
    the DEFAULT machine — single run, expiry resets); each completed
    prefix survives iff the next event in sequence is absent or not
    neg_ty. For K=2 prefixes every anchor-type event is its own
    prefix match."""
    K = len(stages)
    out = []
    if K == 1:
        ends = [i for i, (_, _, ty) in enumerate(evs)
                if ty == stages[0]]
        starts = ends
    else:
        # single-run skip-past-last machine over the prefix
        ends, starts = [], []
        stage, a_i, a_m = 0, 0, 0
        for i, (m, _, ty) in enumerate(evs):
            if stage > 0 and within_min is not None \
                    and m - a_m > within_min:
                stage = 0
            if ty == stages[stage]:
                if stage == 0:
                    a_i, a_m = i, m
                stage += 1
                if stage == K:
                    starts.append(a_i)
                    ends.append(i)
                    stage = 0
    for s, e in zip(starts, ends):
        if e + 1 >= len(evs) or evs[e + 1][2] != neg_ty:
            out.append((evs[s][1], ))
    return sorted(out)


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_not_next_matches_brute_force(spark, rows):
    """notNext survivors == the prefix machine's matches minus those
    whose immediately-next event matches the negative type — K=2
    (anchors directly) and K=3 (through the prefix match extraction)."""
    from flink_tutorial_broadcast_spark.cep import compile_pattern

    per = _per_user_with_ids(rows)

    pat2 = Pattern.begin("v", "view").not_next("p", "purchase")
    got2 = {}
    for r in compile_pattern(pat2, _mk(spark, rows), ["user_id"],
                             "ts", "event_id", "event_type").collect():
        got2.setdefault(r["user_id"], []).append((r["anchor_id"],))
    want2 = {u: _ref_not_next(evs, ["view"], None, "purchase")
             for u, evs in per.items()}
    assert {u: sorted(v) for u, v in got2.items()} == \
        {u: m for u, m in want2.items() if m}

    pat3 = (Pattern.begin("v", "view").followed_by("c", "click")
            .not_next("p", "purchase").within("12 hours"))
    got3 = {}
    for r in compile_pattern(pat3, _mk(spark, rows), ["user_id"],
                             "ts", "event_id", "event_type").collect():
        got3.setdefault(r["user_id"], []).append((r["anchor_id"],))
    want3 = {u: _ref_not_next(evs, ["view", "click"], 720, "purchase")
             for u, evs in per.items()}
    assert {u: sorted(v) for u, v in got3.items()} == \
        {u: m for u, m in want3.items() if m}


def test_not_next_refusals(spark):
    """not_next attachment/scope rules refuse loudly."""
    import pytest

    with pytest.raises(NotImplementedError, match="terminal"):
        Pattern.begin("v", "view").not_next("p", "purchase") \
            .followed_by("x", "click")
    with pytest.raises(NotImplementedError, match="skip-past-last"):
        (Pattern.begin("v", "view").not_next("p", "purchase")
         .no_skip()._family())
    with pytest.raises(NotImplementedError, match="quantified"):
        (Pattern.begin("v", "view").not_next("p", "purchase")
         .times(2)._family())


# -- zeroOrMore (round 10) ---------------------------------------------

@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_zero_or_more_matches_brute_force(spark, rows):
    """zeroOrMore == one empty-loop match per completed prefix PLUS
    the bounded fork-loop counts — checked against an independent
    composition (anchor count + the loop reference), K=2 and K=3."""
    pat2 = (Pattern.begin("v", "view")
            .followed_by("p", "purchase").one_or_more().optional()
            .within("12 hours").no_skip())
    got2 = _run(spark, _mk(spark, rows), pat2)
    want2 = {}
    for u, seq in _per_user_ordered(rows).items():
        empty = sum(1 for _, ty in seq if ty == "view")
        loop = _ref_fork_loop_until(seq, ["view", "purchase"], 720,
                                    "__never__")
        want2[u] = empty + loop
    assert got2 == {u: n for u, n in want2.items() if n > 0}

    pat3 = (Pattern.begin("v", "view")
            .followed_by("c", "click")
            .followed_by("p", "purchase").one_or_more().optional()
            .within("12 hours").no_skip())
    got3 = _run(spark, _mk(spark, rows), pat3)
    want3 = {}
    for u, seq in _per_user_ordered(rows).items():
        empty = _ref_fork(seq, ["view", "click"], 720)
        loop = _ref_fork_loop_until(
            seq, ["view", "click", "purchase"], 720, "__never__")
        want3[u] = empty + loop
    assert got3 == {u: n for u, n in want3.items() if n > 0}


def test_zero_or_more_streaming_gate_edges(spark):
    """r11 replaced the blanket streaming-zeroOrMore refusal with the
    side-by-side stepper; the remaining refusal edges (mid-pattern
    optional, rel conditions, non-fork_loop shapes) still raise."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import compile_pattern_stream

    sdf = (spark.readStream.format("rate").load()
           .selectExpr("CAST(value AS LONG) AS user_id",
                       "timestamp AS ts", "value AS event_id",
                       "'view' AS event_type",
                       "CAST(value AS DOUBLE) AS value"))
    pat_mid = (Pattern.begin("v", "view")
               .followed_by("c", "click").optional()
               .followed_by("p", "purchase").one_or_more().optional()
               .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="non-final"):
        compile_pattern_stream(pat_mid, sdf, ["user_id"], "ts",
                               "event_id", "event_type")
    pat_rel = (Pattern.begin("v", "view")
               .followed_by("p", "purchase").one_or_more()
               .where_rel("value", ">", "value").optional()
               .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="zeroOrMore"):
        compile_pattern_stream(pat_rel, sdf, ["user_id"], "ts",
                               "event_id", "event_type")
    pat_noskip = (Pattern.begin("v", "view")
                  .followed_by("p", "purchase").one_or_more()
                  .optional().within("12 hours"))
    with pytest.raises(NotImplementedError, match="fork-loop"):
        compile_pattern_stream(pat_noskip, sdf, ["user_id"], "ts",
                               "event_id", "event_type")


# -- where_prev (round 10) ---------------------------------------------

def _ref_relaxed_prev(seq, stages, within_min, prev_stage_idx):
    """Independent reference for where_prev on the single-anchor
    machine: stage `prev_stage_idx` (0-based, the final stage here)
    additionally requires value > the previous matched element's
    value."""
    K = len(stages)
    stage, cnt, a_m, pv = 0, 0, 0, 0.0
    for m, ty, v in seq:
        if stage > 0 and within_min is not None and m - a_m > within_min:
            stage = 0
        ok = ty == stages[stage]
        if ok and stage == prev_stage_idx:
            ok = v > pv
        if ok:
            if stage == 0:
                a_m = m
            pv = v
            stage += 1
            if stage == K:
                cnt, stage = cnt + 1, 0
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_where_prev_matches_python_nfa(spark, rows):
    """where_prev == the single-anchor automaton comparing against the
    LAST matched element (for stage 2 of a 3-stage pattern, the
    middle element — NOT the anchor)."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .where_prev("value", ">", "value")
           .within("12 hours"))
    got = _run(spark, _mk_val(spark, rows), pat)
    want = {u: _ref_relaxed_prev(seq, ["view", "click", "purchase"],
                                 720, 2)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}

    # distinguishes prev from anchor: K=2 makes them coincide, so pin
    # the K=3 case where a where_rel (anchor) pattern over the same
    # rows must NOT generally agree — equality here would suggest the
    # prev machinery silently reads the anchor. (Not an assertion of
    # inequality per-row — hypothesis finds diverging cases across
    # examples; the reference above is the hard check.)


def test_where_prev_refusals(spark):
    """r11 NOTE: the r10 no_skip refusal is LIFTED — where_prev now
    compiles on the forking family (per-anchor prev payloads; see
    test_cep_fork_prev_matches_brute_force). Remaining edge: the
    begin stage has no previous element."""
    import pytest

    with pytest.raises(NotImplementedError, match="begin"):
        Pattern.begin("v", "view").where_prev("value", ">", "value")


# -- round-11 advice fixes ----------------------------------------------

def _ref_relaxed_prev_multi(seq, stages, within_min, rel_stages):
    """Independent reference for where_prev on a QUANTIFIED stage:
    after times(n) expansion every copy compares against the element
    matched immediately before it (the canonical "each price above the
    one before" shape) — NOT against the anchor."""
    K = len(stages)
    stage, cnt, a_m, pv = 0, 0, 0, 0.0
    for m, ty, v in seq:
        if stage > 0 and within_min is not None and m - a_m > within_min:
            stage = 0
        ok = ty == stages[stage]
        if ok and stage in rel_stages:
            ok = v > pv
        if ok:
            if stage == 0:
                a_m = m
            pv = v
            stage += 1
            if stage == K:
                cnt, stage = cnt + 1, 0
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_where_prev_times_matches_python_nfa(spark, rows):
    """r11 advice fix: where_prev on a times(2) stage must evaluate
    EVERY expanded copy against the previous matched element — before
    the fix, copies 2..n silently compared against the ANCHOR's value
    (rel_src was dropped by _expanded)."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click").times(2)
           .where_prev("value", ">", "value")
           .within("12 hours"))
    got = _run(spark, _mk_val(spark, rows), pat)
    want = {u: _ref_relaxed_prev_multi(
                seq, ["view", "click", "click"], 720, {1, 2})
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def test_cep_where_prev_times_streaming_converges(spark):
    """The streaming relaxed-rel stepper shares _expanded(), so the
    rel_src fix must hold there too: converged per-key count == batch,
    with a partial match crossing the micro-batch boundary."""
    # types: 0=view 1=click. Group 1 (minutes 0-2) matches under the
    # OLD anchor-compare bug (15 > view's 10) but NOT under prev
    # semantics (15 < click's 20); the within() horizon then expires
    # the stuck run, and group 2 (minutes 800-802, across the
    # micro-batch boundary) is a genuine prev-ascending chain.
    rows = [(0, 0, 0, 10), (0, 1, 1, 20), (0, 2, 1, 15),
            (0, 800, 0, 3), (0, 801, 1, 4), (0, 802, 1, 11)]
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click").times(2)
           .where_prev("value", ">", "value")
           .within("12 hours"))
    df = _mk_val(spark, rows)
    batch = _run(spark, df, pat)
    assert batch == {0: 1}

    from flink_tutorial_broadcast_spark.cep import compile_pattern_stream
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )
    from flink_tutorial_broadcast_spark.streaming.sources import (
        two_file_stream,
    )
    sdf, _ = two_file_stream(spark, df, "prev_times_stream_",
                             cut=BASE + dt.timedelta(minutes=400))
    out = compile_pattern_stream(pat, sdf, ["user_id"], "ts",
                                 "event_id", "event_type")
    last: dict[int, int] = {}
    for r in _run_to_memory(out, "update").collect():
        last[r["user_id"]] = max(last.get(r["user_id"], 0),
                                 r["n_matches"])
    assert {u: n for u, n in last.items() if n > 0} == batch
    assert batch  # the fixture must actually produce matches


def _ref_not_next_multi(evs, stages, within_min, neg_ty):
    """_ref_not_next generalized to an arbitrary expanded prefix —
    reused here for the quantified-prefix pin."""
    return _ref_not_next(evs, stages, within_min, neg_ty)


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_not_next_quantified_prefix(spark, rows):
    """r11 advice fix: begin(v).times(2).not_next(p) must run the
    TWO-view prefix machine — the old len==2 fast path silently tested
    single views."""
    from flink_tutorial_broadcast_spark.cep import compile_pattern

    pat = (Pattern.begin("v", "view").times(2)
           .not_next("p", "purchase"))
    got = {}
    for r in compile_pattern(pat, _mk(spark, rows), ["user_id"],
                             "ts", "event_id", "event_type").collect():
        got.setdefault(r["user_id"], []).append((r["anchor_id"],))
    want = {u: _ref_not_next_multi(evs, ["view", "view"], None,
                                   "purchase")
            for u, evs in _per_user_with_ids(rows).items()}
    assert {u: sorted(v) for u, v in got.items()} == \
        {u: m for u, m in want.items() if m}


def test_zero_or_more_mid_optional_refuses(spark):
    """r11 advice fix: zeroOrMore with a NON-final optional() stage
    undercounted (the loop addend silently required the optional
    stage) — now a loud refusal."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import compile_pattern

    df = _mk(spark, [(0, 0, 0)])
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click").optional()
           .followed_by("p", "purchase").one_or_more().optional()
           .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="non-final"):
        compile_pattern(pat, df, ["user_id"], "ts", "event_id",
                        "event_type")


def test_variant_union_one_or_more_refuses(spark):
    """r11 advice fix: an optional() stage mixed with a final bounded
    one_or_more() (WITHOUT .optional()) routed to the variant union,
    which silently dropped the loop flag (loops >= 2 uncounted) — now
    a loud refusal, batch and streaming alike."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern, compile_pattern_stream,
    )

    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click").optional()
           .followed_by("p", "purchase").one_or_more()
           .within("12 hours").no_skip())
    df = _mk(spark, [(0, 0, 0)])
    with pytest.raises(NotImplementedError, match="one_or_more"):
        compile_pattern(pat, df, ["user_id"], "ts", "event_id",
                        "event_type")
    sdf = (spark.readStream.format("rate").load()
           .selectExpr("CAST(value AS LONG) AS user_id",
                       "timestamp AS ts", "value AS event_id",
                       "'view' AS event_type"))
    with pytest.raises(NotImplementedError, match="one_or_more"):
        compile_pattern_stream(pat, sdf, ["user_id"], "ts",
                               "event_id", "event_type")


# -- where_agg run-aggregate conditions (round 11) ----------------------

def _ref_relaxed_agg(seq, stages, within_min, agg_stage, fn, threshold):
    """Independent reference for where_agg on the single-anchor
    machine: stage `agg_stage` additionally requires FN(value over the
    run's matched events INCLUDING the candidate) OP threshold —
    coded imperatively (running list, recompute per test), NOT as
    registers, so a register-update bug in the engine can't be
    mirrored here."""
    import statistics
    K = len(stages)
    stage, cnt, a_m = 0, 0, 0
    run_vals: list[float] = []
    for m, ty, v in seq:
        if stage > 0 and within_min is not None and m - a_m > within_min:
            stage = 0
        ok = ty == stages[stage]
        if ok and stage == agg_stage:
            vals = run_vals + [v]
            agg = {"sum": sum, "min": min, "max": max,
                   "count": len,
                   "avg": statistics.fmean}[fn](vals)
            ok = agg < threshold
        if ok:
            if stage == 0:
                a_m, run_vals = m, []
            run_vals.append(v)
            stage += 1
            if stage == K:
                cnt, stage = cnt + 1, 0
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_where_agg_sum_matches_python_nfa(spark, rows):
    """where_agg('sum', ...) == an imperative automaton recomputing the
    run aggregate from the matched-events list each test (the engine
    carries O(1) registers — the reference deliberately does not)."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase")
           .where_agg("sum", "value", "<", 300)
           .within("12 hours"))
    got = _run(spark, _mk_val(spark, rows), pat)
    want = {u: _ref_relaxed_agg(seq, ["view", "click", "purchase"],
                                720, 2, "sum", 300)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_where_agg_max_mid_stage_matches_python_nfa(spark, rows):
    """where_agg('max', ...) attached to a MID stage (not the final
    one): the aggregate test runs where the verb was attached, and
    later stages admit unconditionally."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .where_agg("max", "value", "<", 150)
           .followed_by("p", "purchase")
           .within("12 hours"))
    got = _run(spark, _mk_val(spark, rows), pat)
    want = {u: _ref_relaxed_agg(seq, ["view", "click", "purchase"],
                                720, 1, "max", 150)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def test_where_agg_refusals(spark):
    """where_agg scope rules refuse loudly: begin stage, bad fn/op,
    doubled verb, forking family, variant union, match extraction."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern, compile_pattern_matches,
    )

    with pytest.raises(NotImplementedError, match="begin"):
        Pattern.begin("v", "view").where_agg("sum", "value", "<", 5)
    with pytest.raises(ValueError, match="fn"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .where_agg("median", "value", "<", 5))
    with pytest.raises(ValueError, match="op"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .where_agg("sum", "value", "~", 5))
    with pytest.raises(NotImplementedError, match="one where_agg"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .where_agg("sum", "value", "<", 5)
         .where_agg("max", "value", "<", 9))

    df = _mk_val(spark, [(0, 0, 0, 10)])
    pat_fork = (Pattern.begin("v", "view")
                .followed_by("p", "purchase")
                .where_agg("sum", "value", "<", 5)
                .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="single-anchor"):
        compile_pattern(pat_fork, df, ["user_id"], "ts", "event_id",
                        "event_type")
    pat_opt = (Pattern.begin("v", "view")
               .followed_by("c", "click").optional()
               .followed_by("p", "purchase")
               .where_agg("sum", "value", "<", 5)
               .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="variant union"):
        compile_pattern(pat_opt, df, ["user_id"], "ts", "event_id",
                        "event_type")
    pat_m = (Pattern.begin("v", "view")
             .followed_by("p", "purchase")
             .where_agg("sum", "value", "<", 5)
             .within("12 hours"))
    with pytest.raises(NotImplementedError, match="counts only"):
        compile_pattern_matches(pat_m, df, ["user_id"], "ts",
                                "event_id", "event_type")


# -- where_prev on the forking family (round 11) ------------------------

def _ref_fork_prev(seq, stages, within_min):
    """Independent reference for where_prev under no_skip(): forking
    NFA whose anchor entries carry (anchor_minute, prev_value); a
    promotion event refreshes prev for every run it promotes; the
    final stage requires v > prev and consumes qualifying runs."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]  # (anchor_m, prev_v)
    cnt = 0
    for m, ty, v in seq:
        if within_min is not None:
            sets = [[a for a in s if m - a[0] <= within_min]
                    for s in sets]
        old = [list(s) for s in sets]
        if ty == stages[K - 1]:
            cnt += sum(1 for a in old[K - 2] if v > a[1])
            sets[K - 2] = [a for a in old[K - 2] if not (v > a[1])]
        for i in range(1, K - 1):
            if ty == stages[i]:
                sets[i] = sets[i] + [(a[0], v) for a in old[i - 1]]
                sets[i - 1] = []
        if ty == stages[0]:
            sets[0] = sets[0] + [(m, v)]
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_fork_prev_matches_brute_force(spark, rows):
    """r11 (lifts the L178 refusal): where_prev under no_skip() == a
    forking automaton whose per-anchor payload carries the prev value,
    refreshed at promotion. K=3 (view->click->purchase) distinguishes
    prev (the click) from the anchor (the view); K=2 must coincide
    with where_rel's fork count (prev IS the anchor there)."""
    pat3 = (Pattern.begin("v", "view")
            .followed_by("c", "click")
            .followed_by("p", "purchase")
            .where_prev("value", ">", "value")
            .within("12 hours").no_skip())
    got3 = _run(spark, _mk_val(spark, rows), pat3)
    want3 = {u: _ref_fork_prev(seq, ["view", "click", "purchase"], 720)
             for u, seq in _per_user_ordered_val(rows).items()}
    assert got3 == {u: n for u, n in want3.items() if n > 0}

    pat2p = (Pattern.begin("v", "view")
             .followed_by("p", "purchase")
             .where_prev("value", ">", "value")
             .within("12 hours").no_skip())
    pat2r = (Pattern.begin("v", "view")
             .followed_by("p", "purchase")
             .where_rel("value", ">", "value")
             .within("12 hours").no_skip())
    got2p = _run(spark, _mk_val(spark, rows), pat2p)
    got2r = _run(spark, _mk_val(spark, rows), pat2r)
    assert got2p == got2r


# -- pattern GROUPS (round 11) ------------------------------------------

@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_group_times_matches_python_nfa(spark, rows):
    """GroupPattern times(n) == n concatenated copies under relaxed
    contiguity: pinned against BOTH the pure-Python automaton over the
    expanded stage list and the explicitly-written flat pattern, under
    skip-past-last+within AND the forking no_skip family."""
    from flink_tutorial_broadcast_spark.cep import Pattern as P

    sub = P.begin("v", "view").followed_by("c", "click")
    pat = (P.begin_group(sub).times(2)
           .followed_by("p", "purchase").within("12 hours"))
    got = _run(spark, _mk(spark, rows), pat)
    stages = ["view", "click", "view", "click", "purchase"]
    want = {u: _ref_relaxed_within(seq, stages, 720)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}

    sub2 = P.begin("v", "view").followed_by("c", "click")
    patf = (P.begin_group(sub2).times(2)
            .followed_by("p", "purchase").within("12 hours").no_skip())
    gotf = _run(spark, _mk(spark, rows), patf)
    flat = (P.begin("a", "view").followed_by("b", "click")
            .followed_by("a2", "view").followed_by("b2", "click")
            .followed_by("p", "purchase").within("12 hours").no_skip())
    wantf = _run(spark, _mk(spark, rows), flat)
    assert gotf == wantf


def test_group_refusals():
    """Group construction edges refuse loudly: unbounded group
    quantifiers, ranges, absence/quantifiers inside the sub-pattern,
    within()/skip on the sub-pattern, groups after not_next."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import Pattern as P

    sub = P.begin("v", "view").followed_by("c", "click")

    with pytest.raises(NotImplementedError, match="optional"):
        P.begin_group(P.begin("v", "view")
                      .followed_by("c", "click")).optional()
    with pytest.raises(NotImplementedError, match="one_or_more"):
        P.begin_group(P.begin("v", "view")
                      .followed_by("c", "click")).one_or_more()
    # r12: times(a, b) on a group is LIFTED — it marks the pattern for
    # the variant-union fold instead of refusing
    p_rng = P.begin_group(P.begin("v", "view")
                          .followed_by("c", "click")).times(1, 3)
    assert p_rng._gvar == (0, 2, 1, 3)
    # ADVICE r12: where() while the lazy range marker is pending would
    # replicate into every variant copy, diverging from eager times(n)
    # (final copy only) — both refinement verbs refuse loudly
    with pytest.raises(NotImplementedError, match="BEFORE"):
        P.begin_group(P.begin("v", "view")
                      .followed_by("c", "click")).times(1, 3) \
         .where("value >= 10")
    with pytest.raises(NotImplementedError, match="BEFORE"):
        P.begin("s", "search") \
         .followed_by_group(P.begin("v", "view")
                            .followed_by("c", "click")).optional() \
         .or_where("value >= 10")
    # without the guard this silently compiled (v c){2,} as v c c+
    # — quantifying only the group's LAST inner stage (ADVICE r11)
    with pytest.raises(NotImplementedError, match="times_or_more"):
        P.begin_group(P.begin("v", "view")
                      .followed_by("c", "click")).times_or_more(2)
    with pytest.raises(NotImplementedError, match="absence"):
        P.begin_group(P.begin("v", "view")
                      .not_followed_by("p", "purchase"))
    with pytest.raises(NotImplementedError, match="OUTER"):
        P.begin_group(P.begin("v", "view")
                      .followed_by("c", "click").within("1 hours"))
    with pytest.raises(NotImplementedError, match="ambiguous|group"):
        P.begin_group(P.begin("v", "view")
                      .followed_by("c", "click").one_or_more())
    with pytest.raises(NotImplementedError, match="terminal"):
        (P.begin("v", "view").not_next("p", "purchase")
         .followed_by_group(sub))
    # a later stage verb CLOSES the group: times(n) then applies to
    # that stage alone, not the group
    p = (P.begin_group(P.begin("v", "view").followed_by("c", "click"))
         .followed_by("p", "purchase").times(2))
    assert [s.event_type for s in p._expanded().stages] == \
        ["view", "click", "purchase", "purchase"]


# -- nested groups (round 13) --------------------------------------------

@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_group_nested_matches_flat(spark, rows):
    """One level of group nesting with fixed times(n) at both levels
    splices recursively to an ordinary relaxed chain — the nested
    construction must count identically to the hand-flattened
    pattern on the same keyed input."""
    from flink_tutorial_broadcast_spark.cep import (
        Pattern as P, compile_pattern,
    )

    inner = P.begin("c", "click").followed_by("p", "purchase")
    sub = P.begin_group(inner).times(2)
    nested = (P.begin("v", "view").followed_by_group(sub).times(2)
              .within("12 hours"))
    flat = P.begin("v", "view")
    for j in range(4):
        flat = (flat.followed_by(f"c{j}", "click")
                .followed_by(f"p{j}", "purchase"))
    flat = flat.within("12 hours")
    assert [s.event_type for s in nested._expanded().stages] == \
        [s.event_type for s in flat._expanded().stages]
    df = _mk(spark, rows)
    got = {(r.user_id, r.n_matches) for r in
           compile_pattern(nested, df, ["user_id"], "ts", "event_id",
                           "event_type").collect()}
    want = {(r.user_id, r.n_matches) for r in
            compile_pattern(flat, df, ["user_id"], "ts", "event_id",
                            "event_type").collect()}
    assert got == want


def test_nested_group_refusals():
    """r13: a sub-pattern carrying a PENDING variable-length group
    quantifier (_gvar/_gloop/_gzom) refuses inside an outer group verb
    — the pattern-level marker would otherwise be dropped silently,
    compiling (b c)+ as (b c)."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import Pattern as P

    def inner():
        return P.begin("b", "click").followed_by("c", "purchase")

    loop_sub = (P.begin("a", "view").followed_by_group(inner())
                .one_or_more())
    with pytest.raises(NotImplementedError, match="variable-length"):
        P.begin("s", "view").followed_by_group(loop_sub)
    opt_sub = (P.begin("a", "view").followed_by_group(inner())
               .optional())
    with pytest.raises(NotImplementedError, match="variable-length"):
        P.begin_group(opt_sub)
    rng_sub = (P.begin("a", "view").followed_by_group(inner())
               .times(1, 2))
    with pytest.raises(NotImplementedError, match="variable-length"):
        P.begin("s", "view").next_group(rng_sub)
    zom_sub = (P.begin("a", "view").followed_by_group(inner())
               .one_or_more().optional())
    with pytest.raises(NotImplementedError, match="variable-length"):
        P.begin("s", "view").followed_by_group(zom_sub)
    # FIXED nested times(n) still splices: ((click purchase){2}){2}
    sub = P.begin_group(inner()).times(2)
    nested = P.begin("v", "view").followed_by_group(sub).times(2)
    assert [s.event_type for s in nested.stages] == \
        ["view"] + ["click", "purchase"] * 4


# -- where_agg on the bounded loop (round 11) ----------------------------

def _ref_fork_loop_agg(seq, stages, within_min, fn, thr):
    """Independent reference for where_agg on the final one_or_more
    stage: parked runs carry (anchor_m, register, loop_len); a loop
    candidate qualifying per run emits a match AND is absorbed;
    non-qualifying runs (fresh anchors included) keep awaiting.
    Aggregate scope = the loop's accepted events + candidate; the
    condition here is AGG < thr. A None-valued candidate fails the
    condition for EVERY fn (count included) — the engine's NULL rule
    (ADVICE r11), so registers never see NULLs."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]
    lp = []  # (anchor_m, register, n)
    cnt = 0
    for m, ty, v in seq:
        sets = [[a for a in s if m - a <= within_min] for s in sets]
        lp = [a for a in lp if m - a[0] <= within_min]
        old = [list(s) for s in sets]
        if ty == stages[K - 1] and v is None:
            pass  # NULL candidate: no emit, no absorb, all runs stay
        elif ty == stages[K - 1]:
            new_lp = []
            for am, r, n in lp:
                val = {"sum": r + v, "min": min(r, v),
                       "max": max(r, v), "count": n + 1,
                       "avg": (r + v) / (n + 1)}[fn]
                if val < thr:
                    cnt += 1
                    nr = {"sum": r + v, "min": min(r, v),
                          "max": max(r, v), "count": r,
                          "avg": r + v}[fn]
                    new_lp.append((am, nr, n + 1))
                else:
                    new_lp.append((am, r, n))
            fresh_val = 1 if fn == "count" else v
            if fresh_val < thr:
                cnt += len(old[K - 2])
                new_lp += [(a, v, 1) for a in old[K - 2]]
                sets[K - 2] = []
            lp = new_lp
        for i in range(K - 2, 0, -1):
            if ty == stages[i]:
                sets[i] = sets[i] + old[i - 1]
                sets[i - 1] = []
        if ty == stages[0]:
            sets[0] = sets[0] + [m]
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_loop_agg_sum_matches_brute_force(spark, rows):
    """where_agg('sum') on the loop — the Flink-docs canonical
    IterativeCondition example — matches an independent forking
    reference carrying per-run registers."""
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .where_agg("sum", "value", "<", 300)
           .within("12 hours").no_skip())
    got = _run(spark, _mk_val(spark, rows), pat)
    want = {u: _ref_fork_loop_agg(seq, ["view", "purchase"], 720,
                                  "sum", 300)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_loop_agg_count_k3_matches_brute_force(spark, rows):
    """where_agg('count') caps the loop length (each run emits at most
    thr-1 matches), on a K=3 pattern so the prefix promotion path is
    exercised too."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .followed_by("p", "purchase").one_or_more()
           .where_agg("count", "value", "<", 3)
           .within("12 hours").no_skip())
    got = _run(spark, _mk_val(spark, rows), pat)
    want = {u: _ref_fork_loop_agg(seq, ["view", "click", "purchase"],
                                  720, "count", 3)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def test_loop_agg_refusals(spark):
    import pytest

    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern, compile_pattern_stream,
    )

    df = _mk_val(spark, [(0, 0, 0, 10)])
    # rel + loop agg
    with pytest.raises(NotImplementedError, match="LOOP stage"):
        compile_pattern(
            Pattern.begin("v", "view")
            .followed_by("c", "click")
            .where_rel("value", ">", "value")
            .followed_by("p", "purchase").one_or_more()
            .where_agg("sum", "value", "<", 5)
            .within("12 hours").no_skip(),
            df, ["user_id"], "ts", "event_id", "event_type")
    # unbounded loop agg (no within) -> the one_or_more family refusal
    with pytest.raises(NotImplementedError):
        compile_pattern(
            Pattern.begin("v", "view")
            .followed_by("p", "purchase").one_or_more()
            .where_agg("sum", "value", "<", 5).no_skip(),
            df, ["user_id"], "ts", "event_id", "event_type")
    # streaming mirrors the loop-stage-only gate
    sdf = (spark.readStream.format("rate").load()
           .selectExpr("CAST(value AS LONG) AS user_id",
                       "timestamp AS ts", "value AS event_id",
                       "'view' AS event_type",
                       "CAST(value AS DOUBLE) AS value"))
    with pytest.raises(NotImplementedError, match="LOOP stage"):
        compile_pattern_stream(
            Pattern.begin("v", "view")
            .followed_by("c", "click")
            .where_rel("value", ">", "value")
            .followed_by("p", "purchase").one_or_more()
            .where_agg("sum", "value", "<", 5)
            .within("12 hours").no_skip(),
            sdf, ["user_id"], "ts", "event_id", "event_type")


# -- NULL-bearing loop where_agg convergence (round 12, ADVICE r11) ------

# like seq_val_strategy but ~1 in 3 events carries a NULL value — the
# data shape where the r11 batch machine absorbed/counted NULL loop
# candidates for min/max/count while the stepper rejected them
seq_nullval_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 5000),
              st.integers(0, 3),
              st.one_of(st.none(), st.integers(0, 200))),
    min_size=1, max_size=35)


def _mk_nullval(spark, rows):
    data = [(u, BASE + dt.timedelta(minutes=m), i, TYPES[t],
             None if v is None else float(v))
            for i, (u, m, t, v) in enumerate(rows)]
    return spark.createDataFrame(
        data, "user_id int, ts timestamp, event_id long, "
              "event_type string, value double")


_LOOP_AGG_NULL_CASES = [("sum", 300), ("count", 3), ("min", 100),
                        ("max", 150), ("avg", 120)]


@settings(max_examples=10, deadline=None)
@given(rows=seq_nullval_strategy,
       case=st.sampled_from(_LOOP_AGG_NULL_CASES))
def test_cep_loop_agg_null_candidates_fail_every_fn(spark, rows, case):
    """A NULL-valued loop candidate never qualifies, for EVERY fn —
    sum/avg get that from the coalesced comparison, min/max/count from
    the explicit gate (F.least/F.greatest skip NULLs and count is
    value-independent, so without the gate the batch machine absorbed
    NULL candidates the stepper rejects — ADVICE r11)."""
    fn, thr = case
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .where_agg(fn, "value", "<", thr)
           .within("12 hours").no_skip())
    got = _run(spark, _mk_nullval(spark, rows), pat)
    want = {u: _ref_fork_loop_agg(seq, ["view", "purchase"], 720,
                                  fn, thr)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=25, deadline=None)
@given(rows=seq_nullval_strategy,
       case=st.sampled_from(_LOOP_AGG_NULL_CASES),
       cuts=st.lists(st.integers(0, 34), max_size=3))
def test_loop_agg_stepper_null_convergence(rows, case, cuts):
    """fork_loop_agg_stepper on NULL-bearing values (NaN after the
    pandas projection), fed across arbitrary micro-batch splits,
    equals the same pure-Python reference the batch machine is pinned
    to — closing the batch/stream NULL divergence loop."""
    import math

    import pandas as pd

    from flink_tutorial_broadcast_spark.cep import fork_loop_agg_stepper

    fn, thr = case
    step = fork_loop_agg_stepper([1, 2], (fn, "value", "<", thr),
                                 720 * 60 * 1_000_000,
                                 key_cols=["user_id"])
    bit = {"view": 1, "purchase": 2}
    for u, seq in _per_user_ordered_val(rows).items():
        want = _ref_fork_loop_agg(seq, ["view", "purchase"], 720,
                                  fn, thr)
        pts = sorted({c for c in cuts if c < len(seq)})
        bounds = [0] + pts + [len(seq)]
        st_obj = _KmpFakeState()
        last = None
        for lo, hi in zip(bounds, bounds[1:]):
            chunk = seq[lo:hi]
            if not chunk:
                continue
            pdf = pd.DataFrame({
                "user_id": [u] * len(chunk),
                "ts": [BASE + dt.timedelta(minutes=m)
                       for m, _, _ in chunk],
                "event_id": list(range(lo, lo + len(chunk))),
                "c": [bit.get(ty, 0) for _, ty, _ in chunk],
                "value": [math.nan if v is None else float(v)
                          for _, _, v in chunk]})
            out = list(step((u,), iter([pdf]), st_obj))
            last = out[-1]
        got = int(last["n_matches"].iloc[0]) if last is not None else 0
        assert got == want, (fn, thr, seq, got, want)


# -- timesOrMore (round 11) ----------------------------------------------

@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_times_or_more_equals_explicit_composition(spark, rows):
    """timesOrMore(n) == the explicitly-written (n-1 fixed copies +
    one_or_more) pattern — the eager expansion is definitional, so
    the pin is engine-vs-engine on the already-brute-force-pinned
    fork-loop machine, plus an n=1 identity with plain one_or_more."""
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").times_or_more(2)
           .within("12 hours").no_skip())
    explicit = (Pattern.begin("v", "view")
                .followed_by("p", "purchase")
                .followed_by("p2", "purchase").one_or_more()
                .within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = _run(spark, _mk(spark, rows), explicit)
    assert got == want

    one = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").times_or_more(1)
           .within("12 hours").no_skip())
    plain = (Pattern.begin("v", "view")
             .followed_by("p", "purchase").one_or_more()
             .within("12 hours").no_skip())
    assert _run(spark, _mk(spark, rows), one) == \
        _run(spark, _mk(spark, rows), plain)


def test_times_or_more_refusals():
    import pytest

    from flink_tutorial_broadcast_spark.cep import Pattern as P

    with pytest.raises(NotImplementedError, match="quantified"):
        (P.begin("v", "view").followed_by("p", "purchase")
         .times(2).times_or_more(2))
    with pytest.raises(NotImplementedError, match="consecutive"):
        (P.begin("v", "view").next("p", "purchase").times_or_more(2))
    with pytest.raises(ValueError, match="n >= 1"):
        (P.begin("v", "view").followed_by("p", "purchase")
         .times_or_more(0))


# -- timed-out partial matches (round 11) ---------------------------------

def _ref_timeouts(evs, stages, within_min, strict_flags=None):
    """Independent reference for the timeout side output: single-run
    skip-past-last machine; expiry (or end-of-input) emits the partial
    (anchor_id, stages_matched, deadline_minute); strict kills discard
    silently. evs: (minute, event_id, type)."""
    K = len(stages)
    stage, aid, am = 0, 0, 0
    outs = []
    for m, i, ty in evs:
        if stage > 0 and m - am > within_min:
            outs.append((aid, stage, am + within_min))
            stage = 0
        ok = ty == stages[stage]
        if ok:
            if stage == 0:
                aid, am = i, m
            stage = 0 if stage == K - 1 else stage + 1
        elif stage > 0 and strict_flags and strict_flags[stage]:
            if ty == stages[0]:
                stage, aid, am = 1, i, m
            else:
                stage = 0
    if stage > 0:
        outs.append((aid, stage, am + within_min))
    return sorted(outs)


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_timeouts_match_python_machine(spark, rows):
    """pattern_timeouts() == the single-run machine's expiry/-end
    emissions — and a strict next() kill is a silent DISCARD, never a
    timeout (the mixed-contiguity case pins that)."""
    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern_timeouts,
    )

    per = _per_user_with_ids(rows)

    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase").within("12 hours"))
    got = {}
    for r in compile_pattern_timeouts(
            pat, _mk(spark, rows), ["user_id"], "ts", "event_id",
            "event_type").collect():
        got.setdefault(r["user_id"], []).append(
            (r["anchor_id"], r["stages_matched"],
             (r["timeout_at_us"]
              - int(BASE.timestamp() * 1_000_000)) // 60_000_000))
    want = {u: _ref_timeouts(evs, ["view", "click", "purchase"], 720)
            for u, evs in per.items()}
    assert {u: sorted(v) for u, v in got.items()} == \
        {u: o for u, o in want.items() if o}

    pat2 = (Pattern.begin("v", "view").next("c", "click")
            .followed_by("p", "purchase").within("12 hours"))
    got2 = {}
    for r in compile_pattern_timeouts(
            pat2, _mk(spark, rows), ["user_id"], "ts", "event_id",
            "event_type").collect():
        got2.setdefault(r["user_id"], []).append(
            (r["anchor_id"], r["stages_matched"],
             (r["timeout_at_us"]
              - int(BASE.timestamp() * 1_000_000)) // 60_000_000))
    want2 = {u: _ref_timeouts(evs, ["view", "click", "purchase"], 720,
                              strict_flags=[False, True, False])
             for u, evs in per.items()}
    assert {u: sorted(v) for u, v in got2.items()} == \
        {u: o for u, o in want2.items() if o}


def test_pattern_timeouts_refusals(spark):
    import pytest

    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern_timeouts,
    )

    df = _mk(spark, [(0, 0, 0)])
    with pytest.raises(ValueError, match="within"):
        compile_pattern_timeouts(
            Pattern.begin("v", "view").followed_by("p", "purchase"),
            df, ["user_id"], "ts", "event_id", "event_type")
    with pytest.raises(NotImplementedError, match="no_skip"):
        compile_pattern_timeouts(
            Pattern.begin("v", "view").followed_by("p", "purchase")
            .within("12 hours").no_skip(),
            df, ["user_id"], "ts", "event_id", "event_type")
    with pytest.raises(NotImplementedError, match="quantifier"):
        compile_pattern_timeouts(
            Pattern.begin("v", "view")
            .followed_by("p", "purchase").one_or_more()
            .within("12 hours"),
            df, ["user_id"], "ts", "event_id", "event_type")
    with pytest.raises(NotImplementedError, match="absence"):
        compile_pattern_timeouts(
            Pattern.begin("v", "view")
            .not_followed_by("p", "purchase").within("12 hours"),
            df, ["user_id"], "ts", "event_id", "event_type")


@settings(max_examples=10, deadline=None)
@given(rows=seq_val_strategy)
def test_cep_where_rel_and_agg_combined(spark, rows):
    """where_rel and where_agg COMBINE on one pattern (different
    stages): the single-anchor machine evaluates the rel cell and the
    agg cell independently per await — pinned against an imperative
    reference carrying both the anchor value and the running sum."""
    pat = (Pattern.begin("v", "view")
           .followed_by("c", "click")
           .where_rel("value", ">", "value")
           .followed_by("p", "purchase")
           .where_agg("sum", "value", "<", 300)
           .within("12 hours"))
    got = _run(spark, _mk_val(spark, rows), pat)

    def ref(seq):
        stage, cnt, a_m, a_v, run = 0, 0, 0, 0.0, []
        for m, ty, v in seq:
            if stage > 0 and m - a_m > 720:
                stage = 0
            ok = ty == ["view", "click", "purchase"][stage]
            if ok and stage == 1:
                ok = v > a_v
            if ok and stage == 2:
                ok = sum(run) + v < 300
            if ok:
                if stage == 0:
                    a_m, a_v, run = m, v, []
                run.append(v)
                stage += 1
                if stage == 3:
                    cnt, stage = cnt + 1, 0
        return cnt

    want = {u: ref(seq)
            for u, seq in _per_user_ordered_val(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


# -- consecutive() strict internal contiguity on the loop (round 12) -----

def _ref_fork_loop_consec(seq, stages, within_min):
    """Independent reference for one_or_more().consecutive() [FLINK-API
    Quantifier#consecutive]: the forking loop where any event NOT
    matching the loop type kills every PARKED run; fresh anchors
    awaiting their first loop event keep relaxed entry (the Flink-docs
    example — a non-match between prefix and first loop event does not
    break)."""
    K = len(stages)
    sets = [[] for _ in range(K - 1)]
    lp = []
    cnt = 0
    for m, ty in seq:
        sets = [[a for a in s if m - a <= within_min] for s in sets]
        lp = [a for a in lp if m - a <= within_min]
        if ty == stages[K - 1]:
            cnt += len(sets[K - 2]) + len(lp)
            lp = lp + sets[K - 2]
            sets[K - 2] = []
        else:
            lp = []  # the strict-internal kill rule
        if ty == stages[0]:
            sets[0].append(m)
        for i in range(1, K - 1):
            if ty == stages[i]:
                sets[i] = sets[i] + sets[i - 1]
                sets[i - 1] = []
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_consecutive_loop_matches_python_nfa(spark, rows):
    """one_or_more().consecutive() (K=2) == the forking loop reference
    with the kill rule — clicks/other views between purchases break
    parked runs, non-matches before the first purchase do not."""
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more().consecutive()
           .within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_fork_loop_consec(seq, ["view", "purchase"], 720)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_consecutive_loop_k3_matches_python_nfa(spark, rows):
    """K=3 exercises the prefix-promotion path together with the kill
    rule (a mid-pattern click is a promotion AND a parked-run kill)."""
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase").one_or_more().consecutive()
           .within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_fork_loop_consec(
        seq, ["view", "click", "purchase"], 720)
        for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy, horizons=st.integers(1, 3))
def test_cep_consecutive_chunked_equals_unchunked(spark, rows,
                                                  horizons):
    """Exact time-chunking carries consecutive(): a parked run's
    lifetime is inside [anchor, anchor + w], fully within its owning
    chunk's replayed window, so every kill event is replayed."""
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more().consecutive()
           .within("12 hours").no_skip())
    df = _mk(spark, rows)
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    chunked = {r["user_id"]: r["n_matches"] for r in
               (env.from_dataframe(df).key_by("user_id")
                .pattern(pat, chunked=True, chunk_horizons=horizons)
                .to_df().collect())}
    assert chunked == _run(spark, df, pat)


def test_consecutive_refusals(spark):
    """consecutive() gates refuse loudly: not on times(n) (that IS the
    strict next() chain), needs one_or_more first, no zeroOrMore in
    either verb order, not after times_or_more, not with where_agg on
    the loop (batch and streaming compiles), counts only (no match
    extraction)."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern, compile_pattern_matches,
        compile_pattern_stream,
    )

    with pytest.raises(NotImplementedError, match="next"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .times(3).consecutive())
    with pytest.raises(NotImplementedError, match="one_or_more"):
        Pattern.begin("v", "view").followed_by("p", "purchase") \
            .consecutive()
    with pytest.raises(NotImplementedError, match="zeroOrMore"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .one_or_more().optional().consecutive())
    with pytest.raises(NotImplementedError, match="consecutive"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .one_or_more().consecutive().optional())
    with pytest.raises(NotImplementedError, match="times_or_more"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .times_or_more(2).consecutive())
    df = _mk(spark, [(0, 0, 0)])
    pat_agg = (Pattern.begin("v", "view")
               .followed_by("p", "purchase").one_or_more()
               .consecutive().where_agg("sum", "value", "<", 5)
               .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="where_agg"):
        compile_pattern(pat_agg, df.withColumn("value", df.event_id),
                        ["user_id"], "ts", "event_id", "event_type")
    sdf = (spark.readStream.format("rate").load()
           .selectExpr("CAST(value AS LONG) AS user_id",
                       "timestamp AS ts", "value AS event_id",
                       "'view' AS event_type",
                       "CAST(value AS DOUBLE) AS value"))
    with pytest.raises(NotImplementedError, match="where_agg"):
        compile_pattern_stream(pat_agg, sdf, ["user_id"], "ts",
                               "event_id", "event_type")
    # r13 LIFTED the consecutive() extraction refusal on the
    # fork-loop shape (bindings ride the count fold's kill rules)
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more().consecutive()
           .within("12 hours").no_skip())
    assert compile_pattern_matches(
        pat, df, ["user_id"], "ts", "event_id",
        "event_type").columns == ["user_id", "match_no",
                                  "start_event_id", "end_event_id",
                                  "span_us"]

# -- allow_combinations() non-deterministic loop contiguity (round 12) ---

def _ref_combos_enum(seq, stages, within_min):
    """LITERAL subset-enumeration reference for one_or_more()
    .allow_combinations() [FLINK-API Quantifier#allowCombinations]:
    replay the fork prefix to find each anchor's completion position
    (every anchor completes at most once — the drain rule), then
    ENUMERATE the nonempty subsets of loop-type events after the
    completion inside [anchor, anchor+w] with itertools.combinations
    — exponential but fine at hypothesis scale, and independent of
    the engine's counting-DP doubling shortcut."""
    from itertools import combinations
    K = len(stages)
    sets = [[] for _ in range(max(K - 2, 0))]
    completions = []  # (anchor_minute, completion_position)
    for pos, (m, ty) in enumerate(seq):
        sets = [[a for a in s if m - a <= within_min] for s in sets]
        if ty == stages[0]:
            if K == 2:
                completions.append((m, pos))
            else:
                sets[0].append(m)
        for i in range(1, K - 1):
            if ty == stages[i]:
                if i == K - 2:
                    completions.extend((a, pos) for a in sets[i - 1])
                else:
                    sets[i] = sets[i] + sets[i - 1]
                sets[i - 1] = []
    cnt = 0
    for am, cpos in completions:
        loops = [p for p in range(cpos + 1, len(seq))
                 if seq[p][1] == stages[K - 1]
                 and seq[p][0] - am <= within_min]
        for r in range(1, len(loops) + 1):
            cnt += sum(1 for _ in combinations(loops, r))
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_allow_combinations_matches_subset_enumeration(spark,
                                                           rows):
    """one_or_more().allow_combinations() (K=2) == the literal subset
    enumeration: per anchor, every nonempty subset of in-horizon
    purchases is one match."""
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .allow_combinations().within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_combos_enum(seq, ["view", "purchase"], 720)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_allow_combinations_k3_matches_subset_enumeration(
        spark, rows):
    """K=3 exercises prefix promotion + drain together with the
    subsequence registers."""
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase").one_or_more()
           .allow_combinations().within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_combos_enum(
        seq, ["view", "click", "purchase"], 720)
        for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def test_cep_allow_combinations_density_fault_named(spark):
    """r13 (VERDICT_r12 item 6): past 2^62 subsequences per run the
    register guard faults with a message naming the offending KEY and
    its density — not a bare ANSI overflow. 63 in-horizon purchases
    after one view push the register past the doubling limit."""
    import pytest

    rows = [(0, 0, 0)] + [(0, 1 + m, 2) for m in range(63)]
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .allow_combinations().within("12 hours").no_skip())
    with pytest.raises(Exception, match="register for key 0"):
        _run(spark, _mk(spark, rows), pat)
    # 40 purchases stay comfortably exact: 2^40 - 1 per the closed
    # form SUM over closes of (2^(j-1) - 1) + j ... = 2^n - 1
    rows_ok = [(0, 0, 0)] + [(0, 1 + m, 2) for m in range(40)]
    assert _run(spark, _mk(spark, rows_ok), pat) == {0: 2 ** 40 - 1}


def test_cep_allow_combinations_until_kills(spark):
    """until() composes with allow_combinations(): the stop event
    kills the parked subsequence registers and the awaiting set."""
    rows = [(0, 0, 0), (0, 1, 2), (0, 2, 3), (0, 3, 2)]
    # u0: view p1 other p2 with until on 'other': p1 emits {p1};
    # 'other' kills; p2 finds nothing -> total 1 (without until: 3)
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .allow_combinations().until("event_type = 'other'")
           .within("12 hours").no_skip())
    assert _run(spark, _mk(spark, rows), pat) == {0: 1}
    pat2 = (Pattern.begin("v", "view")
            .followed_by("p", "purchase").one_or_more()
            .allow_combinations().within("12 hours").no_skip())
    assert _run(spark, _mk(spark, rows), pat2) == {0: 3}


def test_allow_combinations_refusals(spark):
    """allow_combinations() gates: needs one_or_more, not with
    times(n), zeroOrMore, consecutive (both orders), times_or_more,
    where_agg (batch + stream), 1-stage loops, chunked compile, and
    match extraction."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import (
        compile_pattern, compile_pattern_chunked,
        compile_pattern_matches, compile_pattern_stream,
    )

    with pytest.raises(NotImplementedError, match="one_or_more"):
        Pattern.begin("v", "view").followed_by("p", "purchase") \
            .allow_combinations()
    with pytest.raises(NotImplementedError, match="any-DP"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .times(3).allow_combinations())
    with pytest.raises(NotImplementedError, match="consecutive"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .one_or_more().consecutive().allow_combinations())
    with pytest.raises(NotImplementedError, match="consecutive"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .one_or_more().allow_combinations().consecutive())
    with pytest.raises(NotImplementedError, match="zeroOrMore|drop"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .one_or_more().allow_combinations().optional())
    with pytest.raises(NotImplementedError, match="times_or_more"):
        (Pattern.begin("v", "view").followed_by("p", "purchase")
         .times_or_more(2).allow_combinations())
    df = _mk(spark, [(0, 0, 0)])
    pat1 = (Pattern.begin("p", "purchase").one_or_more()
            .allow_combinations().within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="1-stage"):
        compile_pattern(pat1, df, ["user_id"], "ts", "event_id",
                        "event_type")
    pat = (Pattern.begin("v", "view")
           .followed_by("p", "purchase").one_or_more()
           .allow_combinations().within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="chunked"):
        compile_pattern_chunked(pat, df, ["user_id"], "ts",
                                "event_id", "event_type")
    with pytest.raises(NotImplementedError, match="counts only"):
        compile_pattern_matches(pat, df, ["user_id"], "ts",
                                "event_id", "event_type")
    pat_agg = (Pattern.begin("v", "view")
               .followed_by("p", "purchase").one_or_more()
               .allow_combinations()
               .where_agg("sum", "value", "<", 5)
               .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="enumeration"):
        compile_pattern(pat_agg,
                        df.withColumn("value", df.event_id),
                        ["user_id"], "ts", "event_id", "event_type")
    sdf = (spark.readStream.format("rate").load()
           .selectExpr("CAST(value AS LONG) AS user_id",
                       "timestamp AS ts", "value AS event_id",
                       "'view' AS event_type",
                       "CAST(value AS DOUBLE) AS value"))
    with pytest.raises(NotImplementedError, match="enumeration"):
        compile_pattern_stream(pat_agg, sdf, ["user_id"], "ts",
                               "event_id", "event_type")


# -- one_or_more() on a GroupPattern (round 12) --------------------------

def _ref_group_loop(seq, prefix, group, within_min):
    """INDEPENDENT per-anchor greedy replay for a looping group
    [FLINK-API GroupPattern#oneOrMore]: under noSkip the fork sets
    promote whole, so each anchor's trajectory is the greedy
    first-match walk — prefix stages once, then the group cycled;
    every completed repetition inside the horizon is one match."""
    cnt = 0
    for idx, (m0, ty0) in enumerate(seq):
        if ty0 != prefix[0]:
            continue
        rest = prefix[1:]
        pi = 0
        in_group = not rest
        gi = 0
        for m, ty in seq[idx + 1:]:
            if m - m0 > within_min:
                break
            if not in_group:
                if ty == rest[pi]:
                    pi += 1
                    if pi == len(rest):
                        in_group = True
            elif ty == group[gi]:
                gi += 1
                if gi == len(group):
                    cnt += 1
                    gi = 0
    return cnt


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_group_loop_matches_python_nfa(spark, rows):
    """followed_by_group(click -> purchase).one_or_more() == the
    per-anchor greedy alternation reference."""
    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .one_or_more().within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_group_loop(seq, ["view"], ["click", "purchase"],
                               720)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_group_loop_two_prefix_matches_python_nfa(spark, rows):
    """A 2-stage prefix before the looping group exercises the prefix
    promotions and the back-edge target offset (K - gl > 1)."""
    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by("o", "other")
           .followed_by_group(sub)
           .one_or_more().within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_group_loop(seq, ["view", "other"],
                               ["click", "purchase"], 720)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def test_group_loop_refusals(spark):
    """Group-loop gates refuse loudly: begin groups (no prefix
    anchor), inner times(n), strict contiguity into/inside the group,
    non-tail loops, skip strategies, missing within()."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import (
        Pattern as P, compile_pattern,
    )

    sub = P.begin("c", "click").followed_by("p", "purchase")
    with pytest.raises(NotImplementedError, match="begin group"):
        P.begin_group(sub).one_or_more()
    with pytest.raises(NotImplementedError, match="repetition"):
        (P.begin("v", "view")
         .followed_by_group(P.begin("c", "click").times(2)
                            .followed_by("p", "purchase"))
         .one_or_more())
    with pytest.raises(NotImplementedError, match="strict|next"):
        (P.begin("v", "view")
         .next_group(P.begin("c", "click")
                     .followed_by("p", "purchase"))
         .one_or_more())
    with pytest.raises(NotImplementedError, match="strict|next"):
        (P.begin("v", "view")
         .followed_by_group(P.begin("c", "click")
                            .next("p", "purchase"))
         .one_or_more())
    df = _mk(spark, [(0, 0, 0)])
    tail = (P.begin("v", "view")
            .followed_by_group(P.begin("c", "click")
                               .followed_by("p", "purchase"))
            .one_or_more().followed_by("z", "other")
            .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="TAIL"):
        compile_pattern(tail, df, ["user_id"], "ts", "event_id",
                        "event_type")
    noskip = (P.begin("v", "view")
              .followed_by_group(P.begin("c", "click")
                                 .followed_by("p", "purchase"))
              .one_or_more().within("12 hours"))
    with pytest.raises(NotImplementedError, match="no_skip"):
        compile_pattern(noskip, df, ["user_id"], "ts", "event_id",
                        "event_type")
    nowithin = (P.begin("v", "view")
                .followed_by_group(P.begin("c", "click")
                                   .followed_by("p", "purchase"))
                .one_or_more().no_skip())
    with pytest.raises(NotImplementedError, match="within"):
        compile_pattern(nowithin, df, ["user_id"], "ts", "event_id",
                        "event_type")


# -- GROUP optional()/times(a,b)/zeroOrMore (round 12) -------------------

@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_group_optional_matches_python_nfa(spark, rows):
    """followed_by_group(c p).optional() == (#prefix matches) + (the
    greedy alternation reaching >= 1 repetition) per anchor — two
    independent references summed."""
    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .optional().within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)

    def ref(seq):
        views = sum(1 for _, ty in seq if ty == "view")
        withs = _ref_group_loop_capped(seq, ["view"],
                                       ["click", "purchase"], 720, 1)
        return views + withs

    want = {u: ref(seq) for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def _ref_group_loop_capped(seq, prefix, group, within_min, cap):
    """Per-anchor greedy alternation, each anchor contributing
    min(reps, cap) — the k-copy variant's greedy chain completes iff
    the alternation reaches k repetitions, so the variant-union sum
    telescopes to this."""
    total = 0
    for idx, (m0, ty0) in enumerate(seq):
        if ty0 != prefix[0]:
            continue
        rest = prefix[1:]
        pi = 0
        in_group = not rest
        gi = reps = 0
        for m, ty in seq[idx + 1:]:
            if m - m0 > within_min:
                break
            if not in_group:
                if ty == rest[pi]:
                    pi += 1
                    if pi == len(rest):
                        in_group = True
            elif ty == group[gi]:
                gi += 1
                if gi == len(group):
                    reps += 1
                    gi = 0
        total += min(reps, cap)
    return total


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_group_times_range_matches_python_nfa(spark, rows):
    """times(1, 2) on a group == sum over anchors of min(greedy
    repetitions, 2)."""
    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .times(1, 2).within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)
    want = {u: _ref_group_loop_capped(seq, ["view"],
                                      ["click", "purchase"], 720, 2)
            for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


@settings(max_examples=10, deadline=None)
@given(rows=seq_strategy)
def test_cep_group_zom_matches_python_nfa(spark, rows):
    """zeroOrMore on a group == (#prefix matches) + the full group-loop
    count (the repetition-count partition)."""
    sub = Pattern.begin("c", "click").followed_by("p", "purchase")
    pat = (Pattern.begin("v", "view").followed_by_group(sub)
           .one_or_more().optional().within("12 hours").no_skip())
    got = _run(spark, _mk(spark, rows), pat)

    def ref(seq):
        views = sum(1 for _, ty in seq if ty == "view")
        loops = _ref_group_loop(seq, ["view"], ["click", "purchase"],
                                720)
        return views + loops

    want = {u: ref(seq) for u, seq in _per_user_ordered(rows).items()}
    assert got == {u: n for u, n in want.items() if n > 0}


def test_group_variant_refusals(spark):
    """Quantified-group gates: optional on begin groups, non-tail
    quantified groups, skip strategies, zeroOrMore without within,
    stage quantifiers alongside, and streaming (counts are batch-only
    for group variants)."""
    import pytest

    from flink_tutorial_broadcast_spark.cep import (
        Pattern as P, compile_pattern, compile_pattern_stream,
    )

    sub = P.begin("c", "click").followed_by("p", "purchase")
    with pytest.raises(NotImplementedError, match="begin group"):
        P.begin_group(sub).optional()
    df = _mk(spark, [(0, 0, 0)])
    tail = (P.begin("v", "view").followed_by_group(sub).optional()
            .followed_by("z", "other").within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="TAIL"):
        compile_pattern(tail, df, ["user_id"], "ts", "event_id",
                        "event_type")
    skp = (P.begin("v", "view").followed_by_group(sub).times(1, 2)
           .within("12 hours").skip_to_next())
    with pytest.raises(NotImplementedError, match="no_skip"):
        compile_pattern(skp, df, ["user_id"], "ts", "event_id",
                        "event_type")
    nowithin = (P.begin("v", "view").followed_by_group(sub)
                .one_or_more().optional().no_skip())
    with pytest.raises(NotImplementedError, match="within"):
        compile_pattern(nowithin, df, ["user_id"], "ts", "event_id",
                        "event_type")
    extra_q = (P.begin("v", "view").times(2)
               .followed_by_group(sub).optional()
               .within("12 hours").no_skip())
    with pytest.raises(NotImplementedError, match="repetition|quantified"):
        compile_pattern(extra_q, df, ["user_id"], "ts", "event_id",
                        "event_type")
    # r13 LIFTED the blanket streaming refusal (group variants ride
    # the variant-union stepper; zom gets its side-by-side stepper) —
    # the BATCH gates still refuse identically on streams:
    sdf = (spark.readStream.format("rate").load()
           .selectExpr("CAST(value AS LONG) AS user_id",
                       "timestamp AS ts", "value AS event_id",
                       "'view' AS event_type"))
    stream_pat = (P.begin("v", "view").followed_by_group(sub)
                  .optional().within("12 hours").no_skip())
    out = compile_pattern_stream(stream_pat, sdf, ["user_id"], "ts",
                                 "event_id", "event_type")
    assert out.isStreaming
    stream_skp = (P.begin("v", "view").followed_by_group(sub)
                  .optional().within("12 hours"))
    with pytest.raises(NotImplementedError, match="no_skip"):
        compile_pattern_stream(stream_skp, sdf, ["user_id"], "ts",
                               "event_id", "event_type")
    stream_nowithin = (P.begin("v", "view").followed_by_group(sub)
                       .one_or_more().optional().no_skip())
    with pytest.raises(NotImplementedError, match="within"):
        compile_pattern_stream(stream_nowithin, sdf, ["user_id"],
                               "ts", "event_id", "event_type")
