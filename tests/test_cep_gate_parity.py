"""Every refusal a batch CEP compiler shares with its streaming twin is
written once (the gate helpers in cep.py), so a refused pattern must
fail the same way on both paths: same exception type, same message.
One row per refused pattern, per verb — pattern(), pattern_matches()
and pattern_timeouts(). The streaming input is a parquet file source;
compiling never starts a query."""

from __future__ import annotations

import datetime as dt

import pytest

from flink_tutorial_broadcast_spark.cep import (
    Pattern as P,
    compile_pattern,
    compile_pattern_matches,
    compile_pattern_matches_stream,
    compile_pattern_stream,
    compile_pattern_timeouts,
    compile_pattern_timeouts_stream,
)

W = "48 hours"
EVENTS = (["user_id"], "ts", "event_id", "event_type")


def _on_begin(attr):
    """A where_rel()/where_agg() moved onto the begin stage — the verbs
    refuse that at build time, so the compilers' own check is reached
    only by a hand-built pattern."""
    p = P.begin("v", "view").followed_by("c", "click")
    p = (p.where_rel("value", ">", "value") if attr == "rel"
         else p.where_agg("sum", "value", "<", 5))
    setattr(p.stages[0], attr, getattr(p.stages[1], attr))
    return p


ROWS = {
    "pattern": {
        "loop_agg_with_rel": lambda: (
            P.begin("v", "view").followed_by("c", "click")
            .where_rel("value", ">", "value").followed_by("p", "purchase")
            .one_or_more().where_agg("sum", "value", "<", 5)
            .within(W).no_skip()),
        "loop_agg_consecutive": lambda: (
            P.begin("v", "view").followed_by("p", "purchase")
            .one_or_more().consecutive()
            .where_agg("sum", "value", "<", 5).within(W).no_skip()),
        "loop_agg_combinations": lambda: (
            P.begin("v", "view").followed_by("p", "purchase")
            .one_or_more().allow_combinations()
            .where_agg("sum", "value", "<", 5).within(W).no_skip()),
        "combinations_one_stage": lambda: (
            P.begin("p", "purchase").one_or_more().allow_combinations()
            .within(W).no_skip()),
        "agg_on_fork": lambda: (
            P.begin("v", "view").followed_by("p", "purchase")
            .where_agg("sum", "value", "<", 5).within(W).no_skip()),
        "rel_on_any": lambda: (
            P.begin("v", "view").followed_by_any("p", "purchase")
            .where_rel("value", ">", "value").no_skip()),
        "rel_fork_strict": lambda: (
            P.begin("v", "view").next("c", "click")
            .followed_by("p", "purchase")
            .where_rel("value", ">", "value").within(W).no_skip()),
        "rel_on_begin": lambda: _on_begin("rel"),
        "agg_on_begin": lambda: _on_begin("agg"),
        "zom_with_rel": lambda: (
            P.begin("v", "view").followed_by("p", "purchase")
            .where_rel("value", ">", "value").one_or_more().optional()
            .within(W).no_skip()),
        "zom_one_stage": lambda: (
            P.begin("p", "purchase").one_or_more().optional()
            .within(W).no_skip()),
        "zom_mid_optional": lambda: (
            P.begin("v", "view").followed_by("c", "click").optional()
            .followed_by("p", "purchase").one_or_more().optional()
            .within(W).no_skip()),
        "optional_with_rel": lambda: (
            P.begin("v", "view").followed_by("c", "click")
            .where_rel("value", ">", "value").optional()
            .followed_by("p", "purchase").no_skip()),
        "optional_skip_past_last": lambda: (
            P.begin("v", "view").followed_by("c", "click").optional()
            .followed_by("p", "purchase")),
        "optional_with_absence": lambda: (
            P.begin("v", "view").followed_by("c", "click").optional()
            .not_followed_by("p", "purchase").within(W).no_skip()),
        "quantified_absence": lambda: (
            P.begin("v", "view").not_followed_by("p", "purchase")
            .times(2).within(W)),
    },
    "pattern_matches": {
        "optional": lambda: (
            P.begin("v", "view").followed_by("c", "click").optional()
            .followed_by("p", "purchase").no_skip()),
        "rel": lambda: (
            P.begin("v", "view").followed_by("c", "click")
            .where_rel("value", ">", "value").within(W)),
        "combinations": lambda: (
            P.begin("v", "view").followed_by("p", "purchase")
            .one_or_more().allow_combinations().within(W).no_skip()),
        "until_off_the_loop": lambda: (
            P.begin("v", "view").next("p", "purchase").one_or_more()
            .until("value > 1")),
        "followed_by_any": lambda: (
            P.begin("v", "view").followed_by_any("p", "purchase")
            .no_skip()),
        "absence": lambda: (
            P.begin("v", "view").not_followed_by("p", "purchase")
            .within(W)),
        "strict_one_or_more": lambda: (
            P.begin("v", "view").next("p", "purchase").one_or_more()),
        "mid_absence": lambda: (
            P.begin("v", "view").not_followed_by("x", "cart")
            .followed_by("p", "purchase")),
        "one_stage": lambda: (
            P.begin("p", "purchase").one_or_more().within(W).no_skip()),
    },
    "pattern_timeouts": {
        "no_within": lambda: (
            P.begin("v", "view").followed_by("p", "purchase")),
        "no_skip": lambda: (
            P.begin("v", "view").followed_by("p", "purchase")
            .within(W).no_skip()),
        "rel": lambda: (
            P.begin("v", "view").followed_by("c", "click")
            .where_rel("value", ">", "value").within(W)),
        "range": lambda: (
            P.begin("v", "view").followed_by("p", "purchase").times(2, 3)
            .within(W)),
        "absence": lambda: (
            P.begin("v", "view").not_followed_by("p", "purchase")
            .within(W)),
        "one_stage": lambda: P.begin("v", "view").within(W),
    },
}

COMPILERS = {
    "pattern": (compile_pattern, compile_pattern_stream),
    "pattern_matches": (compile_pattern_matches,
                        compile_pattern_matches_stream),
    "pattern_timeouts": (compile_pattern_timeouts,
                         compile_pattern_timeouts_stream),
}


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    """(batch, streaming) DataFrames over one parquet events dir."""
    path = str(tmp_path_factory.mktemp("gate_parity") / "events")
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    (spark.createDataFrame(
        [(1, ts, 1, "view", 1.0)],
        "user_id long, ts timestamp, event_id long, event_type string, "
        "value double")
     .write.parquet(path))
    batch = spark.read.parquet(path)
    return batch, spark.readStream.schema(batch.schema).parquet(path)


def _refusal(compiler, pat, df):
    with pytest.raises((NotImplementedError, ValueError)) as err:
        compiler(pat, df, *EVENTS)
    return type(err.value), str(err.value)


@pytest.mark.parametrize("verb,row", [
    (verb, row) for verb, rows in ROWS.items() for row in rows])
def test_batch_and_stream_refuse_alike(frames, verb, row):
    batch_compile, stream_compile = COMPILERS[verb]
    batch, stream = frames
    want = _refusal(batch_compile, ROWS[verb][row](), batch)
    assert _refusal(stream_compile, ROWS[verb][row](), stream) == want
