"""TwoPhaseCommitFileSink: a crash injected BETWEEN stage and commit
must leave no torn output (uncommitted stage files invisible to
readers) and, across restart from the same checkpoint, no duplicates —
the TwoPhaseCommitSinkFunction exactly-once story."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_tutorial_broadcast_spark.io import load
from flink_tutorial_broadcast_spark.streaming.sources import (
    checkpoint_dir,
    two_file_stream,
)
from flink_tutorial_broadcast_spark.streaming.two_phase_sink import (
    TwoPhaseCommitFileSink,
)
from tests.conftest import SF_SMOKE

COLS = ["event_id", "user_id", "event_type", "value"]


def _two_batch_source(spark):
    """events fixture split at the median ts into two files, one
    micro-batch each (strictly increasing mtimes)."""
    ev = load(spark, SF_SMOKE, "events").select("ts", *COLS)
    return two_file_stream(spark, ev, "tpc_src_")[0].select(*COLS), ev


def test_two_phase_commit_sink_crash_between_phases(spark):
    src, ev = _two_batch_source(spark)
    root = tempfile.mkdtemp(prefix="tpc_sink_")
    sink = TwoPhaseCommitFileSink(root)
    ckpt = checkpoint_dir()
    flag = os.path.join(root, "injected_once")

    def injector(batch_id: int) -> None:
        if batch_id == 1 and not os.path.exists(flag):
            open(flag, "w").close()
            raise RuntimeError("injected crash between stage and commit")

    def run():
        return (src.writeStream
                .foreachBatch(sink.foreach_batch(injector))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    q = run()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()

    # torn window: batch 1 IS staged on disk, but invisible — commit
    # never happened, so readers see exactly the batch-0 rows
    assert sink.committed_batch_ids() == [0]
    assert sink.staged_uncommitted() == [1]
    stage1 = os.path.join(sink.stage_root, "batch=1")
    assert os.path.isdir(stage1) and os.listdir(stage1)  # files exist...
    visible = sink.committed_df(spark)
    total = ev.count()
    n_batch0 = visible.count()
    assert 0 < n_batch0 < total  # ...but none of them are readable

    # restart over the SAME checkpoint: batch 1 replays (same id),
    # re-stages over its torn remains, and commits exactly once
    q2 = run()
    q2.awaitTermination()
    assert sink.committed_batch_ids() == [0, 1]
    assert sink.staged_uncommitted() == []

    final = sink.committed_df(spark)
    # exactly-once: the committed multiset equals the fixture multiset
    assert final.count() == total
    diff = (final.groupBy(*COLS).agg(F.count("*").alias("a"))
            .join(ev.groupBy(*COLS).agg(F.count("*").alias("b")),
                  COLS, "full")
            .filter((F.col("a").isNull()) | (F.col("b").isNull())
                    | (F.col("a") != F.col("b"))))
    assert diff.count() == 0


def test_two_phase_commit_sink_clean_run_and_visibility_unit(spark):
    """No fault: both batches commit; committed_df equals the input;
    manifests name exactly the staged part-files."""
    src, ev = _two_batch_source(spark)
    root = tempfile.mkdtemp(prefix="tpc_clean_")
    sink = TwoPhaseCommitFileSink(root)
    q = (src.writeStream.foreachBatch(sink.foreach_batch())
         .option("checkpointLocation", checkpoint_dir())
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert sink.committed_batch_ids() == [0, 1]
    assert sink.staged_uncommitted() == []
    assert sink.committed_df(spark).count() == ev.count()
    for f in sink.committed_files():
        assert os.path.isfile(f), f
    # empty sink → None, not an exception
    empty = TwoPhaseCommitFileSink(tempfile.mkdtemp(prefix="tpc_empty_"))
    assert empty.committed_df(spark) is None


def test_two_phase_commit_sink_post_commit_replay_is_noop(spark):
    """A replay of an ALREADY-committed batch (crash landed after the
    manifest rename but before Spark's offset log recorded the batch)
    must not touch the staged files: the manifest is the idempotency
    marker. Before round 8's fix, the replay's mode('overwrite')
    deleted the very part-files the committed manifest named — a
    torn-read window for a concurrent committed_df() reader."""
    ev = (load(spark, SF_SMOKE, "events").select(*COLS).limit(50))
    root = tempfile.mkdtemp(prefix="tpc_replay_")
    sink = TwoPhaseCommitFileSink(root)
    sink.write_batch(ev, 0)
    files_before = sink.committed_files()
    assert files_before and all(os.path.isfile(f) for f in files_before)
    mtimes = {f: os.path.getmtime(f) for f in files_before}

    # post-commit replay: same batch id arrives again
    sink.write_batch(ev.limit(10), 0)  # even a DIFFERENT frame is ignored

    assert sink.committed_files() == files_before
    for f in files_before:
        assert os.path.isfile(f), f
        assert os.path.getmtime(f) == mtimes[f]  # untouched, not rewritten
    assert sink.committed_df(spark).count() == 50
    assert sink.staged_uncommitted() == []
