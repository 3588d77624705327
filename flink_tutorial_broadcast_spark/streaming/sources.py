"""Streaming sources (SURVEY.md §2.A streaming rows).

The fixtures are single parquet files; Spark's file stream source lists a
directory, so we expose each table through a per-session symlink directory
(zero copy — the read-only fixture is never touched). A rate-source shaper
covers the custom-``SourceFunction`` analogue.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tutorial_broadcast_spark.io import SCHEMAS, _events_ts_is_nanos

_STREAM_DIRS: dict[str, str] = {}


def _stream_dir(sf_dir: str, table: str) -> str:
    """Symlink directory wrapping one fixture parquet file (cached)."""
    key = f"{sf_dir}:{table}"
    if key not in _STREAM_DIRS:
        d = tempfile.mkdtemp(prefix=f"stream_{table}_")
        os.symlink(os.path.join(sf_dir, f"{table}.parquet"),
                   os.path.join(d, f"{table}.parquet"))
        _STREAM_DIRS[key] = d
    return _STREAM_DIRS[key]


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mainStream analogue: events as a file-source stream.

    Mirrors io.load("events") including its ts-unit detection, so
    streaming and batch formulations see byte-identical data.
    """
    path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        sdf = (
            spark.readStream.schema(SCHEMAS["events_ns"])
            .parquet(_stream_dir(sf_dir, "events"))
        )
        return sdf.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .parquet(_stream_dir(sf_dir, "events"))
    )


def rate_events(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Custom-SourceFunction analogue (Flink ``SourceFunction``):
    the rate source shaped into the events schema — an endless synthetic
    event feed for soak/demo runs."""
    rate = spark.readStream.format("rate") \
        .option("rowsPerSecond", rows_per_second).load()
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 100).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ("click", "view", "purchase", "signup", "error")]),
            (F.col("value") % 5 + 1).cast("int")).alias("event_type"),
        (F.pmod(F.col("value") * 37, F.lit(500)) / F.lit(1.0)).alias("value"),
        F.to_json(F.struct((F.col("value") % 100).alias("k"))).alias("props"),
    )


def two_file_stream(spark: SparkSession, df: DataFrame, prefix: str,
                    col: str = "ts", cut=None) -> tuple[DataFrame, str]:
    """Replay a batch DataFrame as a TWO-micro-batch file stream: rows
    with `col` <= `cut` (default: the approximate median of `col`) go
    to one parquet part-file under `f=0`, the rest to one under `f=1`,
    whose mtime is 10 s later — the file source orders files by mtime,
    so with one file per trigger `f=0` is micro-batch 0. The keyed-state
    twins use it so state (partial matches, buckets, sessions, timers)
    must carry across the boundary. Returns the stream (read with
    `df`'s schema) and the directory, which the caller may delete once
    the query has finished."""
    if cut is None:
        cut = df.agg(F.percentile_approx(col, 0.5).alias("m")) \
            .collect()[0]["m"]
    d = tempfile.mkdtemp(prefix=prefix)
    df.filter(F.col(col) <= F.lit(cut)).coalesce(1) \
        .write.parquet(os.path.join(d, "f=0"))
    df.filter(F.col(col) > F.lit(cut)).coalesce(1) \
        .write.parquet(os.path.join(d, "f=1"))
    stamp = int(time.time())
    for i, part in enumerate(("f=0", "f=1")):
        for fname in os.listdir(os.path.join(d, part)):
            os.utime(os.path.join(d, part, fname),
                     (stamp + 10 * i, stamp + 10 * i))
    sdf = (spark.readStream.schema(df.schema)
           .option("maxFilesPerTrigger", "1")
           .option("recursiveFileLookup", "true")
           .parquet(d))
    return sdf, d


def checkpoint_dir() -> str:
    """Fresh checkpoint location (offset/commit logs + state store)."""
    return tempfile.mkdtemp(prefix="ckpt_")


def socket_events(spark: SparkSession, host: str = "127.0.0.1",
                  port: int = 9999) -> DataFrame:
    """A2 socket text source (Flink ``socketTextStream`` analogue): lines
    of ``event_id,user_id,event_type,value`` parsed into typed columns.
    Demo-grade (sockets give no replay → at-most-once), exactly like the
    reference's tutorial usage."""
    raw = (spark.readStream.format("socket")
           .option("host", host).option("port", port).load())
    parts = F.split(F.col("value"), ",")
    return raw.select(
        parts.getItem(0).cast("long").alias("event_id"),
        parts.getItem(1).cast("long").alias("user_id"),
        parts.getItem(2).alias("event_type"),
        parts.getItem(3).cast("double").alias("value"),
    )


def stream_document_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 text-file source (Flink ``readTextFile`` analogue): document
    texts as a line stream. The fixture's text column is materialized once
    per session into a temp text dir (the reference's input format), then
    streamed with the `text` file source."""
    key = f"{sf_dir}:__text__"
    if key not in _STREAM_DIRS:
        from flink_tutorial_broadcast_spark.io import load
        d = tempfile.mkdtemp(prefix="stream_text_")
        (load(spark, sf_dir, "documents")
         .select("text").coalesce(1).write.mode("overwrite").text(d))
        _STREAM_DIRS[key] = d
    return spark.readStream.format("text").load(_STREAM_DIRS[key])
