"""Stress harness: run engine shapes at k× the largest fixture to show
headroom beyond sf0.1 and report per-row throughput AND shuffle-spill
behavior. Input is the read-only sf0.1 fixture unioned k× with perturbed
keys — no fixture files are created or modified.

k=16 (default) ≈ 9.6M lineitem / 1.6M events; k=64 ≈ 38M lineitem /
6.4M events — the tier where per-partition working sets outgrow the
executor comfort zone and spill/skew behavior becomes observable (the
round-3 verdict's task 5).

Usage:
    python tools/stress.py [k]                 # every shape
    python tools/stress.py [k] shape1,shape2   # a subset

Per shape the JSON records rows, wall sec, Mrows/s, and the DELTA in
memory/disk spill bytes across the shape's stages (from the UI REST
status store), so super-linear degradation at higher k is attributable:
healthy shapes scale sec ~k with spill ≈ 0; a shape whose spill grows
k²× is shuffling a blowup.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from flink_tutorial_broadcast_spark.io import load  # noqa: E402
from flink_tutorial_broadcast_spark.session import (  # noqa: E402
    get_spark, release_cached_blocks,
)
from flink_tutorial_broadcast_spark.sources.rules import rules_df  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def amplify(df, key_cols, k: int):
    """k copies with shifted keys so join/group cardinalities scale too."""
    rep = df.crossJoin(F.broadcast(
        df.sparkSession.range(k).select(F.col("id").alias("__rep"))))
    out = rep
    for c in key_cols:
        out = out.withColumn(c, F.col(c) + F.col("__rep") * 10_000_000)
    return out.drop("__rep")


def spill_totals(spark) -> tuple[int, int]:
    """(memoryBytesSpilled, diskBytesSpilled) summed over all completed
    stages, via the UI REST status store. Returns (0, 0) if the UI is
    unreachable (spill column then reads 0 — throughput is unaffected)."""
    try:
        base = spark.sparkContext.uiWebUrl
        apps = json.load(urllib.request.urlopen(
            f"{base}/api/v1/applications", timeout=5))
        app_id = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10))
        mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
        disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
        return mem, disk
    except Exception:
        return 0, 0


class Ctx:
    """Lazily-built shared inputs so a shape subset only pays for what it
    touches."""

    def __init__(self, spark, k: int):
        self.spark, self.k = spark, k
        self._cache: dict[str, object] = {}

    def _get(self, name, build):
        if name not in self._cache:
            self._cache[name] = build()
        return self._cache[name]

    def nrows(self, name: str) -> int:
        """Memoized row count of a named shared input — the throughput
        denominator. main() evaluates this BEFORE starting each shape's
        timer, so neither the lazy input build nor the denominator count
        job pollutes the measured window (ADVICE r4: the r4 harness
        counted inside the timed region, deflating Mrows/s vs earlier
        rounds)."""
        key = f"__n_{name}"
        if key not in self._cache:
            self._cache[key] = getattr(self, name).count()
        return self._cache[key]

    @property
    def li(self):
        return self._get("li", lambda: amplify(
            load(self.spark, SF_DIR, "lineitem"), ["l_orderkey"], self.k))

    @property
    def o(self):
        return self._get("o", lambda: amplify(
            load(self.spark, SF_DIR, "orders"), ["o_orderkey"], self.k))

    @property
    def ev(self):
        return self._get("ev", lambda: amplify(
            load(self.spark, SF_DIR, "events"), ["event_id"], self.k))

    @property
    def emb(self):
        return self._get("emb", lambda: amplify(
            load(self.spark, SF_DIR, "embeddings"), ["vec_id"], self.k))

    @property
    def docs(self):
        return self._get("docs", lambda: amplify(
            load(self.spark, SF_DIR, "documents"), ["doc_id"], self.k))

    @property
    def dr(self):
        """Deduped-then-amplified documents with per-replica token
        suffixes: the k copies share zero vocabulary, so near-dup /
        similarity candidate counts scale k×, not k²× (amplifying the
        fixture's true-duplicate groups k× would measure that blowup,
        not the operator)."""
        def build():
            docs = load(self.spark, SF_DIR, "documents") \
                .dropDuplicates(["text"])
            return (docs.crossJoin(F.broadcast(
                        self.spark.range(self.k)
                        .select(F.col("id").alias("__rep"))))
                    .select((F.col("doc_id") + F.col("__rep") * 10_000_000)
                            .alias("doc_id"),
                            F.array_join(F.transform(
                                F.split("text", " "),
                                lambda x: F.concat(
                                    x, F.lit("#"),
                                    F.col("__rep").cast("string"))),
                                " ").alias("text"),
                            "lang", "source"))
        return self._get("dr", build)

    @property
    def dr_toks(self):
        return self._get("dr_toks", lambda: self.dr.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")))

    @property
    def docs_toks(self):
        return self._get("docs_toks", lambda: self.docs.select(
            F.explode(F.split("text", " ")).alias("token")))


SHAPES: dict[str, tuple] = {}


def shape(name, denom):
    """Register a stress shape. `denom(ctx) -> int` yields the
    processed-row throughput denominator; main() evaluates it outside
    the timed window (Ctx.nrows memoizes, so repeated shapes share
    counts)."""
    def deco(fn):
        SHAPES[name] = (fn, denom)
        return fn
    return deco


@shape("join_agg", lambda c: c.nrows("li"))
def s_join_agg(c: Ctx) -> None:
    (c.li.join(c.o, c.li.l_orderkey == c.o.o_orderkey)
     .groupBy("o_orderstatus")
     .agg(F.count("*").alias("n"), F.sum("l_extendedprice").alias("s"))
     ).count()


@shape("broadcast_rule_join", lambda c: c.nrows("ev"))
def s_broadcast_rule_join(c: Ctx) -> None:
    rules = rules_df(c.spark)
    (c.ev.join(F.broadcast(rules),
               (c.ev.event_type == rules.rule_event_type)
               & (c.ev.value > rules.threshold))
     .groupBy(F.date_trunc("hour", "ts"), "event_type")
     .agg(F.count("*"), F.sum("value"))
     ).count()


@shape("exact_dedup_md5", lambda c: c.nrows("li"))
def s_exact_dedup_md5(c: Ctx) -> None:
    c.li.groupBy(F.md5(F.concat_ws("|", "l_orderkey", "l_linenumber"))
                 .alias("h")).agg(F.min("l_partkey")).count()


@shape("exact_dedup_xxhash", lambda c: c.nrows("li"))
def s_exact_dedup_xxhash(c: Ctx) -> None:
    c.li.groupBy(F.xxhash64("l_orderkey", "l_linenumber").alias("h")) \
        .agg(F.min("l_partkey")).count()


@shape("ewma_fold", lambda c: c.nrows("ev"))
def s_ewma_fold(c: Ctx) -> None:
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    fold = F.aggregate(
        arr, F.lit(None).cast("double"),
        lambda acc, x: F.coalesce(F.lit(0.3) * x["value"]
                                  + F.lit(0.7) * acc, x["value"]))
    c.ev.groupBy("user_id").agg(fold.alias("ewma")).count()


@shape("incremental_agg", lambda c: c.nrows("ev"))
def s_incremental_agg(c: Ctx) -> None:
    (c.ev.groupBy(F.to_date("ts").alias("day"), "event_type")
     .agg(F.count("*").alias("pn"), F.sum("value").alias("psum"))
     .groupBy("event_type")
     .agg(F.sum("pn"), F.sum("psum"))).count()


@shape("window_topn", lambda c: c.nrows("o"))
def s_window_topn(c: Ctx) -> None:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    c.o.withColumn("rn", F.row_number().over(w)) \
       .filter(F.col("rn") <= 3).count()


@shape("ohlc_bars", lambda c: c.nrows("ev"))
def s_ohlc_bars(c: Ctx) -> None:
    ord_key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"))
    (c.ev.select("event_type", F.date_trunc("day", "ts").alias("day"),
                 "value", ord_key.alias("ord"))
     .groupBy("event_type", "day")
     .agg(F.min_by("value", F.col("ord")), F.max("value"),
          F.min("value"), F.max_by("value", F.col("ord")),
          F.count("*"))).count()


@shape("embed_quantize", lambda c: c.nrows("emb") * 64)
def s_embed_quantize(c: Ctx) -> None:
    x = (c.emb.select("vec_id", F.posexplode("embedding").alias("pos", "vf"))
         .select("vec_id", "pos", F.col("vf").cast("double").alias("v")))
    stats = x.groupBy("pos").agg(F.min("v").alias("mn"),
                                 F.max("v").alias("mx"))
    (x.join(F.broadcast(stats), "pos")
     .select(F.least(F.floor((F.col("v") - F.col("mn")) * 256
                             / (F.col("mx") - F.col("mn"))), F.lit(255))
             .alias("code"))
     .agg(F.sum("code"))).count()


@shape("pack_sequences", lambda c: c.nrows("dr"))
def s_pack_sequences(c: Ctx) -> None:
    win = (Window.partitionBy("lang").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    (c.dr.select("doc_id", "lang",
                 F.size(F.split("text", " ")).alias("nw"))
     .withColumn("cum", F.sum("nw").over(win))
     .select(F.expr("(cum - 1) div 256").alias("seq_end"))
     .agg(F.max("seq_end"))).count()


@shape("repetition_bigrams", lambda c: c.nrows("dr"))
def s_repetition_bigrams(c: Ctx) -> None:
    bg = c.dr.select(
        "doc_id",
        F.explode(F.expr(
            "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
            " (x, i) -> concat(x, ' ', split(text, ' ')[i + 1]))")).alias("b"))
    (bg.groupBy("doc_id", "b").agg(F.count("*").alias("cnt"))
     .groupBy("doc_id").agg(F.sum("cnt"), F.count("*"), F.max("cnt"))).count()


@shape("setsim_prefix_join", lambda c: c.nrows("dr"))
def s_setsim_prefix_join(c: Ctx) -> None:
    d = c.dr.select("doc_id",
                    F.array_distinct(F.split("text", " ")).alias("t"))
    tok = d.select("doc_id", F.explode("t").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    prefix = (
        tok.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("o"),
             F.count("*").alias("n"))
        .select("doc_id", F.explode(F.expr(
            "slice(transform(o, x -> x.tok), 1,"
            " CAST(n - ((6 * n + 9) div 10) + 1 AS INT))")).alias("tok")))
    cand = (prefix.alias("pa").join(prefix.alias("pb"), "tok")
            .filter(F.col("pa.doc_id") < F.col("pb.doc_id"))
            .select(F.col("pa.doc_id").alias("a"),
                    F.col("pb.doc_id").alias("b")).distinct())
    cand.count()


@shape("unigram_lm_score", lambda c: c.nrows("dr_toks"))
def s_unigram_lm_score(c: Ctx) -> None:
    toks = c.dr_toks
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").alias("total"))
    (toks.join(vocab, "token").crossJoin(F.broadcast(total))
     .groupBy("doc_id")
     .agg(F.avg(F.log("cnt") - F.log("total")))).count()


@shape("heavy_hitters", lambda c: c.nrows("dr_toks"))
def s_heavy_hitters(c: Ctx) -> None:
    toks = c.dr_toks
    sample = toks.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4")
    ns = sample.agg(F.count("*").alias("n_sample"))
    cand_hh = (sample.crossJoin(F.broadcast(ns))
               .groupBy("token", "n_sample").agg(F.count("*").alias("cnt"))
               .filter(F.col("cnt") >= 0.001 * F.col("n_sample"))
               .select("token"))
    toks.join(F.broadcast(cand_hh), "token") \
        .groupBy("token").agg(F.count("*")).count()


@shape("reconcile_digests", lambda c: 2 * c.nrows("o"))
def s_reconcile_digests(c: Ctx) -> None:
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digest = (c.o.select((F.col("o_orderkey") % 4096).alias("bucket"),
                         (F.col("o_orderkey") * 31 + cents).alias("cs"))
              .groupBy("bucket")
              .agg(F.count("*").alias("n"), F.sum("cs").alias("cs_sum")))
    d2 = (c.o.filter(F.col("o_orderkey") % 97 != 0)
          .select((F.col("o_orderkey") % 4096).alias("bucket"),
                  (F.col("o_orderkey") * 31 + cents).alias("cs"))
          .groupBy("bucket")
          .agg(F.count("*").alias("n2"), F.sum("cs").alias("cs2")))
    digest.join(d2, "bucket", "full_outer") \
          .filter((F.col("n") != F.col("n2"))
                  | (F.col("cs_sum") != F.col("cs2"))).count()


@shape("cms_sketch", lambda c: 3 * c.nrows("docs_toks"))
def s_cms_sketch(c: Ctx) -> None:
    toks = c.docs.select(F.explode(F.split("text", " ")).alias("token"))
    seeds = F.array(F.lit("s1"), F.lit("s2"), F.lit("s3"))
    (toks.select("token", F.explode(seeds).alias("seed"))
     .withColumn("bucket",
                 F.conv(F.substring(F.md5(F.concat("seed", "token")), 1, 8),
                        16, 10).cast("long") % 64)
     .groupBy("seed", "bucket").agg(F.count("*").alias("cnt"))).count()


@shape("curriculum_two_phase", lambda c: c.nrows("docs"))
def s_curriculum_two_phase(c: Ctx) -> None:
    from flink_tutorial_broadcast_spark.operators.two_phase import (
        global_order,
    )
    r = c.docs.select("doc_id", "source").withColumn(
        "rank_in_source",
        F.row_number().over(Window.partitionBy("source").orderBy("doc_id")))
    global_order(r, F.col("rank_in_source"), ["source", "doc_id"],
                 out_rn="position").count()


@shape("domain_token_cap", lambda c: c.nrows("docs"))
def s_domain_token_cap(c: Ctx) -> None:
    wcap = (Window.partitionBy("source").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0))
    (c.docs.select("source", "doc_id",
                   F.size(F.split("text", " ")).cast("long")
                   .alias("n_tokens"))
     .withColumn("cum", F.sum("n_tokens").over(wcap))
     .filter(F.col("cum") <= 800)).count()


@shape("bpe_pair_count", lambda c: c.nrows("dr_toks"))
def s_bpe_pair_count(c: Ctx) -> None:
    """One BPE merge round at corpus scale (q_bpe_merges' inner loop):
    token stream -> vocabulary table -> adjacent-pair counts -> 1-row
    argmax. The corpus cost is the vocabulary build; the pair shuffle is
    over the VOCABULARY (k-scaled here because dr suffixes make replica
    vocabularies disjoint -- the honest worst case)."""
    words = (c.dr_toks.filter(F.col("token").rlike("^[a-z0-9#]+$"))
             .groupBy("token").agg(F.count("*").alias("cnt"))
             .withColumn("syms",
                         F.expr("filter(split(token, ''), x -> x <> '')")))
    pairs = (words.select(F.explode(F.expr(
        "transform(slice(syms, 1, size(syms) - 1), (ch, i) -> "
        "struct(ch AS lhs, element_at(syms, i + 2) AS rhs))")).alias("p"),
        "cnt")
        .groupBy("p.lhs", "p.rhs").agg(F.sum("cnt").alias("pc")))
    pairs.orderBy(F.desc("pc"), "lhs", "rhs").limit(1).collect()


@shape("substr_spans", lambda c: c.nrows("dr_toks"))
def s_substr_spans(c: Ctx) -> None:
    """q_dedup_substr's full pipeline at corpus scale: rolling 8-gram
    hash stream (linear in tokens), ONE span-hash shuffle to find spans
    in >1 distinct doc, hash-join back, bounded x8 position explode to
    exact coverage. dr's disjoint replica vocabularies keep cross-doc
    repeats k-scaled (not k^2): the shape measures the operator, not
    the fixture's duplicate blowup."""
    w = 8
    docs = (c.dr.select("doc_id", F.split("text", " ").alias("toks"))
            .withColumn("n_tokens", F.size("toks").cast("long"))
            .filter(F.col("n_tokens") >= w))
    sh = (docs
          .select("doc_id", "n_tokens", "toks",
                  F.explode(F.expr(f"sequence(1, size(toks) - {w} + 1)"))
                  .alias("s"))
          .select("doc_id", "n_tokens", "s",
                  F.md5(F.array_join(F.slice("toks", F.col("s"), w), " "))
                  .alias("h")))
    rep = (sh.groupBy("h")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") > 1).select("h"))
    (sh.join(rep, "h")
     .select("doc_id", "n_tokens",
             F.explode(F.expr(f"sequence(s, s + {w} - 1)")).alias("p"))
     .groupBy("doc_id", "n_tokens")
     .agg(F.countDistinct("p").alias("n_rep"))).count()


@shape("rule_mutation_scd2", lambda c: c.nrows("ev"))
def s_rule_mutation_scd2(c: Ctx) -> None:
    """q_broadcast_rule_mutation's scale shape (VERDICT_r6 item 7): the
    mutable rule stream becomes validity intervals via ONE window over
    the 10-row rule table, then a BROADCAST interval join against the
    k-scaled fact — the fact side never shuffles and never windows.
    Includes the operator's own 1-row median collect (it is part of the
    key's cost)."""
    from flink_tutorial_broadcast_spark.sources.rules import rule_waves_df
    ev = c.ev.select(
        "event_id", "event_type", "value",
        (F.col("event_id") * 2 + 1).alias("seq"))
    med = int(ev.agg(
        F.floor(F.expr("percentile(event_id, 0.5)")).cast("long")
        .alias("m")).collect()[0]["m"])
    wr = Window.partitionBy("rule_id").orderBy("valid_from")
    versions = (rule_waves_df(c.spark, med)
                .withColumnRenamed("seq", "valid_from")
                .withColumn("valid_to", F.lead("valid_from").over(wr)))
    cond = ((ev.event_type == versions.rule_event_type)
            & (versions.valid_from < ev.seq)
            & (versions.valid_to.isNull() | (ev.seq < versions.valid_to))
            & (ev.value > versions.threshold))
    (ev.join(F.broadcast(versions), cond, "inner")
     .groupBy("event_type", "severity")
     .agg(F.count("*"), F.sum("value"))).count()


@shape("facade_program", lambda c: c.nrows("ev"))
def s_facade_program(c: Ctx) -> None:
    """q_facade_program's scale shape (VERDICT_r6 item 7): the full
    facade fast path — split() side-output routing, broadcast rule
    connect, keyed tumbling-hour aggregate — over the k-scaled events.
    All codegen; the only exchange is the final low-cardinality
    aggregate."""
    from flink_tutorial_broadcast_spark.datastream import (
        StreamExecutionEnvironment,
    )
    env = StreamExecutionEnvironment.get_execution_environment(c.spark)
    routed = env.from_dataframe(c.ev).split({"errors": "value < 1"})
    (routed.main()
     .connect_broadcast(
         rules_df(c.spark),
         on="event_type = rule_event_type AND value > threshold")
     .key_by("event_type", "severity")
     .window_tumbling("ts", "hour")
     .aggregate(n_matches="count(*)",
                sum_value="round(sum(value), 2)")
     .to_df()).count()


@shape("semantic_route", lambda c: c.nrows("emb"))
def s_semantic_route(c: Ctx) -> None:
    """SemDeDup's linear half at scale: route k-scaled vectors to 64
    broadcast centroids (argmax via min-struct, no window) and emit the
    per-cell histogram. The quadratic in-cell verify is excluded on
    purpose: amplified vectors are exact copies, so in-cell pairs would
    measure the k^2 duplicate blowup, not the operator; the design bounds
    that term by cell size (K ~ sqrt(N))."""
    from flink_tutorial_broadcast_spark.operators.llm_knn import _dot
    emb = c.emb
    cents = (emb.filter(F.col("vec_id") < 64)
             .select(F.col("vec_id").alias("c_id"),
                     F.col("embedding").alias("c_emb"),
                     F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                     .alias("c_norm")))
    scored = (emb.withColumn(
        "norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))))
        .filter(F.col("norm") > 0)  # zero-norm vectors have no direction
        .crossJoin(F.broadcast(cents))
        .withColumn("cc", _dot(F.col("embedding"), F.col("c_emb"))
                    / (F.col("norm") * F.col("c_norm"))))
    (scored.groupBy("vec_id")
     .agg(F.min(F.struct((-F.col("cc")).alias("nc"),
                         F.col("c_id").alias("cid"))).alias("b"))
     .groupBy(F.col("b.cid").alias("cell"))
     .agg(F.count("*").alias("n"))).count()


def _hot_events(c: Ctx):
    """The k-amplified events COLLAPSED onto 8 user keys (user_id % 8;
    event_id stays unique) — a deliberately pathological hot-key
    profile: k × 100k fixture events spread over just 8 per-key fold
    buffers (k=16 → 200k events/key, k=64 → 800k events/key vs the
    fixture's max 99). This is the adversarial input for the CEP batch
    folds, whose per-key collect_list buffer is the round-7 verdict's
    flagged bound: state in the fold is O(1)/horizon-bounded, but the
    fold's INPUT array is the full per-key history (~24 B × events in
    one aggregation buffer — extrapolating, a 10⁸-event key would hold
    ~2.4 GB in one task, the scale where the streaming steppers'
    per-micro-batch carried state is the prescribed path; docs/scale.md
    §CEP)."""
    ev = c.ev.select("user_id", "ts", "event_id", "event_type")
    return ev.withColumn("user_id", F.col("user_id") % 8)


@shape("cep_relaxed_hotkey", lambda c: c.nrows("ev"))
def s_cep_relaxed_hotkey(c: Ctx) -> None:
    """Batch CEP skip-past-last fold under hot-key amplification
    (VERDICT_r7 item 4): k×100k/8 events per key collect into ONE
    aggregation buffer each before the O(1)-state fold runs. Healthy
    scaling here = time ~k with zero spill; the documented bound is
    per-key array bytes ≈ 24 B × events-per-key in a single task."""
    from flink_tutorial_broadcast_spark.cep import (
        Pattern, compile_pattern,
    )
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase"))
    compile_pattern(pat, _hot_events(c), ["user_id"], "ts",
                    "event_id", "event_type").count()


@shape("cep_fork_hotkey", lambda c: c.nrows("ev"))
def s_cep_fork_hotkey(c: Ctx) -> None:
    """Forking-NFA fold (noSkip + within 48h) under the same hot-key
    amplification: on top of the per-key input array, the accumulator
    carries K-1 anchor arrays whose length is bounded by per-key event
    density inside the horizon — amplification multiplies exactly that
    density, so this shape measures the flagged worst case, not a
    synthetic best case."""
    from flink_tutorial_broadcast_spark.cep import (
        Pattern, compile_pattern,
    )
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase").within("48 hours").no_skip())
    compile_pattern(pat, _hot_events(c), ["user_id"], "ts",
                    "event_id", "event_type").count()


@shape("cep_fork_chunked_hotkey", lambda c: c.nrows("ev"))
def s_cep_fork_chunked_hotkey(c: Ctx) -> None:
    """Exact time-chunked fork compile (round 9) under the SAME hot-key
    profile as cep_fork_hotkey — the measured proof that the batch
    escape hatch drops the flagged per-key buffer bound: the unchunked
    fold buffers the full k×100k/8 per-key history in one aggregation
    buffer, while chunked=True splits it into 48h-aligned chunks whose
    per-(key, chunk) arrays are bounded by horizon density; counts are
    pinned equal by q_cep_chunked_fork's oracle and the equivalence
    property test."""
    from flink_tutorial_broadcast_spark.cep import (
        Pattern, compile_pattern_chunked,
    )
    pat = (Pattern.begin("v", "view").followed_by("c", "click")
           .followed_by("p", "purchase").within("48 hours").no_skip())
    compile_pattern_chunked(pat, _hot_events(c), ["user_id"], "ts",
                            "event_id", "event_type",
                            chunk_horizons=1).count()


def _stepper_rows(c: Ctx, n_keys: int = 8):
    """Hot-key amplified events as ONE in-memory pandas micro-batch per
    key (k×100k fixture events over n_keys keys), keys-first projection
    — the exact frame shape applyInPandasWithState hands the steppers."""
    import pandas as pd
    pdf = (_hot_events(c).withColumn("user_id", F.col("user_id")
                                     % n_keys)
           .select("user_id", "ts", "event_id", "event_type")
           .orderBy("user_id", "ts", "event_id").toPandas())
    return {u: g.reset_index(drop=True)
            for u, g in pdf.groupby("user_id", sort=False)}, len(pdf)


@shape("cep_stepper_throughput", lambda c: c.nrows("ev"))
def s_cep_stepper_throughput(c: Ctx) -> None:
    """STREAMING-stepper hot loop (VERDICT_r8 'what's wrong' item): the
    keyed-state NFA steppers are the documented 100 TB CEP path (O(1)
    or horizon-bounded state vs the batch fold's full-history buffer),
    so their per-key events/sec is a first-class bound. Drives the
    relaxed, fork and KMP steppers directly over k×100k/8 hot-key
    micro-batches (the applyInPandasWithState frame shape, Spark
    dispatch excluded — this measures the stepper itself). Round 9
    replaced the iterrows extraction (measured 0.023 Mrows/s alone)
    with one zip over column arrays (~140x); the residual is the
    per-event Python NFA transition, which is the verb's price."""
    from flink_tutorial_broadcast_spark.cep import (
        _kmp_failure, any_dp_stepper, any_table_stepper, fork_stepper,
        kmp_stepper, relaxed_stepper,
    )

    class _St:
        _s = None
        hasTimedOut = False

        @property
        def exists(self):
            return self._s is not None

        @property
        def get(self):
            return self._s

        def update(self, v):
            self._s = v

        def remove(self):
            self._s = None

        def getCurrentWatermarkMs(self):
            return 0

        def setTimeoutTimestamp(self, ms):
            pass

    per_key, total = _stepper_rows(c)
    # relaxed/fork test `mask & bit` (r9 where() support): codes must
    # be one-hot BITS; kmp compares by equality, any distinct values
    tc = {"view": 1, "click": 2, "purchase": 4}
    # the any-steppers take the Spark-computed mask column directly
    # (type_codes=None production shape) — pre-map the type strings
    masked = {u: pdf.assign(
        event_type=pdf["event_type"].map(tc).fillna(0).astype("int64"))
        for u, pdf in per_key.items()}
    for label, fn in (
            ("relaxed", relaxed_stepper(tc, [1, 2, 4],
                                        key_cols=["user_id"])),
            ("fork_48h", fork_stepper(tc, [1, 2, 4],
                                      48 * 3600 * 1_000_000,
                                      key_cols=["user_id"])),
            ("kmp_strict", kmp_stepper(tc, [1, 1, 4],
                                       key_cols=["user_id"])),
            # r9 followedByAny machines: the DP stepper is the O(K)-
            # longs bound (expected fastest fold); the table stepper's
            # per-event cost scales with live anchors in the horizon
            ("any_dp", any_dp_stepper([1, 2, 4],
                                      key_cols=["user_id"])),
            ("any_table_48h", any_table_stepper(
                [1, 2, 4], 48 * 3600 * 1_000_000,
                key_cols=["user_id"]))):
        src = masked if label.startswith("any_") else per_key
        t0 = time.time()
        for u, pdf in src.items():
            list(fn((u,), iter([pdf]), _St()))
        sec = time.time() - t0
        print(f"#   stepper {label}: {total} events in {sec:.2f}s = "
              f"{total / sec / 1e6:.2f} M events/s "
              f"({total / len(per_key) / sec / 1e3:.0f}k ev/s/key)",
              file=sys.stderr)
    # r10 steppers: masked input (production mask shape); fork_rel
    # additionally carries one value column after the type position
    from flink_tutorial_broadcast_spark.cep import (
        fork_rel_stepper, skip_strategy_stepper, variant_union_stepper,
    )
    W = 48 * 3600 * 1_000_000
    for label, fn in (
            ("variant_union_2v", variant_union_stepper(
                [[1, 2, 4], [1, 4]], W, key_cols=["user_id"])),
            ("skip_past_last_event", skip_strategy_stepper(
                [1, 2, 4], "past_last_event", None, W,
                key_cols=["user_id"])),
            ("skip_to_last_K4", skip_strategy_stepper(
                [1, 2, 2, 4], "to_last", 2, W,
                key_cols=["user_id"]))):
        t0 = time.time()
        for u, pdf in masked.items():
            list(fn((u,), iter([pdf]), _St()))
        sec = time.time() - t0
        print(f"#   stepper {label}: {total} events in {sec:.2f}s = "
              f"{total / sec / 1e6:.2f} M events/s "
              f"({total / len(per_key) / sec / 1e3:.0f}k ev/s/key)",
              file=sys.stderr)
    rel_masked = {u: pdf.assign(
        value=(pdf["event_id"] % 199).astype("float64"))
        for u, pdf in masked.items()}
    fn = fork_rel_stepper([1, 4], [None, ("value", ">", "value",
                                          1.0, 0.0)],
                          ["value"], ["value"], W,
                          key_cols=["user_id"])
    t0 = time.time()
    for u, pdf in rel_masked.items():
        list(fn((u,), iter([pdf]), _St()))
    sec = time.time() - t0
    print(f"#   stepper fork_rel_48h: {total} events in {sec:.2f}s = "
          f"{total / sec / 1e6:.2f} M events/s "
          f"({total / len(per_key) / sec / 1e3:.0f}k ev/s/key)",
          file=sys.stderr)
    # r11 steppers over the same masked hot-key frames
    from flink_tutorial_broadcast_spark.cep import (
        fork_group_loop_stepper, fork_loop_agg_stepper,
        fork_loop_combos_stepper, timeout_stepper,
        zero_or_more_stepper,
    )
    for label, fn, src_map in (
            ("zero_or_more", zero_or_more_stepper(
                [1, 4], W, key_cols=["user_id"]), masked),
            # worst case: an always-true threshold makes EVERY close
            # absorb EVERY parked run (maximal per-run register work)
            ("loop_agg_sum_worst", fork_loop_agg_stepper(
                [1, 4], ("sum", "value", "<", 1e12), W,
                key_cols=["user_id"]), None),
            # realistic: runs absorb ~3 events then keep failing the
            # test (stay path — no register churn, just the compare)
            ("loop_agg_sum_sel", fork_loop_agg_stepper(
                [1, 4], ("sum", "value", "<", 300.0), W,
                key_cols=["user_id"]), None),
            ("timeouts", timeout_stepper(
                [1, 2, 4], W, key_cols=["user_id"]), masked),
            # r12: the group-loop back-edge (view -> (click purchase)+)
            # and the allowCombinations subsequence-register loop. The
            # combos horizon is 60 SECONDS, not 48 h: registers double
            # per close (2^m subsequences is the verb's definition) and
            # the r13 density-fault guard (correctly) refuses any run
            # whose in-horizon close count crosses 62 doublings — at
            # k=16 amplification pushes the old 1 h horizon to
            # hundreds of closes per anchor, so that row now measures
            # the guard, not the stepper (amplified copies share
            # timestamps — even 5 min packs 64 closes); 60 s keeps the
            # measured max at 48 closes, inside the exact BIGINT
            # envelope on BOTH implementations
            ("group_loop", fork_group_loop_stepper(
                [1, 2, 4], 2, W, key_cols=["user_id"]), masked),
            ("loop_combos_60s", fork_loop_combos_stepper(
                [1, 4], 60 * 1_000_000, key_cols=["user_id"]),
             masked),
            ("skip_bindings", skip_strategy_stepper(
                [1, 2, 4], "past_last_event", None, W,
                key_cols=["user_id"], bindings=True), masked),
            ("fork_prev_48h", fork_rel_stepper(
                [1, 2, 4],
                [None, None, ("value", ">", "value", 1.0, 0.0)],
                [], ["value"], W, key_cols=["user_id"],
                srcs=["anchor", "anchor", "prev"],
                pcols=["value"]), None)):
        src = src_map if src_map is not None else rel_masked
        t0 = time.time()
        for u, pdf in src.items():
            list(fn((u,), iter([pdf]), _St()))
        sec = time.time() - t0
        print(f"#   stepper {label}: {total} events in {sec:.2f}s = "
              f"{total / sec / 1e6:.2f} M events/s "
              f"({total / len(per_key) / sec / 1e3:.0f}k ev/s/key)",
              file=sys.stderr)
    assert _kmp_failure([1, 1, 3]) == [0, 0, 1, 0]


@shape("two_phase_manybatch", lambda c: 64 * 1000)
def s_two_phase_manybatch(c: Ctx) -> None:
    """2PC sink over MANY batches (VERDICT_r7 item 4): 64 stage+commit
    cycles of 1000 rows each, then one committed_df() resolve over all
    64 manifests — measures manifest-count growth on both the writer
    (one fsync'd rename per batch) and the reader (manifest scan +
    multi-file parquet read). Linear in batches by construction; the
    reader cost is the part that grows with sink age."""
    import shutil
    import tempfile

    from flink_tutorial_broadcast_spark.streaming.two_phase_sink import (
        TwoPhaseCommitFileSink,
    )
    root = tempfile.mkdtemp(prefix="stress_2pc_")
    try:
        sink = TwoPhaseCommitFileSink(root)
        base = c.ev.select("event_id", "user_id", "value").limit(1000)
        base = base.coalesce(1).localCheckpoint()  # one write per batch
        for b in range(64):
            sink.write_batch(base, b)
        assert sink.committed_batch_ids() == list(range(64))
        assert sink.committed_df(c.spark).count() == 64 * 1000
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    wanted = (sys.argv[2].split(",") if len(sys.argv) > 2
              else list(SHAPES))
    unknown = [w for w in wanted if w not in SHAPES]
    if unknown:
        sys.exit(f"unknown shapes: {unknown}; have {list(SHAPES)}")

    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, k)

    results = {}
    for name in wanted:
        fn, denom = SHAPES[name]
        release_cached_blocks(spark)
        # denominator (and any lazy input build it forces) runs OUTSIDE
        # the timed window — the round-1..3 harness convention
        rows = denom(ctx)
        m0, d0 = spill_totals(spark)
        t0 = time.time()
        fn(ctx)
        sec = time.time() - t0
        m1, d1 = spill_totals(spark)
        results[name] = {
            "rows": rows, "sec": round(sec, 2),
            "mrows_per_s": round(rows / sec / 1e6, 2),
            "spill_mem_mb": round((m1 - m0) / 1e6, 1),
            "spill_disk_mb": round((d1 - d0) / 1e6, 1),
        }
        print(f"# {name}: {results[name]}", file=sys.stderr)

    print(json.dumps({"k": k, "results": results}))


if __name__ == "__main__":
    main()
