"""Seeded workloads of the linkage benchmark: input generation, one timed
operation, and the correctness checks of its output.

Every input comes from `sources.pages.generate_pages(seed=...)`; the
program under test receives the pages with the ground-truth columns
(`cluster_id`, `host`) dropped, and the checks compare its output with
that ground truth afterwards.
"""

from __future__ import annotations

import inspect
import json
import math
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from bayesianrecordlinkage_jl_spark.functions import text as T
from bayesianrecordlinkage_jl_spark.functions.text import phash
from bayesianrecordlinkage_jl_spark.operators import assignment, incremental
from bayesianrecordlinkage_jl_spark.plans.pipeline import LinkageConfig, run_linkage
from bayesianrecordlinkage_jl_spark.sources.pages import generate_pages
from bayesianrecordlinkage_jl_spark.streaming import er

F1_GATE = 0.99


@dataclass(frozen=True)
class Workload:
    kind: str  # "linkage" (run_linkage) or "stream" (apply_increment)
    pages: int  # whole clusters are kept, in id order, until this many pages
    max_cluster_size: int
    n_hosts: int
    batches: int = 0  # stream only: micro-batches the pages are hashed into
    gate_f1: bool = True
    max_block_pairs: int = LinkageConfig.max_block_pairs


# Sizes are set so that a run of the benchmark (JVM start, set-up, warm-up,
# one timed linkage run or stream, and their checks) stays under one minute
# on a 4-vCPU host; Spark's per-stage overhead, not the data, dominates at
# this scale.
WORKLOADS = {
    # A crawl with mirror farms: clusters of 1..16 near-copies over 20 Zipf
    # hosts (the top host holds most pages, so its key blocks are salted).
    # The block cap is scaled down with the clusters: about a third of the
    # components exceed it, so size-capped CC runs its split rounds and
    # flags capped nodes, while the small clusters take the mutual fast
    # path of the assignment. Every run_linkage layer does work here.
    "mirror_hot_blocks": Workload("linkage", 450, 16, 20, max_block_pairs=45),
    # Re-crawl: crawl-style pages (clusters of <= 5 over 200 hosts) hashed
    # by url into 8 micro-batches, applied one at a time (closed loop, one
    # client) through apply_increment into a fresh versioned state
    # directory. The run_linkage layers do nothing here; link_increment
    # and the state reads and writes do everything, and the state grows
    # with every batch.
    "recrawl_stream": Workload("stream", 450, 5, 200, batches=8, gate_f1=False),
}


@dataclass
class Inputs:
    pages: DataFrame  # program input: url, warc_ts, html, text, lang
    truth: DataFrame  # node, cluster_id (planted)
    n_pages: int
    batches: list[DataFrame]  # stream: (doc_id, text) per micro-batch
    batch_sizes: list[int]


def n_clusters(w: Workload) -> int:
    """Clusters to generate: 1.5x the expected need at mean size
    (max_cluster_size + 1) / 2, so the page target is always reached."""
    return math.ceil(1.5 * w.pages * 2 / (w.max_cluster_size + 1))


def make_inputs(spark: SparkSession, w: Workload, seed: int) -> Inputs:
    """Generate and cache the workload's inputs (the timed set-up). Cluster
    sizes are drawn per seed; keeping whole clusters up to a page target
    gives every seed the same input size."""
    gen = generate_pages(
        spark, n_clusters=n_clusters(w), seed=seed,
        max_cluster_size=w.max_cluster_size, n_hosts=w.n_hosts,
    )
    sizes = dict(gen.groupBy("cluster_id").count().collect())
    total, last = 0, -1
    for cid in sorted(sizes):
        total, last = total + sizes[cid], cid
        if total >= w.pages:
            break
    pages = (gen.where(F.col("cluster_id") <= last)
             .withColumn("node", phash(F.col("url"))).localCheckpoint())
    n = total
    truth = pages.select("node", "cluster_id")
    batches, sizes = [], []
    if w.kind == "stream":
        docs = pages.select(
            F.col("node").alias("doc_id"), "text",
            F.pmod(F.col("node"), F.lit(w.batches)).alias("_b"),
        )
        sizes = [0] * w.batches
        for r in docs.groupBy("_b").count().collect():
            sizes[r["_b"]] = r["count"]
        batches = [docs.where(F.col("_b") == b).select("doc_id", "text")
                   for b in range(w.batches)]
    return Inputs(
        pages=pages.drop("cluster_id", "host", "node"),
        truth=truth, n_pages=n, batches=batches, batch_sizes=sizes,
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _digest(df: DataFrame) -> str:
    """Order-independent content digest: row count + sum of row hashes."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{r['n']}:{r['h']}"


def _f1(pred: DataFrame, truth: DataFrame) -> float:
    return incremental.cluster_pair_metrics(
        pred, truth, pred_col="cluster_id", truth_col="cluster_id"
    ).collect()[0]["f1"]


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------


def linkage_config(w: Workload) -> LinkageConfig:
    return LinkageConfig(max_block_pairs=w.max_block_pairs)


def run_linkage_op(spark: SparkSession, w: Workload, inp: Inputs,
                   out_dir: str) -> float:
    """One linkage run with both sinks forced to parquet; returns seconds
    from the run_linkage call to the last sink commit."""
    t0 = time.perf_counter()
    res = run_linkage(spark, inp.pages, linkage_config(w))
    res.links.write.parquet(os.path.join(out_dir, "links"))
    res.clusters.write.parquet(os.path.join(out_dir, "clusters"))
    return time.perf_counter() - t0


def run_stream_op(spark: SparkSession, inp: Inputs, state_dir: str,
                  n_batches: int | None = None) -> list[float]:
    """Apply the micro-batches in order into `state_dir`; returns per-batch
    seconds from the apply_increment call to its _LATEST commit."""
    lat = []
    for b, batch in enumerate(inp.batches[:n_batches]):
        t0 = time.perf_counter()
        er.apply_increment(spark, state_dir, batch, b)
        lat.append(time.perf_counter() - t0)
    return lat


# ---------------------------------------------------------------------------
# correctness checks (outside the timed region)
# ---------------------------------------------------------------------------


@dataclass
class Check:
    f1: float
    digest: str
    out_bytes: int
    failed_ops: int  # operations of this run that failed a check
    problems: list[str]


def check_linkage(spark: SparkSession, inp: Inputs, out_dir: str,
                  gate_f1: bool) -> Check:
    links = spark.read.parquet(os.path.join(out_dir, "links"))
    clusters = spark.read.parquet(os.path.join(out_dir, "clusters"))
    problems = []
    if not assignment.assert_one_to_one(links):
        problems.append("links are not one-to-one")
    r = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url").alias("urls"),
        F.count("cluster_id").alias("labelled"),
    ).collect()[0]
    stray = clusters.join(inp.pages, on="url", how="left_anti").limit(1).count()
    if not (r["n"] == r["urls"] == r["labelled"] == inp.n_pages and stray == 0):
        problems.append(f"pages not in exactly one cluster: {r.asDict()}")
    f1 = _f1(clusters.select("node", "cluster_id"), inp.truth)
    if gate_f1 and f1 < F1_GATE:
        problems.append(f"pair_f1 {f1:.5f} < {F1_GATE}")
    digest = _digest(links) + "/" + _digest(clusters.select("url", "cluster_id"))
    return Check(f1, digest, dir_bytes(out_dir), 1 if problems else 0, problems)


def check_stream(spark: SparkSession, inp: Inputs, state_dir: str) -> Check:
    """Every batch committed its own version, _LATEST points at the last
    one, and every input doc is assigned exactly once, in its own batch."""
    nb = len(inp.batches)
    bad = {b for b in range(nb)
           if not os.path.isdir(os.path.join(state_dir, f"v{b}"))}
    problems = []
    with open(os.path.join(state_dir, "_LATEST")) as f:
        if json.load(f)["version"] != nb - 1:
            problems.append("_LATEST does not point at the last batch")
    _reps, members = er.load_state(spark, state_dir)
    per = {
        r["batch_id"]: (r["n"], r["docs"])
        for r in members.groupBy("batch_id").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("docs")
        ).collect()
    }
    bad |= {b for b in range(nb) if per.get(b) != (inp.batch_sizes[b],) * 2}
    dup = members.groupBy("doc_id").count().where("count > 1").limit(1).count()
    stray = members.join(inp.truth.select(F.col("node").alias("doc_id")),
                         "doc_id", "left_anti").limit(1).count()
    if dup or stray or len(per) != nb:
        bad = set(range(nb))
    if bad:
        problems.append(f"batches not committed once with each doc once: {sorted(bad)}")
    f1 = _f1(members.select(F.col("doc_id").alias("node"), "cluster_id"),
             inp.truth)
    return Check(f1, _digest(members),
                 dir_bytes(os.path.join(state_dir, f"v{nb - 1}")),
                 len(bad) or (nb if problems else 0), problems)


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# traced-run counts (computed after the traced wall time is taken)
# ---------------------------------------------------------------------------


def truth_pairs(truth: DataFrame) -> DataFrame:
    a = truth.select(F.col("node").alias("id_a"), F.col("cluster_id").alias("c"))
    b = truth.select(F.col("node").alias("id_b"), F.col("cluster_id").alias("c"))
    return a.join(b, "c").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")


def increment_candidates(reps: DataFrame, batch: DataFrame) -> int:
    """Candidate (new doc, representative) pairs of one link_increment call:
    the band join with its rep-side stop-key cap, before Jaccard verify.
    Mirrors the candidate stage of link_increment at its default
    parameters (read from its signature)."""
    p = {k: v.default for k, v in
         inspect.signature(incremental.link_increment).parameters.items()
         if v.default is not inspect.Parameter.empty}

    def bands(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        hs = T.shingle_hashes(F.col(text_col), p["shingle_k"])
        return df.select(
            F.col(id_col).cast("long").alias("_id"),
            F.explode(F.array(*[
                T.band_key_from_hashes(hs, b, p["rows_per_band"])
                for b in range(p["n_bands"])
            ])).alias("band_key"),
        )

    rep_b = bands(reps, "rep_id", "rep_text").withColumnRenamed("_id", "_rid")
    kept = (rep_b.groupBy("band_key").count()
            .where(F.col("count") <= p["max_rep_key_df"]).select("band_key"))
    return (bands(batch, "doc_id", "text").join(kept, "band_key")
            .join(rep_b, "band_key").select("_id", "_rid").distinct().count())
