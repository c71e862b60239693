"""Operator catalog over the driver's testdata tables, with DuckDB oracles.

Each entry exposes the Spark implementation (a (spark, sf_dir) -> DataFrame
callable built from the library operators) AND the equivalent DuckDB SQL,
generated from the SAME shared constants/emitters so values match exactly —
including bit-identical doubles (fixed literal tables + fixed left-to-right
association order).

The `documents` table plays the record-table role (doc_id = record id,
(lang, source) = the blocking key); `embeddings` backs similarity search;
`events` backs the windowed-aggregation query. Every query name maps to a
reference operator group from SURVEY.md §2 (noted per entry).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import comparators as C
from ..functions import text as T
from ..functions import weights as W
from ..functions.text import phash
from ..operators import (
    blocking, crawl, dedup, fusion, incremental, pprl, similarity,
    simjoin, sketches,
)
from ..operators.comparison_summary import distinct_vectors, marginal_counts

# ---------------------------------------------------------------------------
# shared constants (single source of truth for Spark AND SQL sides)
# ---------------------------------------------------------------------------

LEV_PREFIX = 64
NCHAR_CUTS = [50]
FIELD_KINDS = [("g1", "lev"), ("g2", "jac"), ("g3", "band")]
GCOLS = ["g1", "g2", "g3"]
NLEVELS = {"g1": 4, "g2": 4, "g3": len(NCHAR_CUTS) + 2}
PENALTY = 5.0
POSTERIOR_P = 0.01
EDGE_THRESHOLD = 0.0
CHAIN_BURNIN = 10
CHAIN_STEP = 15
JACCARD_MIN_PCT = 30
SIMHASH_MAX_HAMMING = 3  # < n_chunks: exact pigeonhole-guarantee regime
SIMHASH_NBITS = 60  # full phash width; 32-bit saturates on the vocab-limited corpus
TOPK = 5
TOPK_QUERY_MAX_ID = 10
EMB_DIM_DEDUP = 64
EMB_COS_MIN = 0.3  # sf testdata max pairwise cosine is ~0.51
EMB_LSH_PLANES = 4
# FS decision thresholds: all three bands non-empty at every SF
# (sf0.001: 1/53/1409, sf0.01: 2/53/1566, sf0.1: 67/5083/154143)
FS_LOWER, FS_UPPER = -1.0, 2.0
REVIEW_K = 200  # clerical-review queue capacity (top-k by weight)
SNM_WINDOW = 6  # sorted-neighborhood sliding-window width
TFCOS_MIN_E4 = 2500   # tf-cosine^2 >= 0.25 (cos >= 0.5) in 1e-4 units
TFCOS_MAX_DF = 100    # tf-cosine stop-term document-frequency cap
EDIT_MAX_DIST = 2     # edit-join levenshtein band
MB_MIN_DF, MB_MAX_DF = 2, 40  # meta-blocking block-purging DF bounds
VSW_M = 0.95  # m-probability literal for value-specific agreement ratios


def _mw_prior_modes() -> tuple[dict, dict]:
    """Dirichlet-prior modes for max_weights_path's second path element:
    agreement-leaning M pseudo-counts (alpha_l = 1 + l) and the reversed
    disagreement-leaning U. Exact integer ratios — (alpha-1)/(sum-K) is a
    single double division, so the frozen SQL literals are bit-identical."""
    import numpy as np

    from ..operators import em as _em

    a_m = {
        g: np.array([1.0 + l for l in range(1, NLEVELS[g] + 1)]) for g in GCOLS
    }
    a_u = {
        g: np.array([1.0 + (NLEVELS[g] + 1 - l) for l in range(1, NLEVELS[g] + 1)])
        for g in GCOLS
    }
    return (
        {g: _em.prior_mode(a_m[g]) for g in GCOLS},
        {g: _em.prior_mode(a_u[g]) for g in GCOLS},
    )


_MW_PM_EXPORT, _MW_PU_EXPORT = _mw_prior_modes()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- comparison-vector expressions (documents self-pairs) -------------------


def _g_exprs_sql(a: str = "a", b: str = "b") -> dict:
    return {
        "g1": C.lev_ord_sql(
            f"substr({a}.text,1,{LEV_PREFIX})", f"substr({b}.text,1,{LEV_PREFIX})"
        ),
        "g2": C.token_jaccard_ord_sql(f"{a}.text", f"{b}.text"),
        "g3": C.num_band_ord_sql(f"{a}.n_chars", f"{b}.n_chars", NCHAR_CUTS),
    }


def _pairs_spark(
    spark: SparkSession, sf_dir: str, block_cols: tuple = ("lang", "source")
) -> DataFrame:
    """Candidate pairs by equi-self-join blocking on `block_cols`.

    The pair table is small in BYTES but the downstream comparators
    (levenshtein / token-jaccard) are CPU-heavy per ROW. Catalyst pushes
    weight filters down INTO the join stage, so parallelism must exist
    UPSTREAM of the join: repartition the probe side before joining
    (a post-join repartition would be bypassed by predicate pushdown and
    the scoring would serialize onto the single parquet-scan task)."""
    return _pairs_from_docs(
        spark,
        load(spark, sf_dir, "documents"),
        block_cols,
        n_rows=_doc_count(spark, sf_dir),
    )


# broadcast-gate row counts, cached per (session, sf_dir) so the gate job
# runs ONCE per bench/parity run instead of once per catalog query build
# (VERDICT r2 "What's wrong" #4 / ADVICE r2).
_DOC_COUNT_CACHE: dict = {}


def _doc_count(spark: SparkSession, sf_dir: str) -> int:
    key = (id(spark), sf_dir)
    if key not in _DOC_COUNT_CACHE:
        _DOC_COUNT_CACHE[key] = load(spark, sf_dir, "documents").count()
    return _DOC_COUNT_CACHE[key]


BROADCAST_MAX_ROWS = 200_000  # dim-side row knob; above it AQE decides


def _pairs_from_docs(
    spark: SparkSession,
    d: DataFrame,
    block_cols: tuple = ("lang", "source"),
    broadcast_max_rows: int | None = BROADCAST_MAX_ROWS,
    n_rows: int | None = None,
) -> DataFrame:
    n_part = spark.sparkContext.defaultParallelism * 2
    # Comparator inputs are precomputed ONCE PER DOCUMENT below the join
    # (tokenize + prefix), so per-pair comparator cost is a hash-set
    # intersect on small arrays instead of re-tokenizing both full texts —
    # measured ~20x on the sf0.1 scoring stage. Only these narrow derived
    # columns cross the shuffle/broadcast, never the full text.
    proj = d.select(
        "doc_id", "lang", "source", "n_chars",
        F.substring("text", 1, LEV_PREFIX).alias("t64"),
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    a = proj.repartition(n_part, "doc_id").select(
        F.col("doc_id").alias("id_a"), *block_cols,
        F.col("t64").alias("t64_a"), F.col("toks").alias("toks_a"),
        F.col("n_chars").alias("n_chars_a"),
    )
    b = proj.select(
        F.col("doc_id").alias("id_b"), *block_cols,
        F.col("t64").alias("t64_b"), F.col("toks").alias("toks_b"),
        F.col("n_chars").alias("n_chars_b"),
    )
    # Broadcast only when the dim side is PROVABLY small (row-count gate —
    # a parquet count is metadata-cheap); an unconditional hint would OOM
    # the executors at web scale since hints override the size threshold.
    # Above the knob, no hint: AQE picks the strategy at runtime, including
    # skew-join splitting for hot block keys.
    build = b
    if broadcast_max_rows is not None:
        if n_rows is None:
            n_rows = d.count()
        if n_rows <= broadcast_max_rows:
            build = F.broadcast(b)
    return (
        a.join(build, on=list(block_cols))
        .where(F.col("id_a") < F.col("id_b"))
    )


def _replicated_documents(spark: SparkSession, sf_dir: str, replicate: int) -> DataFrame:
    """documents unioned `replicate` times with disjoint doc_id ranges —
    deterministic input scaling for throughput measurement (pair count
    grows ~replicate^2 under the same blocking key)."""
    d = load(spark, sf_dir, "documents")
    parts = [
        d.withColumn("doc_id", F.col("doc_id") + F.lit(r * 1_000_000_000))
        for r in range(replicate)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scoring_throughput_job(
    spark: SparkSession,
    sf_dir: str,
    block_cols: tuple = ("lang",),
    replicate: int = 1,
) -> DataFrame:
    """North-rule throughput workload: candidate pairs under a COARSER
    blocking key (lang-only ~20x more pairs than (lang, source)) scored
    end-to-end — enough work per job to measure candidate-pairs-scored/sec
    without fixed scheduling overhead dominating. Same operators as
    fs_weights, so the measured rate is the production scoring rate.
    `replicate` scales the corpus (disjoint id ranges) to push the job long
    enough that fixed startup is amortized in scaling measurements."""
    d = _replicated_documents(spark, sf_dir, replicate) if replicate > 1 else None
    pairs = _pairs_spark(spark, sf_dir, block_cols) if d is None else _pairs_from_docs(
        spark, d, block_cols
    )
    raw = _raw_measures(pairs)
    agg = raw.groupBy("id_a", "id_b").agg(
        *[F.first(c).alias(c) for c in _RAW_COLS]
    )
    b = _bin_exprs()
    binned = agg.select("id_a", "id_b", *[b[g].alias(g) for g in GCOLS])
    return binned.withColumn(
        "w", W.fs_weight([(F.col(g), k) for g, k in FIELD_KINDS])
    )


_PAIRS_SQL = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang, a.source,
       a.text AS text_a, b.text AS text_b,
       a.n_chars AS n_chars_a, b.n_chars AS n_chars_b
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
"""


LEV_THRESHOLD = LEV_PREFIX // 2  # all bin boundaries are at distance <= mx/2


def _raw_measures(pairs: DataFrame) -> DataFrame:
    """Per-pair raw comparator measures, each expression evaluated exactly
    once: banded levenshtein with early abandon (-1 beyond threshold),
    greatest length, token-intersection size (+ side sizes). The binning
    CASEs run AFTER the pair-key aggregate barrier, so the expensive
    kernels are never inlined into multiple CASE branches."""
    return pairs.select(
        "id_a",
        "id_b",
        F.levenshtein("t64_a", "t64_b", LEV_THRESHOLD).alias("_lev"),
        F.greatest(F.length("t64_a"), F.length("t64_b")).alias("_mx"),
        F.size(F.array_intersect("toks_a", "toks_b")).alias("_i"),
        (F.size("toks_a") + F.size("toks_b")).alias("_nab"),
        "n_chars_a",
        "n_chars_b",
    )


_RAW_COLS = ["_lev", "_mx", "_i", "_nab", "n_chars_a", "n_chars_b"]


def _bin_exprs() -> dict:
    return {
        "g1": C.lev_ord_from_raw(F.col("_lev"), F.col("_mx")),
        "g2": C.token_jaccard_ord_from_counts(
            F.col("_i"), F.col("_nab") - F.col("_i")
        ),
        "g3": C.num_band_ord(F.col("n_chars_a"), F.col("n_chars_b"), NCHAR_CUTS),
    }


def _vectors_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _raw_measures(_pairs_spark(spark, sf_dir))
    agg = raw.groupBy("id_a", "id_b").agg(
        *[F.first(c).alias(c) for c in _RAW_COLS]
    )
    b = _bin_exprs()
    return agg.select("id_a", "id_b", *[b[g].alias(g) for g in GCOLS])


def _vectors_sql() -> str:
    g = _g_exprs_sql()
    return f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {g['g1']} AS g1, {g['g2']} AS g2, {g['g3']} AS g3
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    """


_WEIGHT_EXPR_SQL = W.fs_weight_sql(FIELD_KINDS)


def _scored_pairs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted pairs with the comparator kernels evaluated EXACTLY once.

    _vectors_spark computes raw measures (banded levenshtein, intersect
    size) in one pre-shuffle projection, crosses the pair-key aggregate
    barrier (which Catalyst predicates/projections cannot cross — a naive
    withColumn(w)+filter(w>0) inlines every comparator subtree into the
    pushed-down predicate, measured 4x the single-pass cost), then bins.
    Downstream filters/windows see only tinyint g-columns and the cheap
    CASE weight."""
    v = _vectors_spark(spark, sf_dir)
    return v.withColumn(
        "w", W.fs_weight([(F.col(g), k) for g, k in FIELD_KINDS])
    ).select("id_a", "id_b", *GCOLS, "w")


def _weighted_pairs_sql() -> str:
    return f"SELECT id_a, id_b, {_WEIGHT_EXPR_SQL} AS w FROM ({_vectors_sql()})"


# ---------------------------------------------------------------------------
# session-memoized shared upstream (VERDICT r3 "Next round" #1)
# ---------------------------------------------------------------------------
# The comparison-vector table, its FS-scored form, and the positive-weight
# connected components are consumed by ~20 catalog rows. Rebuilding
# blocking+comparators per row made the sf0.01 correctness gate expensive
# enough that the r3 driver sampled only 50/107 queries. The catalog now
# shares ONE localCheckpoint'ed build per (session, sf_dir,
# shuffle-partitions): the shuffle-partition key term keeps
# tests/test_determinism.py meaningful (its 7- vs 53-partition runs must
# rebuild, not reuse a cached RDD). bench.py clears the memo before every
# timed replicate so per-query bench numbers stay end-to-end rebuilds.
# Set SPARK_GRAFT_MEMO_UPSTREAM=0 to disable entirely.
#
# The pure builders above (_vectors_spark/_scored_pairs_spark/_cc_spark)
# stay untouched — tests/test_plans.py pins their optimized plans (single
# levenshtein evaluation, barrier placement), which a checkpointed RDD
# would hide.

_UPSTREAM_MEMO: dict = {}


def _memo_enabled() -> bool:
    import os

    return os.environ.get("SPARK_GRAFT_MEMO_UPSTREAM", "1") != "0"


def clear_upstream_memo() -> None:
    """Drop all memoized upstream DataFrames (benchmarks call this before
    each timed replicate; otherwise the memo lives for the session)."""
    _UPSTREAM_MEMO.clear()


def _memo_key(spark: SparkSession, sf_dir: str, tag: str) -> tuple:
    return (
        tag,
        id(spark),
        sf_dir,
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def _vectors_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """localCheckpoint'ed comparison vectors, one comparator pass per
    (session, sf_dir): every downstream consumer sees only tinyint g-cols."""
    if not _memo_enabled():
        return _vectors_spark(spark, sf_dir)
    key = _memo_key(spark, sf_dir, "vectors")
    if key not in _UPSTREAM_MEMO:
        _UPSTREAM_MEMO[key] = _vectors_spark(spark, sf_dir).localCheckpoint()
    return _UPSTREAM_MEMO[key]


def _scored_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FS-scored pairs over the cached vectors. The weight column is a
    cheap integer-CASE over checkpointed tinyints, so consumers that read
    it twice (mutual_best, drop_outside) no longer re-run comparators."""
    v = _vectors_cached(spark, sf_dir)
    return v.withColumn(
        "w", W.fs_weight([(F.col(g), k) for g, k in FIELD_KINDS])
    ).select("id_a", "id_b", *GCOLS, "w")


def _cc_pos_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized connected components of the positive-weight pair graph
    (edge-bearing nodes only, component = min node id)."""
    from ..operators.connected_components import connected_components

    if not _memo_enabled():
        wp = _scored_pairs_spark(spark, sf_dir).localCheckpoint()
        return connected_components(
            wp.where(F.col("w") > EDGE_THRESHOLD).select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            )
        )
    key = _memo_key(spark, sf_dir, "cc_pos")
    if key not in _UPSTREAM_MEMO:
        edges = _scored_pairs_cached(spark, sf_dir).where(
            F.col("w") > EDGE_THRESHOLD
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        _UPSTREAM_MEMO[key] = connected_components(edges).localCheckpoint()
    return _UPSTREAM_MEMO[key]


def _jp_exact_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized EXACT n-gram-Jaccard pair graph (the blocked full-verify
    form, not the LSH-candidate form) — shared by size_capped_components
    and constrained_components, whose iterative loops otherwise each
    rebuild the tokenize+self-join upstream."""
    def _build():
        return dedup.ngram_jaccard_pairs(
            load(spark, sf_dir, "documents"), "doc_id", "text",
            ["lang", "source"], JACCARD_MIN_PCT,
        )

    if not _memo_enabled():
        return _build()
    key = _memo_key(spark, sf_dir, "jp_exact")
    if key not in _UPSTREAM_MEMO:
        _UPSTREAM_MEMO[key] = _build().localCheckpoint()
    return _UPSTREAM_MEMO[key]


def _jaccard_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized LSH-verified near-dup pairs (the shared edge source for
    dedup_jaccard_lsh_verified, blocking_quality, cluster metrics,
    kwikcluster, stable_relabel and the incremental-ER queries): the
    MinHash band join + exact verify runs ONCE per (session, sf_dir)
    instead of once per catalog row — the VERDICT-r3 gate-budget fix
    applied to the second expensive upstream."""
    if not _memo_enabled():
        return dedup.ngram_jaccard_pairs_via_lsh(
            load(spark, sf_dir, "documents"), "doc_id", "text",
            JACCARD_MIN_PCT,
        )
    key = _memo_key(spark, sf_dir, "jaccard_edges")
    if key not in _UPSTREAM_MEMO:
        _UPSTREAM_MEMO[key] = dedup.ngram_jaccard_pairs_via_lsh(
            load(spark, sf_dir, "documents"), "doc_id", "text",
            JACCARD_MIN_PCT,
        ).localCheckpoint()
    return _UPSTREAM_MEMO[key]


def _jaccard_cc_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized connected components (isolated docs included) of the
    near-dup edge graph — shared truth clustering of cluster_metrics /
    bcubed_metrics / ari_metrics / stable_relabel."""
    from ..operators.connected_components import components_with_isolated

    def _build():
        edges = _jaccard_edges_cached(spark, sf_dir).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        nodes = load(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("node")
        )
        return components_with_isolated(edges, nodes)

    if not _memo_enabled():
        return _build()
    key = _memo_key(spark, sf_dir, "jaccard_cc")
    if key not in _UPSTREAM_MEMO:
        _UPSTREAM_MEMO[key] = _build().localCheckpoint()
    return _UPSTREAM_MEMO[key]


def _embcos_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized embedding-cosine LSH pairs — the third expensive shared
    upstream (consumers: dedup_embedding_cosine, contrastive_pair_mining,
    embedding_label_consistency). Same gate-budget rationale as
    _jaccard_edges_cached: the sign-LSH band join + exact cosine verify
    runs ONCE per (session, sf_dir) instead of once per catalog row."""
    from ..operators import dedup as _dedup

    def _build():
        return _dedup.embedding_cosine_pairs(
            load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            dim=EMB_DIM_DEDUP, min_cosine=EMB_COS_MIN,
            n_planes=EMB_LSH_PLANES,
        )

    if not _memo_enabled():
        return _build()
    key = _memo_key(spark, sf_dir, "embcos_pairs")
    if key not in _UPSTREAM_MEMO:
        _UPSTREAM_MEMO[key] = _build().localCheckpoint()
    return _UPSTREAM_MEMO[key]


def _cc_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized _cc_spark twin: components plus isolated docs labeled by
    their own id (labels identical — isolated docs never carry edges)."""
    from ..operators.connected_components import components_with_isolated

    wp = _scored_pairs_cached(spark, sf_dir)
    edges = wp.where(F.col("w") > EDGE_THRESHOLD).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return components_with_isolated(
        edges,
        load(spark, sf_dir, "documents").select(F.col("doc_id").alias("node")),
        cc=_cc_pos_cached(spark, sf_dir),
    )


# exact-posterior matching: product-space ratio floor + enumeration cap
# (both static, mirrored verbatim in the DuckDB twin)
EP_R0 = 0.05
EP_CAP = 10
# exact_posterior_links_global prior: beta-bipartite(1,1) over STATIC
# EPG_NR x EPG_NC dims (a modeling constant — never data-derived, per the
# static-oracle invariant). 60x60 gives a nontrivial link/non-link split
# with every gate-fixture marginal clearing 0.5 by >= 4e-3
# (tests/test_mcmc.py::test_exact_posterior_global_margin).
EPG_NR = 60
EPG_NC = 60
EPG_LMAX = min(EPG_NR, EPG_NC)


def _epg_lprior(L: str) -> str:
    """betabipartite_logprior(L, EPG_NR, EPG_NC, 1, 1) as a DuckDB
    expression (lbeta(1,1) = 0 drops out)."""
    return (
        f"(lgamma({EPG_NR} - ({L}) + 1) - lgamma({EPG_NR} + 1) "
        f"+ lgamma(({L}) + 1.0) + lgamma({EPG_NC} - ({L}) + 1.0) "
        f"- lgamma({EPG_NC} + 2.0))"
    )


def _lconv_sql(a: str, b: str) -> str:
    """Log-domain polynomial convolution of two dense log-coefficient
    lists (1-indexed): out[k] = logsumexp_{i+j-1=k} a[i] + b[j]. The term
    list is written three times because DuckDB lambdas have no
    let-binding; matching-GF degree supports are contiguous so no NULL
    handling is needed."""
    t = (
        f"list_transform(range(greatest(1, k - len({a}) + 1), "
        f"least(len({b}), k) + 1), j -> {a}[k-j+1] + {b}[j])"
    )
    return (
        f"list_transform(range(1, len({a}) + len({b})), k -> "
        f"list_max({t}) + ln(list_sum(list_transform({t}, "
        f"u -> exp(u - list_max({t}))))))"
    )


def _ep_blocked_pairs(s: SparkSession, d: str) -> DataFrame:
    """(id_a, id_b, r, block_id) for exact_posterior_links: per-pair
    PRODUCT-SPACE likelihood ratios (left-to-right Π m/u, the same fold as
    pp_oracle._ratio_expr — no exp/log anywhere) from the live EM fit,
    thresholded at EP_R0, blocked by connected components."""
    import pandas as pd

    from ..operators import em
    from ..operators.comparison_summary import attach_vec_ids
    from ..operators.connected_components import connected_components

    v = _vectors_cached(s, d)
    dvdf = distinct_vectors(v, GCOLS)
    dv = dvdf.orderBy("vec_id").toPandas()
    params = em.estimate_em(dv, GCOLS, NLEVELS)
    rs = []
    for row in dv.itertuples():
        acc = 1.0
        for g in GCOLS:  # left-to-right fold == _ratio_expr's _prod
            lvl = getattr(row, g)
            if lvl is not None and not pd.isna(lvl) and int(lvl) > 0:
                acc = acc * (
                    params.pM[g][int(lvl) - 1] / params.pU[g][int(lvl) - 1]
                )
        rs.append({"vec_id": int(row.vec_id), "r": acc})
    rdf = s.createDataFrame(pd.DataFrame(rs), schema="vec_id long, r double")
    pairs = attach_vec_ids(v, dvdf, GCOLS).select("id_a", "id_b", "vec_id")
    rp = (
        pairs.join(F.broadcast(rdf), on="vec_id")
        .where(F.col("r") > EP_R0)
        .select("id_a", "id_b", "r")
        .localCheckpoint()  # consumed by CC and the block join
    )
    comps = connected_components(
        rp.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    blocked = rp.join(
        comps.withColumnRenamed("node", "id_a"), on="id_a"
    ).withColumnRenamed("component", "block_id")
    return blocked.select("id_a", "id_b", "r", "block_id")


def _edges_sql() -> str:
    return f"SELECT id_a, id_b FROM ({_weighted_pairs_sql()}) WHERE w > {EDGE_THRESHOLD!r}e0"


_CC_SQL_TEMPLATE = """
WITH RECURSIVE edges AS MATERIALIZED ({edges}),
nodes AS (SELECT DISTINCT doc_id AS node FROM documents),
bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM edges
       UNION SELECT id_b AS a, id_a AS b FROM edges),
walk(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT bi.b, walk.comp FROM walk JOIN bi ON bi.a = walk.node
  WHERE walk.comp < bi.b
)
SELECT node, min(comp) AS component FROM walk GROUP BY node
"""


PROG_BUDGET = 400  # progressive-ER comparison budget (pairs resolved)


def _progressive_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PROG_BUDGET scored pairs in (w DESC, id_a, id_b) total order —
    compiles to TakeOrderedAndProject (plan-pinned), never a global sort."""
    sp = _scored_pairs_cached(spark, sf_dir)
    return sp.orderBy(
        F.col("w").desc(), F.col("id_a"), F.col("id_b")
    ).limit(PROG_BUDGET)


def _cc_from_scored(
    spark: SparkSession, sf_dir: str, wp: DataFrame
) -> DataFrame:
    """Components of the positive-weight pair graph (isolated docs labeled
    by their own id), given an already-scored pairs DataFrame."""
    from ..operators.connected_components import components_with_isolated

    edges = wp.where(F.col("w") > EDGE_THRESHOLD).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    nodes = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    return components_with_isolated(edges, nodes)


def _cc_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cc_from_scored(spark, sf_dir, _scored_pairs_spark(spark, sf_dir))


def _cc_sql() -> str:
    return _CC_SQL_TEMPLATE.format(edges=_edges_sql())


# -- size-capped components oracle (iterative_bipartite_cluster2) -----------
#
# The Spark operator raises the threshold by CAPPED_CC_INCR each round until
# every component's pair count fits under CAPPED_CC_MAX_PAIRS. Run over the
# n-gram-Jaccard near-dup graph (w = jac_pct <= 100) with incr spanning the
# weight range, the loop provably terminates within CAPPED_CC_ROUNDS rounds
# (at t >= 100 every edge drops), so the oracle can unroll EXACTLY that many
# rounds as chained recursive-CTE blocks — a static SQL, faithful to every
# exit path (clean convergence, unsplittable-block flush, round exhaustion).
CAPPED_CC_T0 = 25.0
CAPPED_CC_INCR = 25.0
CAPPED_CC_MAX_PAIRS = 60
CAPPED_CC_ROUNDS = 4  # t = 25, 50, 75, 100; at 100 no edge survives


def _capped_cc_round_sql(r: int, t: float, t_next: float, cap: int) -> str:
    """CTE block for one threshold round r (active set a_{r} -> a_{r+1}).

    live_{r} gates emissions: once an unsplittable block halted the loop at
    an earlier round, later rounds must emit nothing (the Spark loop has
    broken). halt_{r} mirrors the operator's break test: the restricted
    active set is non-empty but no edge would be dropped by the next
    threshold (w <= t_next nowhere, which folds the loop's two emptiness
    probes into one)."""
    return f"""
    e_{r} AS MATERIALIZED (SELECT id_a, id_b FROM a_{r} WHERE w > {t!r}e0),
    -- NB: inside a WITH RECURSIVE block DuckDB treats a CTE's top-level
    -- UNION as the recursion operator and does NOT dedup a non-recursive
    -- one, so dedup must be an explicit DISTINCT over UNION ALL
    an_{r} AS (SELECT DISTINCT node FROM (
      SELECT id_a AS node FROM a_{r} UNION ALL SELECT id_b FROM a_{r})),
    bi_{r} AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM e_{r}
                            UNION ALL SELECT id_b AS a, id_a AS b FROM e_{r}),
    walk_{r}(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM bi_{r})
      UNION
      SELECT bi.b, w.comp FROM walk_{r} w JOIN bi_{r} bi ON bi.a = w.node
      WHERE w.comp < bi.b
    ),
    cc_{r} AS MATERIALIZED (SELECT node, min(comp) AS component
                            FROM walk_{r} GROUP BY node),
    iso_{r} AS (
      SELECT node, node AS component, FALSE AS capped FROM an_{r}
      WHERE node NOT IN (SELECT node FROM cc_{r})
        AND (SELECT l FROM live_{r})
    ),
    ec_{r} AS (SELECT cc.component, count(*) AS n_pairs
               FROM e_{r} e JOIN cc_{r} cc ON cc.node = e.id_a
               GROUP BY cc.component),
    ok_{r} AS (
      SELECT cc.node, cc.component, FALSE AS capped
      FROM cc_{r} cc JOIN ec_{r} ec ON ec.component = cc.component
      WHERE ec.n_pairs <= {cap} AND (SELECT l FROM live_{r})
    ),
    over_{r} AS (SELECT cc.node FROM cc_{r} cc
                 JOIN ec_{r} ec ON ec.component = cc.component
                 WHERE ec.n_pairs > {cap}),
    a_{r + 1} AS MATERIALIZED (
      SELECT a.* FROM a_{r} a
      WHERE a.id_a IN (SELECT node FROM over_{r})
        AND a.id_b IN (SELECT node FROM over_{r})
    ),
    halt_{r} AS (SELECT EXISTS (SELECT 1 FROM a_{r + 1})
                   AND NOT EXISTS (SELECT 1 FROM a_{r + 1}
                                   WHERE w <= {t_next!r}e0) AS h),
    fe_{r} AS (SELECT id_a, id_b FROM a_{r + 1} WHERE w > {t!r}e0),
    fbi_{r} AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM fe_{r}
                             UNION ALL SELECT id_b AS a, id_a AS b FROM fe_{r}),
    fwalk_{r}(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM fbi_{r})
      UNION
      SELECT bi.b, w.comp FROM fwalk_{r} w JOIN fbi_{r} bi ON bi.a = w.node
      WHERE w.comp < bi.b
    ),
    fcc_{r} AS (SELECT node, min(comp) AS component FROM fwalk_{r} GROUP BY node),
    flush_{r} AS (
      SELECT n.node, coalesce(f.component, n.node) AS component, TRUE AS capped
      FROM (SELECT DISTINCT node FROM (SELECT id_a AS node FROM a_{r + 1}
            UNION ALL SELECT id_b FROM a_{r + 1})) n
      LEFT JOIN fcc_{r} f ON f.node = n.node
      WHERE (SELECT h FROM halt_{r}) AND (SELECT l FROM live_{r})
    ),
    live_{r + 1} AS (SELECT (SELECT l FROM live_{r})
                       AND NOT (SELECT h FROM halt_{r}) AS l),
    """


def _capped_cc_sql() -> str:
    """Static unrolled oracle for size_capped_components over the
    n-gram-Jaccard graph. Emits (node, component, capped) — see
    _capped_cc_round_sql for the per-round block."""
    pairs = dedup.ngram_jaccard_pairs_sql(
        "documents", "doc_id", "text", ["lang", "source"], JACCARD_MIN_PCT
    )
    rounds = []
    emits = []
    for r in range(CAPPED_CC_ROUNDS):
        t = CAPPED_CC_T0 + r * CAPPED_CC_INCR
        rounds.append(
            _capped_cc_round_sql(r, t, t + CAPPED_CC_INCR, CAPPED_CC_MAX_PAIRS)
        )
        emits += [f"SELECT * FROM iso_{r}", f"SELECT * FROM ok_{r}",
                  f"SELECT * FROM flush_{r}"]
    # round-exhaustion flush at the LAST MEASURED threshold (t of the final
    # round) — mirrors the operator's for-else branch
    k = CAPPED_CC_ROUNDS
    t_last = CAPPED_CC_T0 + (k - 1) * CAPPED_CC_INCR
    final = f"""
    xe AS (SELECT id_a, id_b FROM a_{k} WHERE w > {t_last!r}e0),
    xbi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM xe
                         UNION ALL SELECT id_b AS a, id_a AS b FROM xe),
    xwalk(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM xbi)
      UNION
      SELECT bi.b, w.comp FROM xwalk w JOIN xbi bi ON bi.a = w.node
      WHERE w.comp < bi.b
    ),
    xcc AS (SELECT node, min(comp) AS component FROM xwalk GROUP BY node),
    xflush AS (
      SELECT n.node, coalesce(f.component, n.node) AS component, TRUE AS capped
      FROM (SELECT DISTINCT node FROM (SELECT id_a AS node FROM a_{k}
            UNION ALL SELECT id_b FROM a_{k})) n
      LEFT JOIN xcc f ON f.node = n.node
      WHERE (SELECT l FROM live_{k})
    )
    """
    emits.append("SELECT * FROM xflush")
    body = "".join(rounds)
    union = "\n    UNION ALL ".join(emits)
    return f"""
    WITH RECURSIVE jp AS MATERIALIZED ({pairs}),
    a_0 AS MATERIALIZED (SELECT id_a, id_b, jac_pct AS w FROM jp),
    live_0 AS (SELECT TRUE AS l),
    {body}
    {final}
    SELECT CAST(node AS BIGINT) AS node,
           CAST(component AS BIGINT) AS component, capped
    FROM ({union})
    """


# -- cannot-link constrained components oracle (cluster repair) -------------
#
# Same unrolled-recursive-CTE structure as _capped_cc_sql, with the oversize
# predicate replaced by a constraint-violation predicate: a component stays
# active while it contains both endpoints of a cannot-link pair. Constraints
# are a deterministic phash-selected subset of the n-gram-Jaccard pair graph
# itself (every constraint starts violated at the base threshold, so the
# repair loop is actually exercised); termination bound identical (at t=100
# every edge drops, so no constraint can remain violated).
CL_CC_MOD = 7  # jp pairs with phash('cl',...) % 7 == 0 become constraints


def _constrained_cc_round_sql(r: int, t: float, t_next: float) -> str:
    """CTE block for one threshold round of the cannot-link repair (active
    set ca_{r} -> ca_{r+1}); live/halt gating identical to
    _capped_cc_round_sql."""
    return f"""
    ce_{r} AS MATERIALIZED (SELECT id_a, id_b FROM ca_{r} WHERE w > {t!r}e0),
    can_{r} AS (SELECT DISTINCT node FROM (
      SELECT id_a AS node FROM ca_{r} UNION ALL SELECT id_b FROM ca_{r})),
    cbi_{r} AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM ce_{r}
                             UNION ALL SELECT id_b AS a, id_a AS b FROM ce_{r}),
    cwalk_{r}(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM cbi_{r})
      UNION
      SELECT bi.b, w.comp FROM cwalk_{r} w JOIN cbi_{r} bi ON bi.a = w.node
      WHERE w.comp < bi.b
    ),
    ccc_{r} AS MATERIALIZED (SELECT node, min(comp) AS component
                             FROM cwalk_{r} GROUP BY node),
    ciso_{r} AS (
      SELECT node, node AS component, FALSE AS violated FROM can_{r}
      WHERE node NOT IN (SELECT node FROM ccc_{r})
        AND (SELECT l FROM clive_{r})
    ),
    cdirty_{r} AS (
      SELECT DISTINCT pa.component
      FROM kl JOIN ccc_{r} pa ON pa.node = kl.id_a
              JOIN ccc_{r} pb ON pb.node = kl.id_b
                             AND pb.component = pa.component),
    cok_{r} AS (
      SELECT cc.node, cc.component, FALSE AS violated
      FROM ccc_{r} cc
      WHERE cc.component NOT IN (SELECT component FROM cdirty_{r})
        AND (SELECT l FROM clive_{r})
    ),
    cover_{r} AS (SELECT cc.node FROM ccc_{r} cc
                  WHERE cc.component IN (SELECT component FROM cdirty_{r})),
    ca_{r + 1} AS MATERIALIZED (
      SELECT a.* FROM ca_{r} a
      WHERE a.id_a IN (SELECT node FROM cover_{r})
        AND a.id_b IN (SELECT node FROM cover_{r})
    ),
    chalt_{r} AS (SELECT EXISTS (SELECT 1 FROM ca_{r + 1})
                    AND NOT EXISTS (SELECT 1 FROM ca_{r + 1}
                                    WHERE w <= {t_next!r}e0) AS h),
    cfe_{r} AS (SELECT id_a, id_b FROM ca_{r + 1} WHERE w > {t!r}e0),
    cfbi_{r} AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM cfe_{r}
                              UNION ALL SELECT id_b AS a, id_a AS b FROM cfe_{r}),
    cfwalk_{r}(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM cfbi_{r})
      UNION
      SELECT bi.b, w.comp FROM cfwalk_{r} w JOIN cfbi_{r} bi ON bi.a = w.node
      WHERE w.comp < bi.b
    ),
    cfcc_{r} AS (SELECT node, min(comp) AS component
                 FROM cfwalk_{r} GROUP BY node),
    cflush_{r} AS (
      SELECT n.node, coalesce(f.component, n.node) AS component, TRUE AS violated
      FROM (SELECT DISTINCT node FROM (SELECT id_a AS node FROM ca_{r + 1}
            UNION ALL SELECT id_b FROM ca_{r + 1})) n
      LEFT JOIN cfcc_{r} f ON f.node = n.node
      WHERE (SELECT h FROM chalt_{r}) AND (SELECT l FROM clive_{r})
    ),
    clive_{r + 1} AS (SELECT (SELECT l FROM clive_{r})
                        AND NOT (SELECT h FROM chalt_{r}) AS l),
    """


def _constrained_cc_sql() -> str:
    """Static unrolled oracle for cannot_link_components over the
    n-gram-Jaccard graph with phash-selected constraint pairs. Emits
    (node, component, violated)."""
    pairs = dedup.ngram_jaccard_pairs_sql(
        "documents", "doc_id", "text", ["lang", "source"], JACCARD_MIN_PCT
    )
    klh = T.phash_sql("concat_ws(':', 'cl', id_a, id_b)")
    rounds = []
    emits = []
    for r in range(CAPPED_CC_ROUNDS):
        t = CAPPED_CC_T0 + r * CAPPED_CC_INCR
        rounds.append(_constrained_cc_round_sql(r, t, t + CAPPED_CC_INCR))
        emits += [f"SELECT * FROM ciso_{r}", f"SELECT * FROM cok_{r}",
                  f"SELECT * FROM cflush_{r}"]
    k = CAPPED_CC_ROUNDS
    t_last = CAPPED_CC_T0 + (k - 1) * CAPPED_CC_INCR
    final = f"""
    cxe AS (SELECT id_a, id_b FROM ca_{k} WHERE w > {t_last!r}e0),
    cxbi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM cxe
                          UNION ALL SELECT id_b AS a, id_a AS b FROM cxe),
    cxwalk(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM cxbi)
      UNION
      SELECT bi.b, w.comp FROM cxwalk w JOIN cxbi bi ON bi.a = w.node
      WHERE w.comp < bi.b
    ),
    cxcc AS (SELECT node, min(comp) AS component FROM cxwalk GROUP BY node),
    cxflush AS (
      SELECT n.node, coalesce(f.component, n.node) AS component, TRUE AS violated
      FROM (SELECT DISTINCT node FROM (SELECT id_a AS node FROM ca_{k}
            UNION ALL SELECT id_b FROM ca_{k})) n
      LEFT JOIN cxcc f ON f.node = n.node
      WHERE (SELECT l FROM clive_{k})
    )
    """
    emits.append("SELECT * FROM cxflush")
    body = "".join(rounds)
    union = "\n    UNION ALL ".join(emits)
    return f"""
    WITH RECURSIVE jp AS MATERIALIZED ({pairs}),
    kl AS MATERIALIZED (SELECT id_a, id_b FROM jp
                        WHERE {klh} % {CL_CC_MOD} = 0),
    ca_0 AS MATERIALIZED (SELECT id_a, id_b, jac_pct AS w FROM jp),
    clive_0 AS (SELECT TRUE AS l),
    {body}
    {final}
    SELECT CAST(node AS BIGINT) AS node,
           CAST(component AS BIGINT) AS component, violated
    FROM ({union})
    """


# ---------------------------------------------------------------------------
# the catalog: name -> (spark_fn, oracle_sql or None, survey ref)
# ---------------------------------------------------------------------------


def _chain_sql() -> str:
    """Deterministic synthetic ParameterChain from candidate pairs: link
    persistence intervals [start, stop] derived from portable hashes."""
    h1 = T.phash_sql("concat_ws(':', 'cs', id_a, id_b)")
    h2 = T.phash_sql("concat_ws(':', 'ce', id_a, id_b)")
    return f"""
    SELECT id_a, id_b,
           CAST(({h1} % 20) + 1 AS BIGINT) AS start,
           CAST(({h1} % 20) + 1 + ({h2} % 30) AS BIGINT) AS stop
    FROM (SELECT id_a, id_b FROM ({_PAIRS_SQL}))
    """


def _chain_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _pairs_spark(spark, sf_dir).select("id_a", "id_b")
    h1 = phash(F.concat_ws(":", F.lit("cs"), F.col("id_a"), F.col("id_b")))
    h2 = phash(F.concat_ws(":", F.lit("ce"), F.col("id_a"), F.col("id_b")))
    return p.select(
        "id_a",
        "id_b",
        ((h1 % 20) + 1).cast("long").alias("start"),
        ((h1 % 20) + 1 + (h2 % 30)).cast("long").alias("stop"),
    )


def build_catalog() -> dict[str, dict]:
    """name -> {spark: callable(spark, sf_dir)->DataFrame, sql: str|None,
    ref: 'reference file:line'}."""
    cat: dict[str, dict] = {}

    # --- sources / scans (SURVEY 2.1) ---
    cat["scan_documents"] = {
        "spark": lambda s, d: load(s, d, "documents").select(
            "doc_id", "lang", "source", "n_chars"
        ),
        "sql": "SELECT doc_id, lang, source, n_chars FROM documents",
        "ref": "vignette/example.jl:10-11 (record-table scan)",
    }

    # --- checkpoint sink/source roundtrip (SURVEY 2.1 h5 read/write
    # analogs) --- writes the scored-pair stage through StageStore (parquet
    # + atomic manifest), exercises the fingerprint-resume path, and
    # returns the READ-BACK table; the oracle computes the same table
    # directly, so a value-hash match proves the sink+source preserve
    # every row and every double bit-exactly. The read-back is
    # localCheckpoint'ed so the temp store can be deleted eagerly.
    def _checkpoint_roundtrip(s: SparkSession, d: str) -> DataFrame:
        import shutil
        import tempfile

        from ..sources.checkpoint import StageStore

        root = tempfile.mkdtemp(prefix="bjs_ckpt_rt_")
        try:
            store = StageStore(root)
            cfg = {"sf_dir": d, "stage": "scored_pairs"}
            store.write("scored_pairs", _scored_pairs_cached(s, d), cfg)
            got, resumed = store.load_or_run(
                s, "scored_pairs", cfg,
                lambda: (_ for _ in ()).throw(
                    AssertionError("resume path not taken")
                ),
            )
            if not resumed:
                raise AssertionError("checkpoint did not resume")
            return got.select(
                "id_a", "id_b", "g1", "g2", "g3", "w"
            ).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    cat["checkpoint_roundtrip"] = {
        "spark": _checkpoint_roundtrip,
        "sql": f"SELECT id_a, id_b, g1, g2, g3, {_WEIGHT_EXPR_SQL} AS w "
        f"FROM ({_vectors_sql()})",
        "ref": "src/read_write_h5.jl:8-288 (write_/read_ ComparisonSummary "
        "etc. checkpoint groups)",
    }

    # --- blocking (SURVEY 2.1 sparse candidate indexing) ---
    cat["blocking_key_counts"] = {
        "spark": lambda s, d: load(s, d, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs")),
        "sql": "SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs "
        "FROM documents GROUP BY lang, source",
        "ref": "src/comparisonsummary.jl:326-410 (candidate indexing)",
    }
    cat["candidate_pairs"] = {
        "spark": lambda s, d: _pairs_spark(s, d).select("id_a", "id_b", "lang", "source"),
        "sql": f"SELECT id_a, id_b, lang, source FROM ({_PAIRS_SQL})",
        "ref": "README.md:160-183 (blocked index lists)",
    }

    # --- sorted-neighborhood blocking (Hernandez-Stolfo SNM) ---
    # sort key = lang + first three normalized tokens: rank closeness, not
    # key equality, drives candidate generation (catches blocking-key typos
    # that equi-key blocking splits). ASCII key => identical binary
    # collation in both engines.
    def _snm_key_spark() -> F.Column:
        return F.concat_ws(
            ":",
            F.col("lang"),
            F.array_join(F.slice(T.tokens(F.col("text")), 1, 3), " "),
        )

    _SNM_KEY_SQL = (
        "(lang || ':' || array_to_string(("
        + T.tokens_sql("text")
        + ")[1:3], ' '))"
    )

    cat["snm_pairs"] = {
        "spark": lambda s, d: blocking.sorted_neighborhood_pairs(
            load(s, d, "documents"),
            "doc_id",
            _snm_key_spark(),
            window=SNM_WINDOW,
            bucket_len=4,
        ),
        "sql": blocking.sorted_neighborhood_pairs_sql(
            "documents", "doc_id", _SNM_KEY_SQL, SNM_WINDOW
        ),
        "ref": "sorted-neighborhood blocking (Hernandez & Stolfo 1995) — "
        "the classic ER blocking family the reference's index lists assume "
        "upstream; README.md:160-183",
    }

    # --- phonetic blocking (simplified Soundex; Newcombe 1959) ------------
    # Misspelling-tolerant key family: records sharing (lang, source,
    # phonetic code of the first text token) become candidates. The key is
    # one Catalyst string expression per RECORD; pairs meet in exactly one
    # composite key (no dedup pass); hot codes are salt-split in both
    # emitters (the phonetic alphabet is tiny, so skew is structural).
    _PHON_NAME_SQL = "regexp_extract(text, '^[^ ]+', 0)"

    cat["phonetic_blocking_pairs"] = {
        "spark": lambda s, d: blocking.phonetic_blocking_pairs(
            load(s, d, "documents"),
            "doc_id",
            F.regexp_extract(F.col("text"), "^[^ ]+", 0),
            ["lang", "source"],
        ),
        "sql": blocking.phonetic_blocking_pairs_sql(
            "documents", "doc_id", _PHON_NAME_SQL, ["lang", "source"]
        ),
        "ref": "phonetic (Soundex) blocking — the original record-linkage "
        "blocking key (Newcombe et al. 1959; Fellegi-Sunter practice); "
        "reference takes such index lists as input, "
        "src/comparisonsummary.jl:326-410",
    }

    # --- blocking-rule coverage (Splink-style rule analysis) --------------
    # Production blocking is a UNION of rules; choosing them needs the
    # overlap histogram: how many candidate pairs each rule contributes
    # uniquely vs jointly. Rules here are the catalog's own three families
    # (bit 1 = equi-key lang+source, bit 2 = MinHash-LSH bands, bit 4 =
    # sorted-neighborhood), same constants as their standalone entries.
    # One union + per-rule dedup + a pair-keyed bit-sum — linear in the
    # candidate sets, nothing quadratic.
    def _rule_masks_spark(s: SparkSession, d: str) -> DataFrame:
        """(id_a < id_b, rule_mask) over the three rule families — shared
        by the coverage histogram and the greedy rule-selection query
        (memoized: the three candidate generators run once per session)."""
        def _build() -> DataFrame:
            r1 = _pairs_spark(s, d).select("id_a", "id_b").withColumn(
                "_bit", F.lit(1)
            )
            r2 = dedup.minhash_lsh_pairs(
                load(s, d, "documents"), "doc_id", "text"
            ).select("id_a", "id_b").withColumn("_bit", F.lit(2))
            r3 = blocking.sorted_neighborhood_pairs(
                load(s, d, "documents"), "doc_id", _snm_key_spark(),
                window=SNM_WINDOW, bucket_len=4,
            ).select("id_a", "id_b").withColumn("_bit", F.lit(4))
            u = r1.unionByName(r2).unionByName(r3).select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "_bit",
            ).distinct()
            return u.groupBy("id_a", "id_b").agg(
                F.sum("_bit").cast("int").alias("rule_mask")
            )

        if not _memo_enabled():
            return _build()
        key = _memo_key(s, d, "rule_masks")
        if key not in _UPSTREAM_MEMO:
            _UPSTREAM_MEMO[key] = _build().localCheckpoint()
        return _UPSTREAM_MEMO[key]

    def _rule_coverage_spark(s: SparkSession, d: str) -> DataFrame:
        return _rule_masks_spark(s, d).groupBy("rule_mask").agg(
            F.count(F.lit(1)).alias("n_pairs")
        )

    cat["blocking_rule_coverage"] = {
        "spark": _rule_coverage_spark,
        "sql": f"""
        WITH rc1 AS (SELECT id_a, id_b, 1 AS _bit FROM ({_PAIRS_SQL})),
        rc2 AS (SELECT id_a, id_b, 2 AS _bit
                FROM ({dedup.minhash_lsh_pairs_sql(
                    "documents", "doc_id", "text")})),
        rc3 AS (SELECT id_a, id_b, 4 AS _bit
                FROM ({blocking.sorted_neighborhood_pairs_sql(
                    "documents", "doc_id", _SNM_KEY_SQL, SNM_WINDOW)})),
        rcu AS (SELECT DISTINCT least(id_a, id_b) AS id_a,
                       greatest(id_a, id_b) AS id_b, _bit
                FROM (SELECT * FROM rc1 UNION ALL SELECT * FROM rc2
                      UNION ALL SELECT * FROM rc3)),
        rcm AS (SELECT id_a, id_b, CAST(sum(_bit) AS INT) AS rule_mask
                FROM rcu GROUP BY 1, 2)
        SELECT rule_mask, CAST(count(*) AS BIGINT) AS n_pairs
        FROM rcm GROUP BY 1
        """,
        "ref": "blocking-rule union coverage histogram (Splink blocking-"
        "rule analysis; Papadakis blocking surveys) — which rule families "
        "contribute which candidates, uniquely vs jointly",
    }

    # --- blocking-rule learning: greedy weighted set cover over the same
    # rule-mask table, with the LSH-verified near-dup pairs as ground
    # truth. Distributed work reduces to the <=2^R-row positive-mask
    # histogram + R-row cost table; the greedy is replayed in SQL as three
    # statically-unrolled argmax steps (gain DESC, cost ASC, bit ASC). ---
    def _rule_selection_spark(s: SparkSession, d: str) -> DataFrame:
        pos = _jaccard_edges_cached(s, d).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        return blocking.select_blocking_rules(
            _rule_masks_spark(s, d), pos, [1, 2, 4]
        )

    def _rule_selection_sql() -> str:
        steps = []
        emits = []
        for i in (1, 2, 3):
            prev_mask = (
                "0" if i == 1
                else f"(SELECT coalesce((SELECT rule_bit FROM st_{i-1}), 0) "
                     f"| ch_{i-1}.m FROM ch_{i-1})"
            )
            steps.append(f"""
            ch_{i} AS (SELECT {prev_mask} AS m),
            pk_{i} AS (
              SELECT c.bit,
                     coalesce((SELECT sum(h.n) FROM bshist h
                               WHERE (h.mask & c.bit) != 0
                                 AND (h.mask & (SELECT m FROM ch_{i})) = 0),
                              0) AS gain,
                     c.cost
              FROM bscosts c
              WHERE (c.bit & (SELECT m FROM ch_{i})) = 0
              ORDER BY gain DESC, c.cost ASC, c.bit ASC LIMIT 1
            ),
            st_{i} AS (
              SELECT {i} AS step, bit AS rule_bit, gain AS marginal,
                     cost FROM pk_{i} WHERE gain > 0
            ),""")
            emits.append(f"SELECT * FROM st_{i}")
        body = "".join(steps)
        union = " UNION ALL ".join(emits)
        lsh = dedup.ngram_jaccard_pairs_via_lsh_sql(
            "documents", "doc_id", "text", JACCARD_MIN_PCT
        )
        return f"""
        WITH rc1 AS (SELECT id_a, id_b, 1 AS _bit FROM ({_PAIRS_SQL})),
        rc2 AS (SELECT id_a, id_b, 2 AS _bit
                FROM ({dedup.minhash_lsh_pairs_sql(
                    "documents", "doc_id", "text")})),
        rc3 AS (SELECT id_a, id_b, 4 AS _bit
                FROM ({blocking.sorted_neighborhood_pairs_sql(
                    "documents", "doc_id", _SNM_KEY_SQL, SNM_WINDOW)})),
        rcu AS (SELECT DISTINCT least(id_a, id_b) AS id_a,
                       greatest(id_a, id_b) AS id_b, _bit
                FROM (SELECT * FROM rc1 UNION ALL SELECT * FROM rc2
                      UNION ALL SELECT * FROM rc3)),
        rcm AS MATERIALIZED (
            SELECT id_a, id_b, CAST(sum(_bit) AS INT) AS rule_mask
            FROM rcu GROUP BY 1, 2),
        bspos AS (SELECT least(id_a, id_b) AS id_a,
                         greatest(id_a, id_b) AS id_b FROM ({lsh})),
        bshist AS (SELECT coalesce(m.rule_mask, 0) AS mask,
                          count(*) AS n
                   FROM bspos p LEFT JOIN rcm m
                     ON m.id_a = p.id_a AND m.id_b = p.id_b
                   GROUP BY 1),
        bscosts AS (SELECT b.bit,
                           (SELECT count(*) FROM rcm
                            WHERE (rule_mask & b.bit) != 0) AS cost
                    FROM (VALUES (1), (2), (4)) b(bit)),
        {body}
        dummy_tail AS (SELECT 1)
        SELECT CAST(step AS BIGINT) AS step,
               CAST(rule_bit AS BIGINT) AS rule_bit,
               CAST(marginal AS BIGINT) AS marginal_true_pairs,
               CAST(sum(marginal) OVER (ORDER BY step) AS BIGINT)
                 AS cumulative_true_pairs,
               CAST(cost AS BIGINT) AS rule_cost_pairs
        FROM ({union})
        """

    cat["blocking_rule_selection"] = {
        "spark": _rule_selection_spark,
        "sql": _rule_selection_sql(),
        "ref": "blocking-rule learning (Splink blocking-rule chooser / "
        "Bilenko-Kamath-Mooney 2006 adaptive blocking): greedy weighted "
        "set cover of true pairs by rule families",
    }

    # --- meta-blocking: token blocking + CBS weights + WEP pruning ---
    cat["meta_blocking"] = {
        "spark": lambda s, d: blocking.meta_blocking_pairs(
            load(s, d, "documents"),
            "doc_id",
            "text",
            min_df=MB_MIN_DF,
            max_df=MB_MAX_DF,
        ),
        "sql": blocking.meta_blocking_pairs_sql(
            "documents", "doc_id", "text", min_df=MB_MIN_DF, max_df=MB_MAX_DF
        ),
        "ref": "meta-blocking / block purging (Papadakis et al. TKDE 2014) — "
        "schema-free candidate generation for dirty web sources; extends "
        "README.md:160-183 index lists",
    }

    # --- exact similarity joins (filter-then-verify index builders) ---
    cat["tf_cosine_pairs"] = {
        "spark": lambda s, d: simjoin.tf_cosine_pairs(
            load(s, d, "documents"), "doc_id", "text",
            min_cos2_e4=TFCOS_MIN_E4, max_df=TFCOS_MAX_DF,
        ),
        "sql": simjoin.tf_cosine_pairs_sql(
            "documents", "doc_id", "text",
            min_cos2_e4=TFCOS_MIN_E4, max_df=TFCOS_MAX_DF,
        ),
        "ref": "exact TF-cosine postings join (DF-bounded vocabulary) — the "
        "non-probabilistic companion of README.md:160-183 index lists",
    }

    # edit-distance join key: first five normalized tokens + lang, so the
    # fixture yields genuine lev 1-2 pairs (same text prefix, different
    # lang tag), not just exact-duplicate keys
    def _edit_key_spark() -> F.Column:
        return F.concat_ws(
            " ", F.array_join(F.slice(T.tokens(F.col("text")), 1, 5), " "),
            F.col("lang"),
        )

    _EDIT_KEY_SQL = (
        "(array_to_string((" + T.tokens_sql("text") + ")[1:5], ' ')"
        " || ' ' || lang)"
    )
    cat["edit_similarity_pairs"] = {
        "spark": lambda s, d: simjoin.edit_similarity_pairs(
            load(s, d, "documents"), "doc_id", _edit_key_spark(),
            max_dist=EDIT_MAX_DIST, q=2,
        ),
        "sql": simjoin.edit_similarity_pairs_sql(
            "documents", "doc_id", _EDIT_KEY_SQL,
            max_dist=EDIT_MAX_DIST, q=2,
        ),
        "ref": "Ed-Join / q-gram count-filtered edit-distance join (Gravano "
        "et al. VLDB 2001) — exact lev<=d candidate builder for the levOrd "
        "comparator field (src/comparisonsummary.jl levOrd inputs)",
    }

    cat["monge_elkan_pairs"] = {
        "spark": lambda s, d: simjoin.monge_elkan_pairs(
            load(s, d, "documents"), "doc_id", "text",
            block_cols=("lang", "source"), max_tokens=8,
        ),
        "sql": simjoin.monge_elkan_pairs_sql(
            "documents", "doc_id", "text",
            block_cols=("lang", "source"), max_tokens=8,
        ),
        "ref": "Monge-Elkan hybrid token-set comparator (Monge & Elkan "
        "1996) over the standard blocking — the multi-token secondary "
        "comparator the reference's scalar per-column kernels "
        "(src/comparisonsummary.jl) lack",
    }

    cat["soft_tfidf_pairs"] = {
        "spark": lambda s, d: simjoin.soft_tfidf_pairs(
            load(s, d, "documents"), "doc_id", "text",
            block_cols=("lang", "source"), max_tokens=8,
        ),
        "sql": simjoin.soft_tfidf_pairs_sql(
            "documents", "doc_id", "text",
            block_cols=("lang", "source"), max_tokens=8,
        ),
        "ref": "soft-TF-IDF hybrid comparator (Cohen, Ravikumar & "
        "Fienberg, IIWeb 2003) — frequency-weighted counterpart to "
        "monge_elkan_pairs; log-free clipped-integer IDF keeps the "
        "oracle bit-strict",
    }

    # PPRL quasi-identifier: first three normalized tokens (the "name
    # field" stand-in on this corpus). Column built lazily — catalog
    # construction happens before any SparkContext exists.
    def _pprl_key_spark() -> F.Column:
        return F.array_join(F.slice(T.tokens(F.col("text")), 1, 3), " ")

    _PPRL_KEY_SQL = "array_to_string((" + T.tokens_sql("text") + ")[1:3], ' ')"

    # TF-adjusted agreement: first-two-token quasi-identifier (coarser
    # than the PPRL key so the fixture actually has shared values).
    _TF_KEY_SQL = "array_to_string((" + T.tokens_sql("text") + ")[1:2], ' ')"
    cat["tf_adjusted_agreement"] = {
        "spark": lambda s, d: blocking.tf_weighted_agreement_pairs(
            load(s, d, "documents"), "doc_id",
            F.array_join(F.slice(T.tokens(F.col("text")), 1, 2), " "),
            block_cols=("lang", "source"),
        ),
        "sql": blocking.tf_weighted_agreement_pairs_sql(
            "documents", "doc_id", _TF_KEY_SQL,
            block_cols=("lang", "source"),
        ),
        "ref": "value-specific frequency weighting (Winkler 1988) — "
        "agreement on a rare value outweighs a common one; integer-bits "
        "surprisal keeps the oracle log-free; hot values dropped before "
        "the join",
    }

    cat["pprl_clk_pairs"] = {
        "spark": lambda s, d: pprl.clk_dice_pairs(
            load(s, d, "documents"), "doc_id", _pprl_key_spark(),
            block_cols=("lang", "source"),
        ),
        "sql": pprl.clk_dice_pairs_sql(
            "documents", "doc_id", _PPRL_KEY_SQL,
            block_cols=("lang", "source"),
        ),
        "ref": "privacy-preserving linkage: Bloom-filter CLK encodings + "
        "Dice matching (Schnell-Bachteler-Reiher 2009) — bigram bits set "
        "via affine transforms of the one cross-engine hash, packed 4x60 "
        "int64 words, integer-micro Dice",
    }
    cat["pprl_clk_band_pairs"] = {
        "spark": lambda s, d: pprl.clk_band_pairs(
            load(s, d, "documents"), "doc_id", _pprl_key_spark(),
            min_dice_micro=800_000,
        ),
        "sql": pprl.clk_band_pairs_sql(
            "documents", "doc_id", _PPRL_KEY_SQL, min_dice_micro=800_000,
        ),
        "ref": "banded CLK join — the PPRL scale path with NO plaintext "
        "blocking key (keys would leak): 12x20-bit encoding slices, "
        "pigeonhole recall for Hamming < 12, salt-split hot bands, exact "
        "Dice verify",
    }

    # --- comparison layer (SURVEY 2.2) ---
    cat["comparison_vectors"] = {
        "spark": _vectors_spark,
        "sql": _vectors_sql(),
        "ref": "vignette/example.jl:21-50 (levOrd/boolOrd comparators)",
    }

    cat["comparison_vectors_jw"] = {
        "spark": lambda s, d: _pairs_spark(s, d).select(
            "id_a",
            "id_b",
            C.jaro_winkler_ord(F.col("t64_a"), F.col("t64_b")).alias("g_jw"),
        ),
        "sql": f"""
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               {C.jaro_winkler_ord_sql(f'substr(a.text,1,{LEV_PREFIX})', f'substr(b.text,1,{LEV_PREFIX})')} AS g_jw
        FROM documents a JOIN documents b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        """,
        "ref": "north_star Jaro-Winkler comparator (pandas UDF, bit-exact vs DuckDB)",
    }

    cat["comparison_vectors_dl"] = {
        "spark": lambda s, d: _pairs_spark(s, d).select(
            "id_a",
            "id_b",
            C.damerau_ord(F.col("t64_a"), F.col("t64_b")).alias("g_dl"),
        ),
        "sql": f"""
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               {C.damerau_ord_sql(f'substr(a.text,1,{LEV_PREFIX})', f'substr(b.text,1,{LEV_PREFIX})')} AS g_dl
        FROM documents a JOIN documents b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        """,
        "ref": "unrestricted Damerau-Levenshtein comparator (typo-aware "
        "upgrade of levOrd; DuckDB C kernel in the pandas UDF, bit-exact)",
    }

    # --- aggregation layer (SURVEY 2.3) ---
    cat["distinct_vectors"] = {
        "spark": lambda s, d: distinct_vectors(_vectors_cached(s, d), GCOLS),
        "sql": f"""
        SELECT CAST(row_number() OVER (ORDER BY g1, g2, g3) AS BIGINT) AS vec_id,
               g1, g2, g3, n_pairs
        FROM (SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n_pairs
              FROM ({_vectors_sql()}) GROUP BY g1, g2, g3)
        """,
        "ref": "src/comparisonsummary.jl:84-209 (comparison_variables dedup)",
    }
    cat["marginal_counts"] = {
        "spark": lambda s, d: marginal_counts(
            distinct_vectors(_vectors_cached(s, d), GCOLS), GCOLS
        ),
        "sql": f"""
        WITH dv AS (SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n_pairs
                    FROM ({_vectors_sql()}) GROUP BY g1, g2, g3),
        stacked AS (
          SELECT 'g1' AS field, CAST(g1 AS INT) AS level, n_pairs AS n FROM dv
          UNION ALL SELECT 'g2', CAST(g2 AS INT), n_pairs FROM dv
          UNION ALL SELECT 'g3', CAST(g3 AS INT), n_pairs FROM dv)
        SELECT field, level, CAST(sum(n) AS BIGINT) AS n_pairs
        FROM stacked GROUP BY field, level
        """,
        "ref": "src/comparisonsummary.jl:220-252 (count_variables)",
    }

    # --- one-hot observation index (SURVEY 2.3 get_obsidxcounts /
    # get_obsidxobs) --- the flattened (field, level) axis the reference
    # builds as a dense 0/1 matrix, kept long: one row per (distinct
    # vector, field) with the 0-based flattened column index (level 0 =
    # missing contributes no column -> col_idx = -1, obs = 0). n_pairs is
    # the obsidxcounts weighting. Pure integer arithmetic on the
    # lattice-bounded distinct-vector table.
    _oh_off, _acc = {}, 0
    for _g in GCOLS:
        _oh_off[_g] = _acc
        _acc += NLEVELS[_g]

    def _vector_onehot(s: SparkSession, d: str) -> DataFrame:
        dv = distinct_vectors(_vectors_cached(s, d), GCOLS)
        parts = [
            dv.select(
                "vec_id",
                F.lit(g).alias("field"),
                F.col(g).cast("int").alias("level"),
                (F.col(g) > 0).cast("int").alias("obs"),
                F.when(
                    F.col(g) > 0, F.col(g).cast("int") - 1 + _oh_off[g]
                ).otherwise(F.lit(-1)).alias("col_idx"),
                "n_pairs",
            )
            for g in GCOLS
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    _oh_arms = " UNION ALL ".join(
        f"SELECT vec_id, '{g}' AS field, CAST({g} AS INT) AS level, "
        f"CAST({g} > 0 AS INT) AS obs, "
        f"CASE WHEN {g} > 0 THEN CAST({g} AS INT) - 1 + {_oh_off[g]} "
        f"ELSE -1 END AS col_idx, n_pairs FROM dv"
        for g in GCOLS
    )
    cat["vector_onehot_index"] = {
        "spark": _vector_onehot,
        "sql": f"""
        WITH dv AS (
          SELECT CAST(row_number() OVER (ORDER BY g1, g2, g3) AS BIGINT) AS vec_id,
                 g1, g2, g3, CAST(count(*) AS BIGINT) AS n_pairs
          FROM ({_vectors_sql()}) GROUP BY g1, g2, g3)
        {_oh_arms}
        """,
        "ref": "src/comparisonsummary.jl:503-529 (get_obsidxcounts/get_obsidxobs)",
    }

    # --- weights (SURVEY 2.2/2.7) ---
    cat["fs_weights"] = {
        # barrier form: comparators evaluated exactly once per pair (the
        # naive withColumn(w) lets CollapseProject inline every comparator
        # subtree into the weight CASE — see _scored_pairs_spark)
        "spark": _scored_pairs_cached,
        "sql": f"SELECT id_a, id_b, g1, g2, g3, {_WEIGHT_EXPR_SQL} AS w "
        f"FROM ({_vectors_sql()})",
        "ref": "src/weight_functions.jl:159-173 (weights_vector)",
    }
    cat["penalized_weights"] = {
        "spark": lambda s, d: _scored_pairs_cached(s, d)
        .withColumn("pw", W.shrink_weights(F.col("w"), PENALTY))
        .where(F.col("pw") > 0)
        .select("id_a", "id_b", "pw"),
        "sql": f"""
        SELECT id_a, id_b, {W.shrink_weights_sql('w', PENALTY)} AS pw
        FROM ({_weighted_pairs_sql()})
        WHERE {W.shrink_weights_sql('w', PENALTY)} > 0
        """,
        "ref": "src/weight_functions.jl:192-222,296-357 (shrink/penalized matrix)",
    }
    # bayesrule_posterior = logistic(logit(p) + w); the oracle compares the
    # log-odds form (pure addition) because exp() differs in the last ulp
    # between the JVM and libm — the logistic form is pytest-verified.
    import math

    logit_p = round(math.log(POSTERIOR_P / (1.0 - POSTERIOR_P)), 12)
    cat["bayes_posterior_log_odds"] = {
        "spark": lambda s, d: _scored_pairs_cached(s, d).select(
            "id_a", "id_b", (F.lit(logit_p) + F.col("w")).alias("log_odds")
        ),
        "sql": f"SELECT id_a, id_b, ({logit_p!r}e0 + w) AS log_odds "
        f"FROM ({_weighted_pairs_sql()})",
        "ref": "src/weight_functions.jl:451 (bayesrule_posterior)",
    }

    # --- weight threshold grid (SURVEY 2.2 minimum_margin + 2.6 get_mids)
    # --- consecutive-gap + midpoint table over the distinct FS weights:
    # gaps drive auction-epsilon tuning (minimum_margin = min(gap)), mids
    # are the threshold grid iterative clustering scans. The grid is built
    # lattice-first (distinct g-vectors, NOT the pair table), so the
    # unpartitioned lead() window sees at most prod(nlevels) = 24 rows — a
    # comparator-lattice constant, not a data scale. No rounding: the
    # reference rounds to `digits` before diffing (weight_functions.jl:4-8),
    # but Spark round() is HALF_UP while DuckDB's is half-away-from-zero,
    # so the grid is over exact distinct weights (bit-identical inputs =>
    # gap/mid, each one exactly-rounded op, bit-identical outputs).
    def _weight_grid(s: SparkSession, d: str) -> DataFrame:
        dv = distinct_vectors(_vectors_cached(s, d), GCOLS)
        dw = dv.select(
            W.fs_weight([(F.col(g), k) for g, k in FIELD_KINDS]).alias("w")
        ).distinct()
        nxt = F.lead("w").over(Window.orderBy("w"))
        return (
            dw.select("w", nxt.alias("w_next"))
            .where(F.col("w_next").isNotNull())
            .select(
                "w",
                "w_next",
                (F.col("w_next") - F.col("w")).alias("gap"),
                ((F.col("w") + F.col("w_next")) / F.lit(2.0)).alias("mid"),
            )
        )

    cat["weight_threshold_grid"] = {
        "spark": _weight_grid,
        "sql": f"""
        WITH dw AS (SELECT DISTINCT {_WEIGHT_EXPR_SQL} AS w
                    FROM (SELECT g1, g2, g3 FROM ({_vectors_sql()})
                          GROUP BY g1, g2, g3)),
        g AS (SELECT w, lead(w) OVER (ORDER BY w) AS w_next FROM dw)
        SELECT w, w_next, (w_next - w) AS gap, ((w + w_next) / 2.0e0) AS mid
        FROM g WHERE w_next IS NOT NULL
        """,
        "ref": "src/weight_functions.jl:4-8 (minimum_margin) + "
        "src/connectedcomponents.jl:116-119 (get_mids threshold grid)",
    }

    # --- clustering (SURVEY 2.6) ---
    cat["connected_components"] = {
        "spark": _cc_cached,
        "sql": _cc_sql(),
        "ref": "src/clustering_functions.jl:15-280 (bipartite_cluster)",
    }
    cat["record_fusion"] = {
        "spark": lambda s, d: fusion.record_fusion(
            load(s, d, "documents"), _cc_cached(s, d),
            "doc_id", "n_chars", ["lang", "source"],
        ),
        "sql": fusion.record_fusion_sql(
            "documents", _cc_sql(), "doc_id", "n_chars", ["lang", "source"],
        ),
        "ref": "golden-record survivorship over the reference's cluster "
        "output (src/clustering_functions.jl stops at labels; fusion per "
        "Bleiholder & Naumann 2008) — longest-text champion + per-field "
        "modal values, total-order tie-breaks",
    }
    cat["component_summary"] = {
        "spark": lambda s, d: _cc_cached(s, d)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum(F.when(F.col("n_nodes") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_singletons"),
            F.max("n_nodes").alias("max_nodes"),
            F.sum("n_nodes").cast("long").alias("total_nodes"),
        ),
        "sql": f"""
        WITH cc AS ({_cc_sql()}),
        sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
                  FROM cc GROUP BY component)
        SELECT CAST(count(*) AS BIGINT) AS n_components,
               CAST(sum(CASE WHEN n_nodes = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
               max(n_nodes) AS max_nodes,
               CAST(sum(n_nodes) AS BIGINT) AS total_nodes
        FROM sizes
        """,
        "ref": "src/connectedcomponents.jl:63-186 (summarize_components)",
    }

    # --- matching (SURVEY 2.5; single mutual-argmax round is the
    # SQL-expressible fast path; full per-block LSAP is pytest-verified) ---
    # Spark side is the map-side-combined struct-max aggregation
    # (operators/assignment.mutual_best — shuffles |ids|, not |pairs|);
    # the DuckDB twin keeps the equivalent window form. Values identical:
    # both realize the same (w desc, other-id asc) argmax total order.
    def _mutual_best_match(s: SparkSession, d: str) -> DataFrame:
        from ..operators.assignment import mutual_best

        # mutual_best consumes its input twice (one argmax agg per side);
        # its structural localCheckpoint (default materialized=False)
        # materializes the filtered pair set once, so comparator scoring
        # never runs twice even with the session memo disabled (sf1
        # measured: 82s unmaterialized vs 43s, with the argmax step itself
        # 1.5s vs the old window form's ~25s)
        wp = _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD)
        return mutual_best(wp.select("id_a", "id_b", "w"))

    cat["mutual_best_match"] = {
        "spark": _mutual_best_match,
        "sql": f"""
        WITH wp AS (SELECT * FROM ({_weighted_pairs_sql()}) WHERE w > {EDGE_THRESHOLD!r}e0)
        SELECT id_a, id_b, w FROM (
          SELECT id_a, id_b, w,
            row_number() OVER (PARTITION BY id_a ORDER BY w DESC, id_b ASC) AS ra,
            row_number() OVER (PARTITION BY id_b ORDER BY w DESC, id_a ASC) AS rb
          FROM wp
        ) WHERE ra = 1 AND rb = 1
        """,
        "ref": "src/maximization_functions.jl:203-244 (1xn argmax fast paths)",
    }
    cat["match_vec_counts"] = {
        "spark": lambda s, d: (
            lambda wp, dv: (
                wp.withColumn(
                    "_ra",
                    F.row_number().over(
                        Window.partitionBy("id_a").orderBy(F.desc("w"), F.asc("id_b"))
                    ),
                )
                .withColumn(
                    "_rb",
                    F.row_number().over(
                        Window.partitionBy("id_b").orderBy(F.desc("w"), F.asc("id_a"))
                    ),
                )
                .where((F.col("_ra") == 1) & (F.col("_rb") == 1))
                .join(F.broadcast(dv.select("vec_id", *GCOLS)), on=GCOLS)
                .groupBy("vec_id")
                .agg(F.count(F.lit(1)).alias("n_matched"))
            )
        )(
            _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD),
            distinct_vectors(_vectors_cached(s, d), GCOLS),
        ),
        "sql": f"""
        WITH v AS ({_vectors_sql()}),
        wp AS (SELECT id_a, id_b, g1, g2, g3, {_WEIGHT_EXPR_SQL} AS w FROM v),
        m AS (SELECT * FROM (
            SELECT id_a, id_b, g1, g2, g3,
              row_number() OVER (PARTITION BY id_a ORDER BY w DESC, id_b ASC) AS ra,
              row_number() OVER (PARTITION BY id_b ORDER BY w DESC, id_a ASC) AS rb
            FROM wp WHERE w > {EDGE_THRESHOLD!r}e0
        ) WHERE ra = 1 AND rb = 1),
        dv AS (SELECT CAST(row_number() OVER (ORDER BY g1, g2, g3) AS BIGINT) AS vec_id,
                      g1, g2, g3
               FROM (SELECT DISTINCT g1, g2, g3 FROM v))
        SELECT dv.vec_id, CAST(count(*) AS BIGINT) AS n_matched
        FROM m JOIN dv USING (g1, g2, g3) GROUP BY dv.vec_id
        """,
        "ref": "src/weight_functions.jl:16-140 (matches2veccounts/counts_matches)",
    }

    # --- ParameterChain interval math (SURVEY 2.3) ---
    cat["chain_link_counts"] = {
        "spark": lambda s, d: _chain_spark(s, d)
        .withColumn("eff_start", F.greatest(F.col("start"), F.lit(CHAIN_BURNIN + 1)))
        .where(F.col("stop") >= F.col("eff_start"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("stop") - F.col("eff_start") + 1).alias("n_steps")),
        "sql": f"""
        WITH chain AS ({_chain_sql()})
        SELECT id_a, id_b,
               CAST(sum(stop - greatest(start, {CHAIN_BURNIN + 1}) + 1) AS BIGINT) AS n_steps
        FROM chain WHERE stop >= greatest(start, {CHAIN_BURNIN + 1})
        GROUP BY id_a, id_b
        """,
        "ref": "src/parameterchain.jl:89-137 (get_linkcounts with burn-in)",
    }
    cat["steplinks"] = {
        "spark": lambda s, d: _chain_spark(s, d)
        .where((F.col("start") <= CHAIN_STEP) & (F.col("stop") >= CHAIN_STEP))
        .select("id_a", "id_b"),
        "sql": f"SELECT id_a, id_b FROM ({_chain_sql()}) "
        f"WHERE start <= {CHAIN_STEP} AND stop >= {CHAIN_STEP}",
        "ref": "src/parameterchain.jl:292-313 (get_steplinks)",
    }

    # --- dedup suite (training-data ops) ---
    cat["dedup_exact"] = {
        "spark": lambda s, d: dedup.exact_dedup(load(s, d, "documents"), "doc_id", "text"),
        "sql": dedup.exact_dedup_sql("documents", "doc_id", "text"),
        "ref": "hash-groupBy exact dedup",
    }
    cat["dedup_ngram_jaccard"] = {
        "spark": _jp_exact_cached,
        "sql": dedup.ngram_jaccard_pairs_sql(
            "documents", "doc_id", "text", ["lang", "source"], JACCARD_MIN_PCT
        ),
        "ref": "n-gram Jaccard near-dup",
    }
    cat["dedup_jaccard_lsh_verified"] = {
        "spark": _jaccard_edges_cached,
        "sql": dedup.ngram_jaccard_pairs_via_lsh_sql(
            "documents", "doc_id", "text", JACCARD_MIN_PCT
        ),
        "ref": "n-gram Jaccard verified on MinHash-LSH candidates "
        "(the sub-quadratic scale path for dedup_ngram_jaccard)",
    }
    # third leg of the Jaccard family (r5): global, blocking-key-free,
    # EXACT recall via AllPairs prefix filtering (rarest-first canonical
    # order + length filter + one verify); pct=80 keeps the gate output
    # bounded (30k rows at sf0.01)
    cat["dedup_jaccard_prefix"] = {
        "spark": lambda s, d: dedup.jaccard_prefix_filter_pairs(
            load(s, d, "documents"), "doc_id", "text", 80
        ),
        "sql": dedup.jaccard_prefix_filter_pairs_sql(
            "documents", "doc_id", "text", 80
        ),
        "ref": "AllPairs prefix-filter exact Jaccard self-join "
        "(Bayardo et al. WWW'07; complements the LSH recall-curve path)",
    }
    cat["dedup_minhash_lsh"] = {
        "spark": lambda s, d: dedup.minhash_lsh_pairs(
            load(s, d, "documents"), "doc_id", "text"
        ),
        "sql": dedup.minhash_lsh_pairs_sql("documents", "doc_id", "text"),
        "ref": "MinHash+LSH near-dup (shingle->minhash->band->bucket join)",
    }
    cat["dedup_simhash"] = {
        "spark": lambda s, d: dedup.simhash_pairs(
            load(s, d, "documents"), "doc_id", "text", SIMHASH_MAX_HAMMING,
            nbits=SIMHASH_NBITS,
        ),
        "sql": dedup.simhash_pairs_sql(
            "documents", "doc_id", "text", SIMHASH_MAX_HAMMING,
            nbits=SIMHASH_NBITS,
        ),
        "ref": "SimHash near-dup (banded Hamming)",
    }

    cat["cdc_chunk_dedup"] = {
        "spark": lambda s, d: dedup.cdc_chunk_dedup(
            load(s, d, "documents"), "doc_id", "text"
        ),
        "sql": dedup.cdc_chunk_dedup_sql("documents", "doc_id", "text"),
        "ref": "content-defined chunking dedup (rsync/LBFS rolling "
        "boundaries, Muthitacharoen et al. 2001): chunk-level exact dedup "
        "robust to insert/delete offset shifts; boundary array computed "
        "once per doc behind the hash-once barrier",
    }

    cat["dedup_embedding_cosine"] = {
        "spark": _embcos_pairs_cached,
        "sql": dedup.embedding_cosine_pairs_sql(
            "embeddings", "vec_id", "embedding",
            dim=EMB_DIM_DEDUP, min_cosine=EMB_COS_MIN, n_planes=EMB_LSH_PLANES,
        ),
        "ref": "embedding-cosine near-dup (sign-LSH buckets + exact verify)",
    }

    cat["dedup_containment"] = {
        "spark": lambda s, d: dedup.containment_pairs(
            load(s, d, "documents"), "doc_id", "text"
        ),
        "sql": dedup.containment_pairs_sql("documents", "doc_id", "text"),
        "ref": "asymmetric containment near-dup (Broder containment / "
        "Lee et al. 2022 substring shape at span granularity; stop-span "
        "df cap bounds per-span pair work)",
    }

    # --- blocking evaluation (operators/blocking.py): reduction ratio +
    # pairs completeness per candidate scheme, against the corpus-wide
    # (blocking-independent) LSH-verified near-dup pairs as ground truth.
    BQ_SCHEMES = [("lang",), ("source",), ("lang", "source")]

    cat["blocking_quality"] = {
        "spark": lambda s, d: blocking.blocking_quality(
            load(s, d, "documents"), "doc_id", BQ_SCHEMES,
            _jaccard_edges_cached(s, d),
        ),
        "sql": blocking.blocking_quality_sql(
            "documents", "doc_id", BQ_SCHEMES,
            dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT
            ),
        ),
        "ref": "blocking evaluation (Christen 2012): candidate counts from "
        "block sizes (one agg, never a pair join); only the small truth "
        "set is joined",
    }

    # --- crawl URL surface (operators/crawl.py): canonicalization +
    # latest-snapshot dedup over a deterministic messy-URL fixture derived
    # from documents in both engines (~150 logical pages re-crawled). ---
    cat["url_canonical"] = {
        "spark": lambda s, d: load(s, d, "documents").select(
            "doc_id",
            crawl.messy_url("doc_id").alias("url_raw"),
            crawl.url_normalize(crawl.messy_url("doc_id")).alias("url_canon"),
        ),
        "sql": f"""
        SELECT doc_id, {crawl.messy_url_sql('doc_id')} AS url_raw,
               {crawl.url_normalize_sql(crawl.messy_url_sql('doc_id'))}
                 AS url_canon
        FROM documents
        """,
        "ref": "URL canonicalization (scheme/host case, default ports, "
        "www, dup slashes, utm_* params, fragments; pure Catalyst, "
        "Java/RE2 common-subset regexes)",
    }
    cat["latest_snapshots"] = {
        "spark": lambda s, d: crawl.latest_snapshot(
            load(s, d, "documents").select(
                "doc_id",
                crawl.messy_url("doc_id").alias("url_raw"),
                crawl.crawl_ts_epoch("doc_id").alias("ts"),
            ),
            "url_raw", "ts", "doc_id",
        ),
        "sql": crawl.latest_snapshot_sql(
            f"""(SELECT doc_id, {crawl.messy_url_sql('doc_id')} AS url_raw,
                 {crawl.crawl_ts_epoch_sql('doc_id')} AS ts FROM documents)""",
            "url_raw", "ts", "doc_id",
        ),
        "ref": "re-crawl dedup: newest snapshot per canonical url "
        "(struct-MAX aggregate, mutual_best pattern; window-form oracle)",
    }

    # Two overlapping crawls derived from one documents scan (old drops
    # doc_id%4==0, new drops %4==3): sole-doc urls flip presence (added/
    # removed), winner changes flip content (changed), stable winners are
    # unchanged — all four statuses live at sf0.01.
    def _crawl_snap_spark(s, d, drop_mod: int):
        docs = load(s, d, "documents").where(F.col("doc_id") % 4 != drop_mod)
        snap = crawl.latest_snapshot(
            docs.select(
                "doc_id",
                crawl.messy_url("doc_id").alias("u"),
                crawl.crawl_ts_epoch("doc_id").alias("ts"),
            ),
            "u", "ts", "doc_id",
        )
        fp = docs.select(
            F.col("doc_id").alias("_fid"), phash(F.col("text")).alias("fp")
        )
        return snap.join(fp, snap["doc_id"] == fp["_fid"]).select(
            "url", "fp", "doc_id"
        )

    def _crawl_snap_sql(drop_mod: int) -> str:
        inner = crawl.latest_snapshot_sql(
            f"""(SELECT doc_id, {crawl.messy_url_sql('doc_id')} AS url_raw,
                 {crawl.crawl_ts_epoch_sql('doc_id')} AS ts FROM documents
                 WHERE doc_id % 4 != {drop_mod})""",
            "url_raw", "ts", "doc_id",
        )
        return f"""
        SELECT s.url, {T.phash_sql('d.text')} AS fp, s.doc_id
        FROM ({inner}) s JOIN documents d ON s.doc_id = d.doc_id
        """

    cat["crawl_delta"] = {
        "spark": lambda s, d: crawl.crawl_delta(
            _crawl_snap_spark(s, d, 0), _crawl_snap_spark(s, d, 3)
        ),
        "sql": crawl.crawl_delta_sql(_crawl_snap_sql(0), _crawl_snap_sql(3)),
        "ref": "incremental-crawl diff: added/removed/changed/unchanged per "
        "canonical url by content fingerprint (one full-outer join on the "
        "unique url key)",
    }

    # --- cardinality sketches (operators/sketches.py): HLL + KMV over
    # span hashes, all-integer register state, frozen-literal estimators —
    # the cross-checkable alternative to approx_count_distinct. ---
    cat["span_sketches"] = {
        "spark": lambda s, d: sketches.span_cardinality_sketches(
            load(s, d, "documents"), "source", "text"
        ),
        "sql": sketches.span_cardinality_sketches_sql(
            "documents", "source", "text"
        ),
        "ref": "distinct-cardinality telemetry (HLL m=256 + KMV k=64 over "
        "8-word span hashes; bit-strict integer sketch state)",
    }
    cat["countmin_heavy_hitters"] = {
        "spark": lambda s, d: sketches.countmin_heavy_hitters(
            load(s, d, "documents"), "text"
        ),
        "sql": sketches.countmin_heavy_hitters_sql("documents", "text"),
        "ref": "Count-Min sketch heavy hitters (Cormode & Muthukrishnan "
        "2005) — mergeable integer frequency telemetry; companion to the "
        "HLL/KMV cardinality sketches",
    }

    # --- Fellegi-Sunter three-way decision rule (the 1969 A1/A2/A3
    # regions): band counts are one aggregate; the clerical-review queue
    # is a capacity-capped top-k (rank<=K compiles to WindowGroupLimit —
    # partial top-k per map partition, never a global sort). ---
    _dec_sql = W.fs_decision_sql("w", FS_LOWER, FS_UPPER)
    cat["fs_decision_counts"] = {
        "spark": lambda s, d: _scored_pairs_cached(s, d)
        .select(W.fs_decision(F.col("w"), FS_LOWER, FS_UPPER).alias("decision"))
        .groupBy("decision")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")),
        "sql": f"""
        SELECT {_dec_sql} AS decision, CAST(count(*) AS BIGINT) AS n_pairs
        FROM ({_weighted_pairs_sql()}) GROUP BY 1
        """,
        "ref": "Fellegi-Sunter 1969 decision regions over the weight "
        "field (match / clerical / nonmatch band volumetrics)",
    }
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-K heaps merged at the driver — no global sort, no
    # single-partition WindowExec shuffle); only the <= REVIEW_K
    # survivors are then ranked, so the window runs over K rows by
    # construction (plan-pinned in tests/test_plans.py).
    cat["fs_review_queue"] = {
        "spark": lambda s, d: _scored_pairs_cached(s, d)
        .where(
            (F.col("w") >= F.lit(FS_LOWER)) & (F.col("w") < F.lit(FS_UPPER))
        )
        .orderBy(F.desc("w"), F.asc("id_a"), F.asc("id_b"))
        .limit(REVIEW_K)
        .withColumn(
            "review_rank",
            F.row_number()
            .over(
                Window.orderBy(
                    F.desc("w"), F.asc("id_a"), F.asc("id_b")
                )
            )
            .cast("int"),
        )
        .select("review_rank", "id_a", "id_b", "w"),
        "sql": f"""
        SELECT review_rank, id_a, id_b, w FROM (
          SELECT CAST(row_number() OVER (
                   ORDER BY w DESC, id_a ASC, id_b ASC) AS INT)
                   AS review_rank,
                 id_a, id_b, w
          FROM ({_weighted_pairs_sql()})
          WHERE w >= {FS_LOWER!r}e0 AND w < {FS_UPPER!r}e0
        ) WHERE review_rank <= {REVIEW_K}
        """,
        "ref": "clerical-review queue: ambiguous band ranked by weight "
        "(highest-evidence ambiguous pairs reviewed first; capacity-capped "
        "top-k so the sort is partial, never global)",
    }

    cat["text_stats"] = {
        "spark": lambda s, d: load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism * 2, "doc_id")
        .select(
            "doc_id",
            T.token_count(F.col("text")).alias("n_tokens"),
            T.lang_id(F.col("text")).alias("lang_pred"),
            T.quality_score(F.col("text")).alias("quality"),
            T.doc_fingerprint(F.col("text")).alias("fingerprint"),
            T.simhash(F.col("text")).alias("simhash"),
        ),
        "sql": f"""
        SELECT doc_id, {T.token_count_sql('text')} AS n_tokens,
               {T.lang_id_sql('text')} AS lang_pred,
               {T.quality_score_sql('text')} AS quality,
               {T.doc_fingerprint_sql('text')} AS fingerprint,
               {T.simhash_sql('text')} AS simhash
        FROM documents
        """,
        "ref": "language-ID / quality / token-count / fingerprint",
    }

    # --- similarity search (training-data ops) ---
    cat["embedding_topk"] = {
        "spark": lambda s, d: similarity.brute_force_topk(
            load(s, d, "embeddings"),
            "vec_id",
            "embedding",
            load(s, d, "embeddings").where(F.col("vec_id") < TOPK_QUERY_MAX_ID),
            k=TOPK,
        ),
        "sql": similarity.brute_force_topk_sql(
            "embeddings", "vec_id", "embedding",
            f"vec_id < {TOPK_QUERY_MAX_ID}", k=TOPK,
        ),
        "ref": "brute-force cosine top-k (ANN baseline)",
    }

    # --- bitext candidate mining: cross-lingual ANN --------------------------
    # Parallel-corpus mining (the LASER/CCMatrix shape): English queries
    # against the NON-English corpus only — the lang constraint rides the
    # equi-join with documents, and the ANN machinery is unchanged.
    BITEXT_QUERY_MAX_ID = 30

    def _bitext_spark(s, d):
        emb = load(s, d, "embeddings")
        langs = load(s, d, "documents").select(
            F.col("doc_id").alias("vec_id"), "lang"
        )
        je = emb.join(langs, on="vec_id")
        corpus_side = je.where(F.col("lang") != "en").select(
            "vec_id", "embedding"
        )
        queries = je.where(
            (F.col("lang") == "en") & (F.col("vec_id") < BITEXT_QUERY_MAX_ID)
        ).select("vec_id", "embedding")
        return similarity.brute_force_topk(
            corpus_side, "vec_id", "embedding", queries, k=TOPK
        )

    _BITEXT_COS = similarity.cosine_sql("q._q", "c._v")
    cat["bitext_topk"] = {
        "spark": _bitext_spark,
        "sql": f"""
        WITH bxe AS (SELECT e.vec_id, e.embedding, d.lang
                     FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        corpus AS (SELECT vec_id AS item_id, embedding AS _v
                   FROM bxe WHERE lang != 'en'),
        q AS (SELECT vec_id AS query_id, embedding AS _q
              FROM bxe WHERE lang = 'en' AND vec_id < {BITEXT_QUERY_MAX_ID}),
        scored AS (
          SELECT q.query_id, c.item_id, {_BITEXT_COS} AS sim
          FROM corpus c CROSS JOIN q WHERE c.item_id != q.query_id
        )
        SELECT query_id, item_id, sim, rank FROM (
          SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, item_id ASC) AS INT)
            AS rank
          FROM scored
        ) WHERE rank <= {TOPK}
        """,
        "ref": "bitext / parallel-corpus candidate mining (LASER-CCMatrix "
        "shape): cross-lingual cosine top-k — en queries vs the non-en "
        "corpus via a lang equi-join on the shared ANN machinery",
    }

    # --- size-capped clustering: runs over the n-gram-Jaccard near-dup
    # graph (dense enough that the cap actually forces threshold raises at
    # sf>=0.01) with round parameters whose termination bound is static, so
    # the iterative loop unrolls into an exact recursive-CTE oracle ---
    def _capped_cc(s: SparkSession, d: str) -> DataFrame:
        from ..operators.connected_components import size_capped_components

        p = _jp_exact_cached(s, d)
        wedges = p.select(
            F.col("id_a").alias("src"),
            F.col("id_b").alias("dst"),
            F.col("jac_pct").alias("w"),
        )
        return size_capped_components(
            wedges,
            max_pairs=CAPPED_CC_MAX_PAIRS,
            threshold=CAPPED_CC_T0,
            incr=CAPPED_CC_INCR,
            max_rounds=CAPPED_CC_ROUNDS,
        )

    cat["size_capped_components"] = {
        "spark": _capped_cc,
        "sql": _capped_cc_sql(),
        "ref": "src/clustering_functions.jl:390-489 (iterative_bipartite_cluster2)",
    }

    # --- cannot-link constrained clustering (cluster repair): same graph
    # and threshold schedule, with a deterministic phash-selected subset of
    # the pair graph as the cannot-link set, so every constraint starts
    # violated and the repair rounds actually fire ---
    def _constrained_cc(s: SparkSession, d: str) -> DataFrame:
        from ..operators.connected_components import cannot_link_components

        p = _jp_exact_cached(s, d)
        wedges = p.select(
            F.col("id_a").alias("src"),
            F.col("id_b").alias("dst"),
            F.col("jac_pct").alias("w"),
        )
        kl = p.where(
            phash(F.concat_ws(":", F.lit("cl"), F.col("id_a"), F.col("id_b")))
            % CL_CC_MOD
            == 0
        ).select("id_a", "id_b")
        return cannot_link_components(
            wedges,
            kl,
            threshold=CAPPED_CC_T0,
            incr=CAPPED_CC_INCR,
            max_rounds=CAPPED_CC_ROUNDS,
        )

    cat["constrained_components"] = {
        "spark": _constrained_cc,
        "sql": _constrained_cc_sql(),
        "ref": "src/clustering_functions.jl:390-489 (iterative_bipartite_"
        "cluster2 skeleton, oversize predicate replaced by cannot-link "
        "violation — negative-rule cluster repair)",
    }

    def _one_to_one_links(s: SparkSession, d: str) -> DataFrame:
        from ..operators import assignment

        wp = _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD)
        comps = _cc_pos_cached(s, d)
        blocked = wp.join(
            comps.withColumnRenamed("node", "id_a"), on="id_a"
        ).withColumnRenamed("component", "block_id")
        return assignment.one_to_one(
            blocked.select("id_a", "id_b", "w", "block_id"), method="hungarian"
        )

    # Oracle-able since round 3: a GLOBAL greedy matching replayed as a
    # recursive CTE (pick head of the (w DESC, id_a, id_b)-ordered pair
    # list, drop conflicts, repeat) equals the Spark run because (a)
    # connected components partition the node set, so global greedy is the
    # union of per-block greedies, (b) the mutual fast path picks exactly
    # the pairs greedy would (each attains its row/column max under the
    # same tie-break), and (c) greedy == Hungarian on the solver residue —
    # certified per fixture by tests/test_assignment.py::
    # test_one_to_one_greedy_hungarian_certificate (greedy optimality is
    # NOT a theorem; the certificate is what makes this oracle valid — it
    # is asserted at sf0.001/sf0.01 in pytest and re-certified at sf0.1 by
    # scripts/parity_sweep.py comparing this SQL to the Hungarian run).
    # w itself is the
    # bit-portable fs_weights expression, so ordering and output values
    # replay exactly.
    # shared by one_to_one_links (hungarian) and one_to_one_links_auction:
    # both solvers provably return the SAME matching wherever the fixture's
    # per-block optimum is unique, and the greedy==solver certificate test
    # covers both methods (tests/test_assignment.py)
    _o2o_greedy_sql = f"""
        WITH RECURSIVE wp AS MATERIALIZED (
          SELECT id_a, id_b, w FROM ({_weighted_pairs_sql()})
          WHERE w > {EDGE_THRESHOLD!r}e0
        ),
        bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM wp
                            UNION ALL SELECT id_b AS a, id_a AS b FROM wp),
        walk(node, comp) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM bi)
          UNION
          SELECT bi.b, w.comp FROM walk w JOIN bi ON bi.a = w.node
          WHERE w.comp < bi.b
        ),
        cc AS MATERIALIZED (SELECT node, min(comp) AS component
                            FROM walk GROUP BY node),
        cand AS (SELECT list(struct_pack(ia := id_a, ib := id_b, w := w)
                             ORDER BY w DESC, id_a, id_b) AS rem FROM wp),
        g AS (
          SELECT 0 AS n,
                 CAST([] AS STRUCT(ia BIGINT, ib BIGINT, w DOUBLE)[]) AS chosen,
                 (SELECT rem FROM cand) AS rem
          UNION ALL
          SELECT n + 1, list_append(chosen, rem[1]),
                 list_filter(rem[2:], p -> p['ia'] != (rem[1])['ia']
                             AND p['ib'] != (rem[1])['ib'])
          FROM g WHERE len(rem) > 0
        ),
        lk AS (SELECT u['ia'] AS id_a, u['ib'] AS id_b, u['w'] AS w
               FROM (SELECT unnest(chosen) AS u
                     FROM (SELECT chosen FROM g ORDER BY n DESC LIMIT 1)))
        SELECT lk.id_a, lk.id_b, lk.w, cc.component AS block_id
        FROM lk JOIN cc ON cc.node = lk.id_a
        """

    cat["one_to_one_links"] = {
        "spark": _one_to_one_links,
        "sql": _o2o_greedy_sql,
        "ref": "src/maximization_functions.jl:137-244 (max_C_cluster_hungarian)",
    }

    # the mutual-fast-path subset of the SAME operator run: blocks whose
    # mutual-best pairs cover every node (or 1xn blocks) are provably
    # optimal without a solver, so this slice of the output is
    # SQL-expressible — the Hungarian residue stays pytest-validated
    def _one_to_one_links_mutual(s: SparkSession, d: str) -> DataFrame:
        from ..operators import assignment

        wp = _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD)
        comps = _cc_pos_cached(s, d)
        blocked = wp.join(
            comps.withColumnRenamed("node", "id_a"), on="id_a"
        ).withColumnRenamed("component", "block_id")
        out = assignment.one_to_one(
            blocked.select("id_a", "id_b", "w", "block_id"),
            method="hungarian",
            with_resolved_by=True,
        )
        return out.where(F.col("resolved_by") == "mutual").select(
            "id_a", "id_b", "w", "block_id"
        )

    cat["one_to_one_links_mutual"] = {
        "spark": _one_to_one_links_mutual,
        "sql": f"""
        WITH RECURSIVE wp AS MATERIALIZED (
          SELECT * FROM ({_weighted_pairs_sql()}) WHERE w > {EDGE_THRESHOLD!r}e0
        ),
        bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM wp
                            UNION ALL SELECT id_b AS a, id_a AS b FROM wp),
        walk(node, comp) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM bi)
          UNION
          SELECT bi.b, w.comp FROM walk w JOIN bi ON bi.a = w.node
          WHERE w.comp < bi.b
        ),
        cc AS MATERIALIZED (SELECT node, min(comp) AS component
                            FROM walk GROUP BY node),
        bp AS MATERIALIZED (
          SELECT wp.id_a, wp.id_b, wp.w, cc.component AS block_id,
                 row_number() OVER (PARTITION BY wp.id_a
                                    ORDER BY wp.w DESC, wp.id_b ASC) AS ra,
                 row_number() OVER (PARTITION BY wp.id_b
                                    ORDER BY wp.w DESC, wp.id_a ASC) AS rb
          FROM wp JOIN cc ON cc.node = wp.id_a
        ),
        mut AS (SELECT id_a, id_b, w, block_id FROM bp WHERE ra = 1 AND rb = 1),
        stats AS (SELECT block_id, count(DISTINCT id_a) AS na,
                         count(DISTINCT id_b) AS nb
                  FROM bp GROUP BY block_id),
        mc AS (SELECT block_id, count(*) AS nm FROM mut GROUP BY block_id),
        resolved AS (
          SELECT s.block_id FROM stats s JOIN mc ON mc.block_id = s.block_id
          WHERE s.na = 1 OR s.nb = 1 OR (mc.nm = s.na AND s.na = s.nb)
        )
        SELECT m.id_a, m.id_b, m.w, m.block_id
        FROM mut m JOIN resolved r ON r.block_id = m.block_id
        """,
        "ref": "src/maximization_functions.jl:203-244 (fast paths; mutual-total "
        "blocks are provably solver-free)",
    }

    # --- the SAME decomposed assignment run through the epsilon-scaling
    # auction solver (max_C_auction_cluster). Oracle validity: auction with
    # eps-scaling down to eps_min < min-margin/|block| is exactly optimal,
    # and the fixture's per-block optimum is unique, so auction ==
    # Hungarian == greedy replay link-for-link — certified per fixture by
    # tests/test_assignment.py::test_one_to_one_greedy_hungarian_certificate
    # (which asserts all THREE methods agree on the catalog fixture; on a
    # tie-degenerate fixture the certificate fails loudly and this oracle
    # must be demoted, never weakened).
    def _one_to_one_links_auction(s: SparkSession, d: str) -> DataFrame:
        from ..operators import assignment

        wp = _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD)
        comps = _cc_pos_cached(s, d)
        blocked = wp.join(
            comps.withColumnRenamed("node", "id_a"), on="id_a"
        ).withColumnRenamed("component", "block_id")
        return assignment.one_to_one(
            blocked.select("id_a", "id_b", "w", "block_id"), method="auction"
        )

    cat["one_to_one_links_auction"] = {
        "spark": _one_to_one_links_auction,
        "sql": _o2o_greedy_sql,
        "ref": "src/maximization_functions.jl:246-333 (max_C_auction_cluster)",
    }

    # --- the warm-start (update=true) path: cold auction solve -> recycle
    # the per-column price table -> warm re-solve. eps-CS holds for ANY
    # seeded prices (seeds change the phase schedule, never the
    # guarantee), so the warm links must equal the cold/Hungarian/greedy
    # links wherever the optimum is unique — same certificate as above.
    def _one_to_one_links_auction_warm(s: SparkSession, d: str) -> DataFrame:
        from ..operators import assignment

        wp = _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD)
        comps = _cc_pos_cached(s, d)
        blocked = (
            wp.join(comps.withColumnRenamed("node", "id_a"), on="id_a")
            .withColumnRenamed("component", "block_id")
            .select("id_a", "id_b", "w", "block_id")
            .localCheckpoint()  # consumed by the cold AND the warm solve
        )
        _, prices = assignment.one_to_one_auction_warm(blocked)
        links, _ = assignment.one_to_one_auction_warm(blocked, prices=prices)
        return links

    cat["one_to_one_links_auction_warm"] = {
        "spark": _one_to_one_links_auction_warm,
        "sql": _o2o_greedy_sql,
        "ref": "src/maximization_functions.jl:246-333 (max_C_auction_cluster "
        "update=true price recycling)",
    }

    # --- capacitated one-to-many (right capacity 2): each page links at
    # most once, each canonical target absorbs up to 2 pages. Spark side
    # solves per block via the duplicate-right-nodes Hungarian reduction
    # (expansion in block-local memory, never in the shuffle); the oracle
    # replays the CAPPED global greedy (take pairs in (w desc, id_a, id_b)
    # order, accept while id_a unused and id_b under cap) as a recursive
    # CTE. Valid for the same three reasons as _o2o_greedy_sql, with the
    # greedy==Hungarian certificate extended to cap_b=2 in
    # tests/test_assignment.py::test_one_to_many_greedy_hungarian_certificate.
    O2M_CAP = 2

    def _one_to_many_links(s: SparkSession, d: str) -> DataFrame:
        from ..operators import assignment

        wp = _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD)
        comps = _cc_pos_cached(s, d)
        blocked = wp.join(
            comps.withColumnRenamed("node", "id_a"), on="id_a"
        ).withColumnRenamed("component", "block_id")
        return assignment.one_to_many(
            blocked.select("id_a", "id_b", "w", "block_id"),
            cap_b=O2M_CAP,
            method="hungarian",
        )

    _o2m_greedy_sql = f"""
        WITH RECURSIVE wp AS MATERIALIZED (
          SELECT id_a, id_b, w FROM ({_weighted_pairs_sql()})
          WHERE w > {EDGE_THRESHOLD!r}e0
        ),
        bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM wp
                            UNION ALL SELECT id_b AS a, id_a AS b FROM wp),
        walk(node, comp) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM bi)
          UNION
          SELECT bi.b, w.comp FROM walk w JOIN bi ON bi.a = w.node
          WHERE w.comp < bi.b
        ),
        cc AS MATERIALIZED (SELECT node, min(comp) AS component
                            FROM walk GROUP BY node),
        cand AS (SELECT list(struct_pack(ia := id_a, ib := id_b, w := w)
                             ORDER BY w DESC, id_a, id_b) AS rem FROM wp),
        g AS (
          SELECT 0 AS n,
                 CAST([] AS STRUCT(ia BIGINT, ib BIGINT, w DOUBLE)[]) AS chosen,
                 (SELECT rem FROM cand) AS rem
          UNION ALL
          SELECT n + 1, list_append(chosen, rem[1]),
                 list_filter(rem[2:], p -> p['ia'] != (rem[1])['ia']
                     AND len(list_filter(list_append(chosen, rem[1]),
                                         c -> c['ib'] = p['ib'])) < {O2M_CAP})
          FROM g WHERE len(rem) > 0
        ),
        lk AS (SELECT u['ia'] AS id_a, u['ib'] AS id_b, u['w'] AS w
               FROM (SELECT unnest(chosen) AS u
                     FROM (SELECT chosen FROM g ORDER BY n DESC LIMIT 1)))
        SELECT lk.id_a, lk.id_b, lk.w, cc.component AS block_id
        FROM lk JOIN cc ON cc.node = lk.id_a
        """

    cat["one_to_many_links"] = {
        "spark": _one_to_many_links,
        "sql": _o2m_greedy_sql,
        "ref": "src/maximization_functions.jl:203-244 (max_C_cluster_* "
        "decomposition, generalized to right-capacity b-matching via the "
        "duplicate-right-nodes reduction)",
    }

    # --- many-to-many (doubly-capacitated) greedy b-matching --------------
    # Same global-greedy replay as one_to_many, with BOTH side caps in
    # the recursive filter (a chosen-list count per side).
    M2M_CAP_A, M2M_CAP_B = 2, 2

    def _many_to_many_links(s: SparkSession, d: str) -> DataFrame:
        from ..operators.assignment import many_to_many

        wp = _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD)
        cc = _cc_pos_cached(s, d).select(
            F.col("node").alias("id_a"), F.col("component").alias("block_id")
        )
        return many_to_many(
            wp.join(cc, on="id_a"), cap_a=M2M_CAP_A, cap_b=M2M_CAP_B
        ).select("id_a", "id_b", "w", "block_id")

    _m2m_greedy_sql = f"""
        WITH RECURSIVE wp AS MATERIALIZED (
          SELECT id_a, id_b, w FROM ({_weighted_pairs_sql()})
          WHERE w > {EDGE_THRESHOLD!r}e0
        ),
        bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM wp
                            UNION ALL SELECT id_b AS a, id_a AS b FROM wp),
        walk(node, comp) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM bi)
          UNION
          SELECT bi.b, w.comp FROM walk w JOIN bi ON bi.a = w.node
          WHERE w.comp < bi.b
        ),
        cc AS MATERIALIZED (SELECT node, min(comp) AS component
                            FROM walk GROUP BY node),
        cand AS (SELECT list(struct_pack(ia := id_a, ib := id_b, w := w)
                             ORDER BY w DESC, id_a, id_b) AS rem FROM wp),
        g AS (
          SELECT 0 AS n,
                 CAST([] AS STRUCT(ia BIGINT, ib BIGINT, w DOUBLE)[]) AS chosen,
                 (SELECT rem FROM cand) AS rem
          UNION ALL
          SELECT n + 1, list_append(chosen, rem[1]),
                 list_filter(rem[2:], p ->
                     len(list_filter(list_append(chosen, rem[1]),
                                     c -> c['ia'] = p['ia'])) < {M2M_CAP_A}
                     AND len(list_filter(list_append(chosen, rem[1]),
                                         c -> c['ib'] = p['ib'])) < {M2M_CAP_B})
          FROM g WHERE len(rem) > 0
        ),
        lk AS (SELECT u['ia'] AS id_a, u['ib'] AS id_b, u['w'] AS w
               FROM (SELECT unnest(chosen) AS u
                     FROM (SELECT chosen FROM g ORDER BY n DESC LIMIT 1)))
        SELECT lk.id_a, lk.id_b, lk.w, cc.component AS block_id
        FROM lk JOIN cc ON cc.node = lk.id_a
        """

    cat["many_to_many_links"] = {
        "spark": _many_to_many_links,
        "sql": _m2m_greedy_sql,
        "ref": "doubly-capacitated greedy b-matching (household/directory "
        "linkage with bounded fan-out on BOTH sides; 1/2-approximation, "
        "the relationally-expressible production form) — generalizes "
        "one_to_many_links; src/maximization_functions.jl:203-244 anchor",
    }

    # --- Gale-Shapley stable matching (asymmetric per-side scores) --------
    # A third one-to-one semantics beside optimal (hungarian/auction) and
    # greedy: the a-optimal STABLE matching when each side ranks by its
    # OWN signal — a-side by the FS log-weight, b-side by exact token-
    # Jaccard (integer micro). With a shared score GS degenerates to
    # greedy; the asymmetric case is what it exists for. Comparators run
    # once per pair behind the same barrier as the scoring path.
    def _stable_pairs_spark(s: SparkSession, d: str) -> DataFrame:
        raw = _raw_measures(_pairs_spark(s, d))
        agg = raw.groupBy("id_a", "id_b").agg(
            *[F.first(c).alias(c) for c in _RAW_COLS]
        )
        b = _bin_exprs()
        scored = agg.select(
            "id_a", "id_b", *[b[g].alias(g) for g in GCOLS], "_i", "_nab"
        )
        return (
            scored.withColumn(
                "w_a", W.fs_weight([(F.col(g), k) for g, k in FIELD_KINDS])
            )
            .withColumn(
                "w_b",
                F.expr(
                    "CAST(CASE WHEN _nab - _i > 0 THEN "
                    "(_i * 1000000) div (_nab - _i) ELSE 0 END AS DOUBLE)"
                ),
            )
            .where(F.col("w_a") > 0)
            .select("id_a", "id_b", "w_a", "w_b")
        )

    def _stable_links_spark(s: SparkSession, d: str) -> DataFrame:
        from ..operators.assignment import stable_links

        p = _stable_pairs_spark(s, d)
        cc = _cc_pos_cached(s, d).select(
            F.col("node").alias("id_a"), F.col("component").alias("block_id")
        )
        blocked = p.join(cc, on="id_a")
        return stable_links(blocked).select("id_a", "id_b", "w_a", "w_b")

    def _stable_pairs_sql() -> str:
        # per-doc token/prefix materialization (tokenize once per DOC, not
        # per pair — the same scale discipline as the Spark side; measured
        # 3.5x on the sf0.1 oracle vs naive per-pair tokenization),
        # then ONE list_intersect per pair with u = na + nb - i arithmetic.
        g1 = C.lev_ord_sql("a.t64", "b.t64")
        g3 = C.num_band_ord_sql("a.n_chars", "b.n_chars", NCHAR_CUTS)
        return f"""
        WITH smdoc AS MATERIALIZED (
          SELECT doc_id, lang, source, n_chars,
                 substr(text, 1, {LEV_PREFIX}) AS t64,
                 list_distinct(string_split(text, ' ')) AS toks,
                 (text IS NULL) AS tnull
          FROM documents
        ),
        smraw AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 {g1} AS g1, {g3} AS g3,
                 (a.tnull OR b.tnull) AS anynull,
                 len(list_intersect(a.toks, b.toks)) AS _i,
                 len(a.toks) + len(b.toks) AS _nab
          FROM smdoc a JOIN smdoc b
            ON a.lang = b.lang AND a.source = b.source
           AND a.doc_id < b.doc_id
        ),
        smg AS (
          SELECT id_a, id_b, g1, g3, _i, _u,
                 CAST(CASE WHEN anynull THEN 0
                      WHEN _u = 0 THEN 1
                      WHEN _i * 10 >= _u * 9 THEN 1
                      WHEN _i * 10 >= _u * 6 THEN 2
                      WHEN _i * 10 >= _u * 3 THEN 3
                      ELSE 4 END AS TINYINT) AS g2
          FROM (SELECT *, _nab - _i AS _u FROM smraw)
        )
        SELECT id_a, id_b, {_WEIGHT_EXPR_SQL} AS w_a,
               CAST(CASE WHEN _u > 0 THEN (_i * 1000000) // _u
                    ELSE 0 END AS DOUBLE) AS w_b
        FROM smg WHERE {_WEIGHT_EXPR_SQL} > 0e0
        """

    from ..operators.assignment import stable_links_sql

    cat["stable_marriage_links"] = {
        "spark": _stable_links_spark,
        "sql": stable_links_sql(_stable_pairs_sql()),
        "ref": "Gale-Shapley 1962 a-optimal stable matching (McVitie-"
        "Wilson order-independence makes the oracle's round-based replay "
        "equal the per-block sequential loop); asymmetric-preference "
        "counterpart of max_C_cluster_*'s weight-optimal assignment",
    }

    # --- cost normalization (SURVEY 2.2 compute_costs_shrunk) ---
    cat["shrunk_costs"] = {
        "spark": lambda s, d: _scored_pairs_cached(s, d)
        .where(F.col("w") > 0)
        .withColumn(
            "cost", F.max("w").over(Window.partitionBy("id_a")) - F.col("w")
        )
        .select("id_a", "id_b", "cost"),
        "sql": f"""
        SELECT id_a, id_b, (max(w) OVER (PARTITION BY id_a) - w) AS cost
        FROM ({_weighted_pairs_sql()}) WHERE w > 0e0
        """,
        "ref": "src/weight_functions.jl:426-432 (compute_costs_shrunk)",
    }

    # --- balancing transforms (SURVEY 2.2, Zanella-2019 log-space forms;
    # the exp-free subset is oracle-checked, barker is pytest-verified) ---
    cat["balancing_transforms"] = {
        "spark": lambda s, d: _scored_pairs_cached(s, d).select(
            "id_a",
            "id_b",
            (F.col("w") * 0.5).alias("lsqrt"),
            F.least(F.col("w"), F.lit(0.0)).alias("lmin1"),
            F.greatest(F.col("w"), F.lit(0.0)).alias("lmax1"),
        ),
        "sql": f"""
        SELECT id_a, id_b, (w * 0.5e0) AS lsqrt,
               least(w, 0e0) AS lmin1, greatest(w, 0e0) AS lmax1
        FROM ({_weighted_pairs_sql()})
        """,
        "ref": "src/balancing_functions.jl:8-99 (lsqrt/lmin1/lmax1 log forms)",
    }

    # --- matching diffs (SURVEY 2.4 row2col_removed/added/difference) ---
    _MB_SQL = """
        SELECT id_a, id_b FROM (
          SELECT id_a, id_b,
            row_number() OVER (PARTITION BY id_a ORDER BY w DESC, id_b ASC) AS ra,
            row_number() OVER (PARTITION BY id_b ORDER BY w DESC, id_a ASC) AS rb
          FROM wp WHERE w > {thr}
        ) WHERE ra = 1 AND rb = 1
    """

    def _mb_at(wp: DataFrame, thr: float) -> DataFrame:
        return (
            wp.where(F.col("w") > thr)
            .withColumn(
                "_ra",
                F.row_number().over(
                    Window.partitionBy("id_a").orderBy(F.desc("w"), F.asc("id_b"))
                ),
            )
            .withColumn(
                "_rb",
                F.row_number().over(
                    Window.partitionBy("id_b").orderBy(F.desc("w"), F.asc("id_a"))
                ),
            )
            .where((F.col("_ra") == 1) & (F.col("_rb") == 1))
            .select("id_a", "id_b")
        )

    def _links_diff(s: SparkSession, d: str) -> DataFrame:
        from ..operators.linkmatrix import links_difference

        wp = _scored_pairs_cached(s, d)
        return links_difference(
            _mb_at(wp, EDGE_THRESHOLD), _mb_at(wp, PENALTY)
        )

    cat["links_diff"] = {
        "spark": _links_diff,
        "sql": f"""
        WITH wp AS ({_weighted_pairs_sql()}),
        old AS ({_MB_SQL.format(thr=f"{EDGE_THRESHOLD!r}e0")}),
        new AS ({_MB_SQL.format(thr=f"{PENALTY!r}e0")})
        SELECT coalesce(old.id_a, new.id_a) AS id_a,
               coalesce(old.id_b, new.id_b) AS id_b,
               CASE WHEN old.id_a IS NOT NULL AND new.id_a IS NOT NULL THEN 'kept'
                    WHEN old.id_a IS NOT NULL THEN 'removed'
                    ELSE 'added' END AS status
        FROM old FULL OUTER JOIN new
          ON old.id_a = new.id_a AND old.id_b = new.id_b
        """,
        "ref": "src/linkmatrix.jl:344-427 (row2col_removed/added/difference)",
    }

    # --- summary merge (SURVEY 2.3 merge_comparisonsummary) ---
    def _merged_summaries(s: SparkSession, d: str) -> DataFrame:
        from ..operators.comparison_summary import merge_summaries

        v = _vectors_cached(s, d)
        half_a = distinct_vectors(v.where((F.col("id_a") + F.col("id_b")) % 2 == 0), GCOLS)
        half_b = distinct_vectors(v.where((F.col("id_a") + F.col("id_b")) % 2 == 1), GCOLS)
        return merge_summaries(half_a, half_b, GCOLS)

    cat["merged_summaries"] = {
        "spark": _merged_summaries,
        "sql": f"""
        WITH v AS ({_vectors_sql()}),
        ha AS (SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n_pairs
               FROM v WHERE (id_a + id_b) % 2 = 0 GROUP BY g1, g2, g3),
        hb AS (SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n_pairs
               FROM v WHERE (id_a + id_b) % 2 = 1 GROUP BY g1, g2, g3),
        merged AS (SELECT g1, g2, g3, CAST(sum(n_pairs) AS BIGINT) AS n_pairs
                   FROM (SELECT * FROM ha UNION ALL SELECT * FROM hb)
                   GROUP BY g1, g2, g3)
        SELECT CAST(row_number() OVER (ORDER BY g1, g2, g3) AS BIGINT) AS vec_id,
               g1, g2, g3, n_pairs
        FROM merged
        """,
        "ref": "src/comparisonsummary.jl:422-488 (merge_comparisonsummary)",
    }

    # --- chain per-step counts (SURVEY 2.3 get_groupidcounts/linkstagecounts) ---
    cat["chain_stage_counts"] = {
        "spark": lambda s, d: _chain_spark(s, d)
        .select(F.explode(F.sequence(F.col("start"), F.col("stop"))).alias("step"))
        .groupBy("step")
        .agg(F.count(F.lit(1)).alias("n_links")),
        "sql": f"""
        SELECT step, CAST(count(*) AS BIGINT) AS n_links
        FROM (SELECT unnest(generate_series(start, stop)) AS step
              FROM ({_chain_sql()}))
        GROUP BY step
        """,
        "ref": "src/parameterchain.jl:146-285 (get_groupidcounts/get_linkstagecounts)",
    }

    # --- chain per-GROUP counts + segment links (SURVEY 2.3
    # get_groupidcounts_row/_column/_pair, get_segmentlinks) ---
    def _chain_group_counts(s: SparkSession, d: str) -> DataFrame:
        from ..operators.map_solver import group_id_counts

        chain = _chain_spark(s, d)
        # deterministic row-group mapping: group_id in 0..6, 0 ignored
        groups = chain.select("id_a").distinct().select(
            "id_a",
            F.pmod(phash(F.concat_ws(":", F.lit("g"), F.col("id_a"))), 7)
            .cast("int")
            .alias("group_id"),
        )
        return group_id_counts(chain, groups, on=["id_a"])

    _gid = T.phash_sql("concat_ws(':', 'g', id_a)")
    cat["chain_group_counts"] = {
        "spark": _chain_group_counts,
        "sql": f"""
        WITH chain AS ({_chain_sql()}),
        groups AS (SELECT id_a, CAST({_gid} % 7 AS INT) AS group_id
                   FROM (SELECT DISTINCT id_a FROM chain)),
        exploded AS (
          SELECT g.group_id, unnest(generate_series(c.start, c.stop)) AS step
          FROM chain c JOIN groups g ON c.id_a = g.id_a
          WHERE g.group_id > 0
        )
        SELECT step, group_id, CAST(count(*) AS BIGINT) AS n
        FROM exploded GROUP BY step, group_id
        """,
        "ref": "src/parameterchain.jl:146-253 (get_groupidcounts_row; "
        "column/pair forms share group_id_counts with on=[id_b]/[id_a,id_b])",
    }

    SEG_START, SEG_STOP = 5, 12

    def _segmentlinks(s: SparkSession, d: str) -> DataFrame:
        from ..operators.map_solver import segment_links

        return segment_links(_chain_spark(s, d), SEG_START, SEG_STOP)

    cat["segmentlinks"] = {
        "spark": _segmentlinks,
        "sql": f"SELECT id_a, id_b FROM ({_chain_sql()}) "
        f"WHERE start <= {SEG_START} AND stop >= {SEG_STOP}",
        "ref": "src/parameterchain.jl:299-313 (get_segmentlinks)",
    }

    # --- post-hoc blocks (SURVEY 2.6 PosthocBlocks + dropoutside) ---
    def _posthoc_blocks(s: SparkSession, d: str) -> DataFrame:
        from ..operators.linkmatrix import drop_outside

        wp = _scored_pairs_cached(s, d)
        cc = _cc_cached(s, d)
        inside = drop_outside(wp.select("id_a", "id_b", "w"), cc)
        bp = inside.groupBy("block_id").agg(F.count(F.lit(1)).alias("n_pairs"))
        nodes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))
        return (
            nodes.withColumnRenamed("component", "block_id")
            .join(bp, on="block_id", how="left")
            .select(
                "block_id",
                "n_nodes",
                F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            )
        )

    cat["posthoc_blocks"] = {
        "spark": _posthoc_blocks,
        "sql": f"""
        WITH cc AS ({_cc_sql()}),
        wp AS ({_weighted_pairs_sql()}),
        inside AS (
          SELECT ca.component AS block_id
          FROM wp JOIN cc ca ON wp.id_a = ca.node JOIN cc cb ON wp.id_b = cb.node
          WHERE ca.component = cb.component
        ),
        bp AS (SELECT block_id, CAST(count(*) AS BIGINT) AS n_pairs
               FROM inside GROUP BY block_id)
        SELECT cc.component AS block_id, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(coalesce(any_value(bp.n_pairs), 0) AS BIGINT) AS n_pairs
        FROM cc LEFT JOIN bp ON cc.component = bp.block_id
        GROUP BY cc.component
        """,
        "ref": "src/posthocblocks.jl:89-116 + src/mcmc.jl:12-54 (dropoutside)",
    }

    # --- matched distinct vectors (SURVEY 2.3 matched_comparisons) ---
    def _matched_vectors(s: SparkSession, d: str) -> DataFrame:
        from ..operators.comparison_summary import attach_vec_ids
        from ..operators.linkmatrix import matched_comparisons

        wp = _scored_pairs_cached(s, d)
        dv = distinct_vectors(wp.select("id_a", "id_b", *GCOLS), GCOLS)
        links = attach_vec_ids(_mb_at(wp, EDGE_THRESHOLD).join(
            wp.select("id_a", "id_b", *GCOLS), on=["id_a", "id_b"]
        ), dv, GCOLS)
        return matched_comparisons(dv, links)

    cat["matched_vectors"] = {
        "spark": _matched_vectors,
        "sql": f"""
        WITH v AS ({_vectors_sql()}),
        wp AS (SELECT id_a, id_b, g1, g2, g3, {_WEIGHT_EXPR_SQL} AS w FROM v),
        m AS (SELECT * FROM (
            SELECT id_a, id_b, g1, g2, g3,
              row_number() OVER (PARTITION BY id_a ORDER BY w DESC, id_b ASC) AS ra,
              row_number() OVER (PARTITION BY id_b ORDER BY w DESC, id_a ASC) AS rb
            FROM wp WHERE w > {EDGE_THRESHOLD!r}e0
        ) WHERE ra = 1 AND rb = 1),
        dv AS (SELECT CAST(row_number() OVER (ORDER BY g1, g2, g3) AS BIGINT) AS vec_id,
                      g1, g2, g3, CAST(count(*) AS BIGINT) AS n_pairs
               FROM v GROUP BY g1, g2, g3)
        SELECT dv.* FROM dv
        WHERE EXISTS (SELECT 1 FROM m
                      WHERE m.g1 = dv.g1 AND m.g2 = dv.g2 AND m.g3 = dv.g3)
        """,
        "ref": "src/linkmatrix.jl:435-447 (matched_comparisons)",
    }

    # --- EM estimation (SURVEY 2.7; iterative driver numpy on aggregated
    # counts — rows-only driver check, exact values pytest-verified) ---
    def _em_estimates(s: SparkSession, d: str) -> DataFrame:
        import pandas as pd

        from ..operators import em

        dv = (
            distinct_vectors(_vectors_cached(s, d), GCOLS)
            .orderBy("vec_id")
            .toPandas()
        )
        params = em.estimate_em(dv, GCOLS, NLEVELS)
        rows = [
            {
                "field": g,
                "level": lvl + 1,
                "pM": float(params.pM[g][lvl]),
                "pU": float(params.pU[g][lvl]),
            }
            for g in GCOLS
            for lvl in range(NLEVELS[g])
        ]
        return s.createDataFrame(
            pd.DataFrame(rows), schema="field string, level int, pM double, pU double"
        )

    # Oracle-able since round 3: estimate_em was rewritten to use only
    # exactly-rounded ops (+,-,*,/,max) with pinned fold orders, so the
    # whole EM iteration replays bit-exactly as a DuckDB recursive CTE
    # (plans/em_oracle.py) — no frozen outputs, the oracle re-derives the
    # fit from the parquet tables.
    from .em_oracle import estimate_em_sql

    cat["em_estimates"] = {
        "spark": _em_estimates,
        "sql": estimate_em_sql(_vectors_sql(), GCOLS, NLEVELS),
        "ref": "src/em_functions.jl:72-101 (estimate_EM on distinct vectors)",
    }

    # --- max weights across a parameter path (SURVEY 2.7
    # maximum_weights_vector + prior_mode) --- per distinct vector, the
    # max likelihood ratio across a 2-element parameter path: the EM fit
    # and the Dirichlet-prior modes (prior_mode of agreement-leaning M /
    # disagreement-leaning U pseudo-counts). Scores live in PRODUCT space
    # (per-vector ratio products, left-assoc over fields — the same
    # log-free convention as plans/pp_oracle.py; max/ordering are monotone-
    # equivalent to the reference's log-weight form, asserted in
    # tests/test_em_weights.py). The EM side of the oracle re-derives the
    # fit via the recursive CTE (nothing frozen); prior-mode values are
    # exact integer-ratio literals (module-level _MW_PM_EXPORT/
    # _MW_PU_EXPORT so the monotone-equivalence test reuses them).
    import numpy as np

    from ..operators import em as _em_mod

    _MW_PM = _MW_PM_EXPORT
    _MW_PU = _MW_PU_EXPORT

    def _max_weights_path(s: SparkSession, d: str) -> DataFrame:
        import pandas as pd

        dv = (
            distinct_vectors(_vectors_cached(s, d), GCOLS)
            .orderBy("vec_id")
            .toPandas()
        )
        fit = _em_mod.estimate_em(dv, GCOLS, NLEVELS)

        def ratio(pM: dict, pU: dict) -> np.ndarray:
            r = None
            for g in GCOLS:
                lv = dv[g].to_numpy().astype(int)
                term = np.ones(len(dv))
                obs = lv > 0
                term[obs] = pM[g][lv[obs] - 1] / pU[g][lv[obs] - 1]
                r = term if r is None else r * term
            return r

        r_em = ratio(fit.pM, fit.pU)
        r_prior = ratio(_MW_PM, _MW_PU)
        return s.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": dv["vec_id"].to_numpy(),
                    "r_em": r_em,
                    "r_prior": r_prior,
                    "r_max": np.maximum(r_em, r_prior),
                }
            ),
            schema="vec_id bigint, r_em double, r_prior double, r_max double",
        )

    from .em_oracle import _prod, em_state_ctes, flit

    def _mw_case(g: str, m_of: "callable", u_of: "callable") -> str:
        whens = " ".join(
            f"WHEN {l} THEN ({m_of(g, l)} / {u_of(g, l)})"
            for l in range(1, NLEVELS[g] + 1)
        )
        return f"(CASE dv.{g} {whens} ELSE 1.0e0 END)"

    _mw_r_em = _prod(
        [
            _mw_case(g, lambda g, l: f"fin.m_{g}_{l}", lambda g, l: f"fin.u_{g}_{l}")
            for g in GCOLS
        ]
    )
    _mw_r_pr = _prod(
        [
            _mw_case(
                g,
                lambda g, l: flit(float(_MW_PM[g][l - 1])),
                lambda g, l: flit(float(_MW_PU[g][l - 1])),
            )
            for g in GCOLS
        ]
    )
    cat["max_weights_path"] = {
        "spark": _max_weights_path,
        "sql": (
            "WITH RECURSIVE "
            + em_state_ctes(_vectors_sql(), GCOLS, NLEVELS)
            + f"""
        SELECT dv.rn AS vec_id, {_mw_r_em} AS r_em, {_mw_r_pr} AS r_prior,
               greatest({_mw_r_em}, {_mw_r_pr}) AS r_max
        FROM dv, fin
        """
        ),
        "ref": "src/weight_functions.jl:248-263 (maximum_weights_vector) + "
        "src/em_functions.jl prior_mode",
    }

    # --- penalty-path MAP search (SURVEY 2.7; iterative — rows-only) ---
    def _penalty_path(s: SparkSession, d: str) -> DataFrame:
        from ..operators import em, map_solver
        from ..operators.comparison_summary import attach_vec_ids

        v = _vectors_cached(s, d)
        dvdf = distinct_vectors(v, GCOLS)
        pairs = attach_vec_ids(v, dvdf, GCOLS).select(
            "id_a", "id_b", "vec_id"
        ).localCheckpoint()
        dv = dvdf.orderBy("vec_id").toPandas()
        params = em.estimate_em(dv, GCOLS, NLEVELS)
        chain = map_solver.penalized_likelihood_search(
            s, pairs, dv, GCOLS, NLEVELS, params,
            penalty0=0.0, min_incr=4.0, max_steps=3, method="greedy",
        )
        return chain.links.select(
            "id_a",
            "id_b",
            F.col("start").cast("long").alias("start"),
            F.col("stop").cast("long").alias("stop"),
        )

    # Oracle-able since round 3: entry params come from the EM recursive
    # CTE, each greedy solve replays as a recursive CTE in product space
    # (log-free), penalties + ascent structure are frozen literals with
    # decision-equivalence asserted at freeze time (plans/pp_frozen.json,
    # scripts/freeze_pp_oracle.py). See plans/pp_oracle.py.
    from .pp_oracle import _frozen, frozen_sf_keys, penalty_path_sql

    cat["penalty_path_chain"] = {
        "spark": _penalty_path,
        "sql": penalty_path_sql(_vectors_sql(), GCOLS, NLEVELS),
        "ref": "src/sequence_map_functions.jl:91-240 (penalized_likelihood_search)",
        # the ascent structure + penalty literals are DATA-derived, frozen
        # per scale by scripts/freeze_pp_oracle.py (A-D equivalences
        # asserted at freeze time): "sql" is the sf0.01 driver-gate twin,
        # sql_by_sf carries one twin per additionally-frozen scale so the
        # sf0.1 sweep value-checks the flagship MAP path too; scales with
        # no frozen block stay skipped (gate_only fallback) rather than
        # running a knowingly-wrong oracle
        "gate_only": True,
        "sql_by_sf": {
            k: penalty_path_sql(
                _vectors_sql(), GCOLS, NLEVELS, frozen=_frozen(k)
            )
            for k in frozen_sf_keys()
            if k != "sf0.01"
        },
    }

    # --- MCMC Bayes-estimate links (SURVEY 2.8). VALUE-ORACLED since r5
    # (retires the catalog's last rows-only row): the reference's Bayes
    # rule — linked in > nsteps/2 post-burn-in steps, README.md:148-151 —
    # converges as nsteps -> inf to "posterior marginal > 0.5", so the
    # catalog surface computes that DETERMINISTIC limit in closed form
    # from the exact posterior on the oracle-able domain (blocks <=
    # EP_CAP pairs; identical domain + twin as exact_posterior_links, by
    # construction — the sampler's own stationary target). No finite
    # chain can hash-match here: the fixture holds 26 pairs with exact
    # marginals within +-0.2 of 0.5 (measured r5), so any finite-step
    # estimate flips some of them. The finite-step sampler
    # (mh_gibbs_count) stays the library-level big-block path; its
    # agreement with this set on margin-certified pairs is pinned by
    # tests/test_mcmc.py::test_bayes_estimate_matches_exact_on_certified.
    def _mcmc_counts(s: SparkSession, d: str) -> DataFrame:
        from ..operators import mcmc

        return mcmc.exact_posterior_links(
            _ep_blocked_pairs(s, d), max_pairs_per_block=EP_CAP
        ).select("id_a", "id_b", "block_id")

    cat["mcmc_bayes_links"] = {
        "spark": _mcmc_counts,
        "sql": None,  # filled below: shares exact_posterior_links' twin
        "ref": "src/mcmc.jl:87-137 + README.md:148-151 (mh_gibbs_count Bayes estimate)",
    }

    # --- exact posterior matching (SURVEY 2.8): the distribution the
    # mh_gibbs chains sample, computed in closed form per block. EM params
    # come from the recursive-CTE EM twin (nothing frozen); per-pair
    # product-space ratios replay bit-exactly (pp_oracle._ratio_expr); the
    # enumeration is a take/skip recursion over the (ia, ib)-ordered pair
    # list. Blocks above EP_CAP pairs are excluded in BOTH engines (exact
    # inference is exponential; big blocks are the mh_gibbs/one_to_one
    # domain). Marginal sums accumulate in different orders across engines
    # (last ulp), so only ids are oracle-hashed and the >0.5 decision is
    # margin-certified (tests/test_mcmc.py::test_exact_posterior_margin).
    def _exact_posterior(s: SparkSession, d: str) -> DataFrame:
        from ..operators import mcmc

        return mcmc.exact_posterior_links(
            _ep_blocked_pairs(s, d), max_pairs_per_block=EP_CAP
        ).select("id_a", "id_b", "block_id")

    from .em_oracle import em_state_ctes as _em_ctes
    from .pp_oracle import _ratio_expr as _ratio

    _ep_join = " AND ".join(f"v.{g} = d.{g}" for g in GCOLS)
    # shared CTE prefix (live EM -> ratios -> CC blocks -> per-block
    # take/skip matching enumeration `term`) for both exact-posterior
    # twins; ends at `term` so each entry appends its own reduction.
    _ep_prefix = f"""
        WITH RECURSIVE
        {_em_ctes(_vectors_sql(), GCOLS, NLEVELS).strip()},
        pairs0 AS MATERIALIZED (
          SELECT v.id_a AS ia, v.id_b AS ib, d.rn AS vec
          FROM ({_vectors_sql()}) v JOIN dv d ON {_ep_join}),
        rv AS (SELECT d.rn AS vec, {_ratio("pr", GCOLS, NLEVELS)} AS r
               FROM dv d, fin pr),
        rp AS MATERIALIZED (
          SELECT p.ia, p.ib, rv.r FROM pairs0 p JOIN rv ON p.vec = rv.vec
          WHERE rv.r > {EP_R0!r}e0),
        bi AS MATERIALIZED (SELECT ia AS a, ib AS b FROM rp
                            UNION ALL SELECT ib AS a, ia AS b FROM rp),
        walk(node, comp) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM bi)
          UNION
          SELECT bi.b, wk.comp FROM walk wk JOIN bi ON bi.a = wk.node
          WHERE wk.comp < bi.b),
        cc AS MATERIALIZED (SELECT node, min(comp) AS component
                            FROM walk GROUP BY node),
        bp AS MATERIALIZED (
          SELECT rp.ia, rp.ib, rp.r, cc.component AS block_id,
                 CAST(row_number() OVER (PARTITION BY cc.component
                                         ORDER BY rp.ia, rp.ib) AS INT) AS k
          FROM rp JOIN cc ON cc.node = rp.ia),
        ok_blocks AS (SELECT block_id FROM bp GROUP BY block_id
                      HAVING count(*) <= {EP_CAP}),
        pl AS MATERIALIZED (
          SELECT b.block_id,
                 list(struct_pack(ia := b.ia, ib := b.ib, r := b.r)
                      ORDER BY b.ia, b.ib) AS ps
          FROM bp b JOIN ok_blocks o ON o.block_id = b.block_id
          GROUP BY b.block_id),
        en AS (
          SELECT block_id, ps, 0 AS idx,
                 CAST([] AS BIGINT[]) AS ua, CAST([] AS BIGINT[]) AS ub,
                 CAST([] AS INT[]) AS ch, CAST(1.0 AS DOUBLE) AS prod
          FROM pl
          UNION ALL
          SELECT e.block_id, e.ps, e.idx + 1,
                 CASE WHEN b.t = 1
                      THEN list_append(e.ua, (e.ps[e.idx+1])['ia'])
                      ELSE e.ua END,
                 CASE WHEN b.t = 1
                      THEN list_append(e.ub, (e.ps[e.idx+1])['ib'])
                      ELSE e.ub END,
                 CASE WHEN b.t = 1
                      THEN list_append(e.ch, e.idx + 1) ELSE e.ch END,
                 CASE WHEN b.t = 1
                      THEN e.prod * (e.ps[e.idx+1])['r'] ELSE e.prod END
          FROM en e JOIN (VALUES (0), (1)) b(t)
            ON e.idx < len(e.ps)
           AND (b.t = 0 OR (NOT list_contains(e.ua, (e.ps[e.idx+1])['ia'])
                        AND NOT list_contains(e.ub, (e.ps[e.idx+1])['ib'])))),
        term AS MATERIALIZED (SELECT block_id, ch, prod FROM en
                              WHERE idx = len(ps))"""

    cat["exact_posterior_links"] = {
        "spark": _exact_posterior,
        "sql": _ep_prefix
        + """,
        zt AS (SELECT block_id, sum(prod) AS z FROM term GROUP BY block_id),
        nm AS (SELECT block_id, unnest(ch) AS k, prod FROM term),
        marg AS (SELECT block_id, k, sum(prod) AS num FROM nm
                 GROUP BY block_id, k)
        SELECT b.ia AS id_a, b.ib AS id_b, b.block_id
        FROM marg m
        JOIN zt ON zt.block_id = m.block_id
        JOIN bp b ON b.block_id = m.block_id AND b.k = m.k
        WHERE m.num / zt.z > 0.5e0
        """,
        "ref": "src/mcmc.jl:56-137 (the matching posterior mh_gibbs samples; "
        "exact enumeration for small blocks)",
    }
    # the sampler's Bayes estimate targets EXACTLY this distribution on
    # the same domain — one twin, two engines' worth of evidence (r5;
    # retires the catalog's last rows-only entry)
    cat["mcmc_bayes_links"]["sql"] = cat["exact_posterior_links"]["sql"]

    # --- exact posterior under a GLOBAL link-count prior (the vignette's
    # betabipartite configuration, example.jl:96-99): blocks couple
    # through the total nlink; the coupling is resolved exactly by
    # generating functions — per-block degree polynomials from the same
    # `term` enumeration, a recursive log-domain convolution fold across
    # blocks (prefix + suffix), and a marginal reduction joining each
    # pair's numerator polynomial with its block's rest-product and the
    # prior weight at the TOTAL degree. Prior dims are STATIC literals
    # (EPG_NR x EPG_NC, alpha=beta=1 — a modeling constant, not
    # data-derived); marginals are engine-order floats so only ids are
    # hashed and the >0.5 decision is margin-certified
    # (tests/test_mcmc.py::test_exact_posterior_global_margin).
    def _exact_posterior_global(s: SparkSession, d: str) -> DataFrame:
        from ..operators import mcmc

        return mcmc.exact_posterior_links_global(
            _ep_blocked_pairs(s, d),
            lambda L: mcmc.betabipartite_logprior(
                L, EPG_NR, EPG_NC, 1.0, 1.0
            ),
            max_pairs_per_block=EP_CAP,
        ).select("id_a", "id_b", "block_id")

    cat["exact_posterior_links_global"] = {
        "spark": _exact_posterior_global,
        "sql": _ep_prefix
        + f""",
        zd AS MATERIALIZED (
          SELECT block_id, len(ch) AS deg, ln(sum(prod)) AS lz
          FROM term GROUP BY block_id, len(ch)),
        bl AS MATERIALIZED (
          SELECT block_id,
                 CAST(row_number() OVER (ORDER BY block_id) AS INT) AS i
          FROM (SELECT DISTINCT block_id FROM zd)),
        zl AS MATERIALIZED (
          SELECT b.i, list(z.lz ORDER BY z.deg) AS poly
          FROM bl b JOIN zd z ON z.block_id = b.block_id GROUP BY b.i),
        pref(i, poly) AS (
          SELECT 0, [CAST(0.0 AS DOUBLE)]
          UNION ALL
          SELECT p.i + 1, {_lconv_sql('p.poly', 'z.poly')}
          FROM pref p JOIN zl z ON z.i = p.i + 1),
        suf(i, poly) AS (
          SELECT CAST((SELECT max(i) FROM zl) AS INT) + 1,
                 [CAST(0.0 AS DOUBLE)]
          UNION ALL
          SELECT s.i - 1, {_lconv_sql('s.poly', 'z.poly')}
          FROM suf s JOIN zl z ON z.i = s.i - 1),
        ptot AS MATERIALIZED (
          SELECT poly FROM pref WHERE i = (SELECT max(i) FROM zl)),
        zt0 AS (SELECT poly,
                       unnest(range(0, least(len(poly), {EPG_LMAX} + 1))) AS L
                FROM ptot),
        zterms AS MATERIALIZED (
          SELECT L, {_epg_lprior('L')} + poly[L + 1] AS v FROM zt0),
        lzv AS MATERIALIZED (
          SELECT (SELECT max(v) FROM zterms)
                 + ln(sum(exp(v - (SELECT max(v) FROM zterms)))) AS lz
          FROM zterms),
        rest AS MATERIALIZED (
          SELECT b.block_id, {_lconv_sql('pp.poly', 'ss.poly')} AS poly
          FROM bl b JOIN pref pp ON pp.i = b.i - 1
                    JOIN suf ss ON ss.i = b.i + 1),
        nd AS MATERIALIZED (
          SELECT block_id, k, deg, ln(sum(prod)) AS lnm
          FROM (SELECT block_id, unnest(ch) AS k, len(ch) AS deg, prod
                FROM term)
          GROUP BY block_id, k, deg),
        mt0 AS MATERIALIZED (
          SELECT n.block_id, n.k, n.lnm, n.deg, r.poly,
                 unnest(range(0, len(r.poly))) AS rd
          FROM nd n JOIN rest r ON r.block_id = n.block_id),
        mt AS MATERIALIZED (
          SELECT block_id, k, lnm + poly[rd + 1] + {_epg_lprior('deg + rd')} AS v
          FROM mt0 WHERE deg + rd <= {EPG_LMAX}),
        mmx AS MATERIALIZED (
          SELECT block_id, k, max(v) AS mx FROM mt GROUP BY 1, 2),
        mm AS MATERIALIZED (
          SELECT t.block_id, t.k, x.mx + ln(sum(exp(t.v - x.mx))) AS lnum
          FROM mt t JOIN mmx x ON x.block_id = t.block_id AND x.k = t.k
          GROUP BY t.block_id, t.k, x.mx)
        SELECT b.ia AS id_a, b.ib AS id_b, b.block_id
        FROM mm JOIN bp b ON b.block_id = mm.block_id AND b.k = mm.k
        WHERE exp(mm.lnum - (SELECT lz FROM lzv)) > 0.5e0
        """,
        "ref": "src/prior_functions.jl:128-260 + vignette/example.jl:96-99 "
        "(the betabipartite-prior posterior the vignette's restricted MCMC "
        "samples; exact via generating-function convolution)",
    }

    # --- ANN scale path: sign-LSH bucketed top-k ---
    EMB_DIM = 64
    cat["embedding_topk_lsh"] = {
        "spark": lambda s, d: similarity.lsh_bucketed_topk(
            load(s, d, "embeddings"),
            "vec_id",
            "embedding",
            load(s, d, "embeddings").where(F.col("vec_id") < TOPK_QUERY_MAX_ID),
            dim=EMB_DIM,
            k=TOPK,
        ),
        "sql": similarity.lsh_bucketed_topk_sql(
            "embeddings", "vec_id", "embedding",
            f"vec_id < {TOPK_QUERY_MAX_ID}", dim=EMB_DIM, k=TOPK,
        ),
        "ref": "IVF/LSH-bucketed ANN (scale path for brute-force cosine top-k)",
    }

    # --- IVF ANN (coarse-quantizer inverted lists + nprobe rerank) ---
    # Centroids: spherical k-means trained ONCE by similarity.train_centroids
    # on the sf0.01 embeddings (id-ordered 2048-row sample, k=8, 5 Lloyd
    # iters) and frozen to ivf_centroids.json so the same literal quantizer
    # feeds the Spark plan and the DuckDB oracle at every sf (parity is
    # quantizer-independent; recall quality is what training buys).
    import json as _json
    import os as _os

    with open(
        _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                      "ivf_centroids.json")
    ) as _f:
        ivf_cents = _json.load(_f)

    cat["embedding_topk_ivf"] = {
        "spark": lambda s, d: similarity.ivf_topk(
            load(s, d, "embeddings"), "vec_id", "embedding",
            load(s, d, "embeddings").where(F.col("vec_id") < TOPK_QUERY_MAX_ID),
            ivf_cents, k=TOPK, nprobe=2,
        ),
        "sql": similarity.ivf_topk_sql(
            "embeddings", "vec_id", "embedding",
            f"vec_id < {TOPK_QUERY_MAX_ID}", ivf_cents, k=TOPK, nprobe=2,
        ),
        "ref": "IVF ANN scale path (inverted centroid lists + nprobe exact "
        "rerank; similarity.train_centroids / ivf_topk)",
    }

    # --- PQ ANN (compressed-domain asymmetric-distance scan) ---
    # Codebooks: per-subspace L2 k-means trained ONCE by
    # similarity.train_pq_codebooks on the sf0.01 embeddings (id-ordered
    # 2048-row sample, 8 subspaces x 16 codes, 5 Lloyd iters) and frozen to
    # pq_codebooks.json — same freeze-don't-train-at-query-time rule as the
    # IVF centroids. The Spark side runs the Arrow encode/ADC kernels (bit-
    # identical to the unrolled-literal expression twin, asserted in
    # tests/test_pq.py); the oracle runs the same unrolled literals.
    with open(
        _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                      "pq_codebooks.json")
    ) as _f:
        pq_books = _json.load(_f)

    cat["embedding_topk_pq"] = {
        "spark": lambda s, d: similarity.pq_topk(
            load(s, d, "embeddings"), "vec_id", "embedding",
            load(s, d, "embeddings").where(F.col("vec_id") < TOPK_QUERY_MAX_ID),
            pq_books, k=TOPK,
        ),
        "sql": similarity.pq_topk_sql(
            "embeddings", "vec_id", "embedding",
            f"vec_id < {TOPK_QUERY_MAX_ID}", pq_books, k=TOPK,
        ),
        "ref": "PQ ANN scale path (Jegou et al. 2011 asymmetric-distance "
        "scan over 4-bit-coded corpus; similarity.train_pq_codebooks / "
        "pq_topk; codes shrink the scan side 64x vs raw float32 vectors)",
    }

    cat["embedding_topk_ivfpq"] = {
        "spark": lambda s, d: similarity.ivfpq_topk(
            load(s, d, "embeddings"), "vec_id", "embedding",
            load(s, d, "embeddings").where(F.col("vec_id") < TOPK_QUERY_MAX_ID),
            ivf_cents, pq_books, k=TOPK, nprobe=2,
        ),
        "sql": similarity.ivfpq_topk_sql(
            "embeddings", "vec_id", "embedding",
            f"vec_id < {TOPK_QUERY_MAX_ID}", ivf_cents, pq_books,
            k=TOPK, nprobe=2,
        ),
        "ref": "IVF-PQ ANN (FAISS-style composition): coarse-list pruning "
        "equi-join + compressed-domain ADC within probed lists — bounded "
        "fan-out AND 8-byte scan payload (similarity.ivfpq_topk)",
    }

    # --- SemDeDup: semantic dedup inside the same frozen IVF clusters ---
    cat["semdedup"] = {
        "spark": lambda s, d: dedup.semdedup(
            load(s, d, "embeddings"), "vec_id", "embedding",
            ivf_cents, min_cosine=EMB_COS_MIN,
        ),
        "sql": dedup.semdedup_sql(
            "embeddings", "vec_id", "embedding",
            ivf_cents, min_cosine=EMB_COS_MIN,
        ),
        "ref": "SemDeDup (Abbas et al. 2023) — cluster-scoped semantic "
        "dedup; the embedding-space analog of dedup.embedding_cosine_pairs "
        "reusing the frozen IVF quantizer (plans/ivf_centroids.json)",
    }

    # --- threshold sensitivity diagnostic (SURVEY 2.7; driver loop) ---
    def _threshold_sensitivity(s: SparkSession, d: str) -> DataFrame:
        import pandas as pd

        from ..operators.connected_components import threshold_sensitivity

        wedges = (
            _scored_pairs_cached(s, d)
            .where(F.col("w") > EDGE_THRESHOLD)
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "w")
            .localCheckpoint()
        )
        stats = threshold_sensitivity(wedges, [0.0, 2.0, 5.0])
        return s.createDataFrame(
            pd.DataFrame(stats),
            schema="threshold double, n_components long, n_singletons long, "
            "max_nodes long, total_nodes long",
        )

    def _threshold_block_sql(t: float) -> str:
        """One threshold's component stats via the recursive-CTE CC oracle
        (nodes restricted to edge endpoints — connected_components emits no
        isolated nodes, so n_singletons is structurally 0 on both sides)."""
        edges = (
            f"SELECT id_a, id_b FROM ({_weighted_pairs_sql()}) "
            f"WHERE w > {EDGE_THRESHOLD!r}e0 AND w > {t!r}e0"
        )
        return f"""
        (WITH RECURSIVE edges AS MATERIALIZED ({edges}),
        nodes AS (SELECT DISTINCT node FROM
          (SELECT id_a AS node FROM edges UNION SELECT id_b FROM edges)),
        bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM edges
               UNION SELECT id_b AS a, id_a AS b FROM edges),
        walk(node, comp) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT bi.b, walk.comp FROM walk JOIN bi ON bi.a = walk.node
          WHERE walk.comp < bi.b
        ),
        cc AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
        sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
                  FROM cc GROUP BY component)
        SELECT CAST({t!r}e0 AS DOUBLE) AS threshold,
               CAST(count(*) AS BIGINT) AS n_components,
               CAST(sum(CASE WHEN n_nodes = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_singletons,
               max(n_nodes) AS max_nodes,
               CAST(sum(n_nodes) AS BIGINT) AS total_nodes
        FROM sizes)
        """

    cat["threshold_sensitivity"] = {
        "spark": _threshold_sensitivity,
        "sql": " UNION ALL ".join(
            _threshold_block_sql(t) for t in (0.0, 2.0, 5.0)
        ),
        "ref": "src/weight_functions.jl:471-484 (threshold_sensitivity)",
    }

    # --- pages extraction surface (input_hint contract). The catalog form
    # runs the SAME extraction expression over html-wrapped documents rows
    # so DuckDB can assert the round-trip identity; byte-identity on the
    # generated pages fixture is pytest-asserted (test_pipeline_e2e.py). ---
    def _pages_extract(s: SparkSession, d: str) -> DataFrame:
        from ..sources.pages import HTML_PREFIX, HTML_SUFFIX, extract_text

        docs = load(s, d, "documents")
        html = F.encode(
            F.concat(F.lit(HTML_PREFIX), F.col("text"), F.lit(HTML_SUFFIX)),
            "UTF-8",
        )
        return docs.select("doc_id", extract_text(html).alias("extracted_text"))

    from ..sources.pages import HTML_PREFIX as _HP, HTML_SUFFIX as _HS

    cat["pages_extract_text"] = {
        "spark": _pages_extract,
        "sql": f"""
        SELECT doc_id,
               regexp_extract('{_HP}' || text || '{_HS}',
                              '<article>(.*)</article>', 1) AS extracted_text
        FROM documents
        """,
        "ref": "input_hint html->text extraction (byte-identical per url; "
        "generated-pages identity pytest-asserted)",
    }

    # --- flagship end-to-end pipelines (iterative EM + CC + per-block
    # solver; rows-only — F1 targets pytest-asserted) ---
    def _two_source_links(s: SparkSession, d: str) -> DataFrame:
        from ..plans.pipeline import link_two_sources
        from ..sources.records import generate_records

        ra, rb = generate_records(s, n=600, n_match=300, seed=42)
        fexprs = {
            "g_gname": C.lev_ord(F.col("gname_a"), F.col("gname_b")),
            "g_fname": C.lev_ord(F.col("fname_a"), F.col("fname_b")),
            "g_age": C.bool_ord(
                F.nullif(F.col("age_a"), F.lit("NA")),
                F.nullif(F.col("age_b"), F.lit("NA")),
            ),
            "g_occup": C.bool_ord(
                F.nullif(F.col("occup_a"), F.lit("NA")),
                F.nullif(F.col("occup_b"), F.lit("NA")),
            ),
        }
        nlv = {"g_gname": 4, "g_fname": 4, "g_age": 2, "g_occup": 2}
        links, _params = link_two_sources(
            s, ra, rb, fexprs, nlv, block_cols=["gender"]
        )
        return links.select("rid_a", "rid_b", "block_id")

    # Oracle-able since round 3: the record fixture is md5-derivable in SQL,
    # the EM weights are frozen literals (plans/e2e_frozen.json), and the
    # fixture's one-to-one stage resolves entirely via the provably-optimal
    # mutual-best fast path (window-expressible). See plans/e2e_oracles.py.
    from .e2e_oracles import pages_linkage_clusters_sql, two_source_links_sql

    cat["two_source_links"] = {
        "spark": _two_source_links,
        "sql": two_source_links_sql(),
        "ref": "vignette/example.jl end-to-end two-file linkage (600x600, 300 matches)",
    }

    # --- phonetic blocking keys over the two-source person records ---
    # (standard name-linkage blocking function; the phonetic expression is
    # ONE string shared verbatim by both engines, the record fixture is
    # md5-derivable in SQL via e2e_oracles._records_cte)
    def _phonetic_keys(s: SparkSession, d: str) -> DataFrame:
        from ..sources.records import generate_records

        ra, rb = generate_records(s, n=600, n_match=300, seed=42)
        both = ra.select("rec_id", "gname").unionByName(
            rb.select("rec_id", "gname")
        )
        return both.select(
            "rec_id", "gname", C.phonetic_key("gname").alias("pkey")
        )

    from .e2e_oracles import _records_cte

    cat["phonetic_keys"] = {
        "spark": _phonetic_keys,
        "sql": f"""
        WITH ra AS ({_records_cte("A")}),
        rb AS ({_records_cte("B")}),
        allr AS (SELECT rid AS rec_id, gname FROM ra
                 UNION ALL SELECT rid AS rec_id, gname FROM rb)
        SELECT rec_id, gname, {C.phonetic_key_sql("gname")} AS pkey FROM allr
        """,
        "ref": "phonetic (Soundex-family) blocking key — standard FS-linkage "
        "blocking beyond the reference's exact-field keys",
    }

    # --- value-specific (frequency-based) agreement weights, Winkler 1989 ---
    def _value_specific(s: SparkSession, d: str) -> DataFrame:
        from ..operators.comparison_summary import value_specific_weights
        from ..sources.records import generate_records

        ra, rb = generate_records(s, n=600, n_match=300, seed=42)
        return value_specific_weights(
            ra, rb, "rec_id", "gname", m_prob=VSW_M, n_a=600, n_b=600
        )

    from ..operators.comparison_summary import value_specific_weights_sql

    cat["value_specific_weights"] = {
        "spark": _value_specific,
        "sql": f"""
        WITH ra AS ({_records_cte("A")}),
        rb AS ({_records_cte("B")}),
        vsw AS ({value_specific_weights_sql(
            "ra", "rb", "rid", "gname", m_prob=VSW_M, n_a=600, n_b=600)})
        SELECT * FROM vsw
        """,
        "ref": "value-frequency FS weights (Winkler 1989; FS 1969 §3.3.1) — "
        "refines /root/reference/src/em_functions.jl:16's global m/u with "
        "per-value chance-agreement probabilities",
    }

    # --- u-probabilities from deterministic random pairing ----------------
    # The production FS recipe estimates u (P(agree | non-match)) directly
    # from random record pairs — at web scale the non-match population is
    # ~all pairs, so chance-agreement rates converge fast (the EM path
    # estimates m and u jointly; this is the independent cross-check /
    # initializer, cf. Splink's estimate_u_using_random_sampling). Random
    # pairing is DETERMINISTIC here: rank docs by the portable 60-bit hash
    # of 'usamp:'||doc_id (order independent of every linkage field) and
    # chain-pair adjacent ranks — n-1 pseudo-random pairs, each doc in <=2,
    # via the SNM machinery (bucketed rank, equi join on rank; window=2).
    # Comparators run through the same single-eval raw->barrier->bin path
    # as the scoring pipeline; outputs are integer counts + integer-micro
    # rates (bit-strict).
    _USAMP_KEY_SQL = (
        "substr(md5('usamp:' || CAST(doc_id AS VARCHAR)), 1, 15)"
    )

    def _u_probs_spark(s: SparkSession, d: str) -> DataFrame:
        from ..operators.blocking import sorted_neighborhood_pairs

        docs = load(s, d, "documents")
        key = F.substring(
            F.md5(F.concat(F.lit("usamp:"), F.col("doc_id").cast("string"))),
            1, 15,
        )
        pairs = sorted_neighborhood_pairs(
            docs.select("doc_id"), "doc_id", key, window=2
        ).select("id_a", "id_b")
        proj = docs.select(
            "doc_id", "n_chars",
            F.substring("text", 1, LEV_PREFIX).alias("t64"),
            F.array_distinct(F.split("text", " ")).alias("toks"),
        )
        p = (
            pairs.join(
                proj.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("t64").alias("t64_a"),
                    F.col("toks").alias("toks_a"),
                    F.col("n_chars").alias("n_chars_a"),
                ),
                on="id_a",
            ).join(
                proj.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("t64").alias("t64_b"),
                    F.col("toks").alias("toks_b"),
                    F.col("n_chars").alias("n_chars_b"),
                ),
                on="id_b",
            )
        )
        raw = _raw_measures(p)
        agg = raw.groupBy("id_a", "id_b").agg(
            *[F.first(c).alias(c) for c in _RAW_COLS]
        )
        b = _bin_exprs()
        v = agg.select(*[b[g].alias(g) for g in GCOLS])
        stacked = None
        for g in GCOLS:
            part = v.select(
                F.lit(g).alias("field"), F.col(g).cast("int").alias("level")
            )
            stacked = part if stacked is None else stacked.unionByName(part)
        cnt = stacked.groupBy("field", "level").agg(
            F.count(F.lit(1)).alias("n_pairs")
        )
        wtot = Window.partitionBy("field")
        return cnt.select(
            "field", "level", "n_pairs",
            F.expr("1000000 * n_pairs").alias("_num"),
            F.sum("n_pairs").over(wtot).alias("_tot"),
        ).select(
            "field", "level", "n_pairs",
            F.expr("_num div _tot").alias("u_micro"),
        )

    from ..operators.blocking import sorted_neighborhood_pairs_sql

    _USAMP_G = {
        "g1": C.lev_ord_sql(
            f"substr(text_a,1,{LEV_PREFIX})", f"substr(text_b,1,{LEV_PREFIX})"
        ),
        "g2": C.token_jaccard_ord_sql("text_a", "text_b"),
        "g3": C.num_band_ord_sql("n_chars_a", "n_chars_b", NCHAR_CUTS),
    }

    cat["u_probability_estimates"] = {
        "spark": _u_probs_spark,
        "sql": f"""
        WITH usnm AS ({sorted_neighborhood_pairs_sql(
            "documents", "doc_id", _USAMP_KEY_SQL, 2)}),
        up AS (SELECT da.text AS text_a, db.text AS text_b,
                      da.n_chars AS n_chars_a, db.n_chars AS n_chars_b
               FROM usnm JOIN documents da ON da.doc_id = usnm.id_a
                         JOIN documents db ON db.doc_id = usnm.id_b),
        gv AS (SELECT {_USAMP_G['g1']} AS g1, {_USAMP_G['g2']} AS g2,
                      {_USAMP_G['g3']} AS g3 FROM up),
        stacked AS (
          SELECT 'g1' AS field, CAST(g1 AS INT) AS level FROM gv
          UNION ALL SELECT 'g2', CAST(g2 AS INT) FROM gv
          UNION ALL SELECT 'g3', CAST(g3 AS INT) FROM gv),
        cnt AS (SELECT field, level, CAST(count(*) AS BIGINT) AS n_pairs
                FROM stacked GROUP BY 1, 2)
        SELECT field, level, n_pairs,
               CAST((1000000 * n_pairs) // CAST(sum(n_pairs)
                 OVER (PARTITION BY field) AS BIGINT) AS BIGINT) AS u_micro
        FROM cnt
        """,
        "ref": "u-probability estimation from deterministic hash-random "
        "pairs (the FS/Splink production recipe: u from random pairs, m "
        "from EM) — complements src/em_functions.jl's joint estimate",
    }

    def _pages_linkage(s: SparkSession, d: str) -> DataFrame:
        from ..plans.pipeline import LinkageConfig, run_linkage
        from ..sources.pages import generate_pages

        pages = generate_pages(s, n_clusters=150).select(
            "url", "warc_ts", "html", "text", "lang"
        )
        res = run_linkage(s, pages, LinkageConfig())
        return res.clusters.select("url", "cluster_id")

    # Oracle-able since round 3: page rows + EM weights frozen as literals
    # (the generator's Zipfian host uses pow(), not bit-portable), blocking/
    # scoring/clustering fully derived in SQL; the size cap provably never
    # triggers on the fixture (freeze-time assertion: max component pair
    # count 4x under the cap), so capped-CC == plain recursive-CTE CC.
    cat["pages_linkage_clusters"] = {
        "spark": _pages_linkage,
        "sql": pages_linkage_clusters_sql(),
        "ref": "SURVEY §3 full lifecycle: blocking -> EM scoring -> CC -> one-to-one",
    }

    # --- windowed aggregation over events (streaming-shaped, batch oracle) ---
    cat["event_window_counts"] = {
        "spark": lambda s, d: load(s, d, "events")
        .groupBy(
            F.window("ts", "1 hour").getField("start").alias("win_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        ),
        "sql": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events, sum(value) AS sum_value
        FROM events GROUP BY 1, 2
        """,
        "ref": "tumbling-window agg (streaming ingest path; batch oracle)",
    }

    # --- session windows over events (session_window vs gaps-and-islands) ---
    SESSION_GAP_MIN = 30
    cat["event_sessions"] = {
        "spark": lambda s, d: load(s, d, "events")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        ),
        "sql": f"""
        WITH o AS (
          SELECT user_id, ts, event_id,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events),
        m AS (SELECT *, CASE WHEN prev IS NULL
                             OR ts - prev >= INTERVAL '{SESSION_GAP_MIN} minutes'
                        THEN 1 ELSE 0 END AS brk FROM o),
        g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL '{SESSION_GAP_MIN} minutes' AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM g GROUP BY user_id, sid
        """,
        "ref": "session windows (streaming-shaped; gaps-and-islands batch oracle)",
    }

    # --- temporal joins + rollup (operators/temporal.py) -------------------
    # as-of / banded range join / hypertable rollup over the events table:
    # the temporal companions Spark lacks natively, expressed as
    # union+window carry-forward, bucketed equi-join, and GROUP BY ROLLUP
    # (one Expand pass). Fixture: error events look up / pair with click
    # events per user; RANGE_DELTA_S sized so matches exist at sf0.001.
    from ..operators import temporal as TP

    RANGE_DELTA_S = 7200
    _EV_ERR = "SELECT * FROM events WHERE event_type = 'error'"
    _EV_CLK = "SELECT * FROM events WHERE event_type = 'click'"

    def _asof_spark(s: SparkSession, d: str) -> DataFrame:
        ev = load(s, d, "events")
        out = TP.asof_join(
            ev.where(F.col("event_type") == "error"),
            ev.where(F.col("event_type") == "click"),
            key="user_id", ts_col="ts", id_col="event_id",
            carry_cols=["event_id", "value"],
        ).withColumnsRenamed(
            {"asof_event_id": "asof_click_id", "asof_value": "asof_click_value"}
        )
        # catalog outputs are NULL-free (the cross-engine value compare is
        # bitwise on doubles; NaN != NaN) — unmatched lefts are pytest-covered
        return out.where(F.col("asof_gap_us").isNotNull())

    cat["asof_join_events"] = {
        "spark": _asof_spark,
        "sql": "SELECT event_id, user_id, ts, "
        "asof_event_id AS asof_click_id, "
        "asof_value AS asof_click_value, asof_gap_us FROM ("
        + TP.asof_join_sql(
            _EV_ERR, _EV_CLK, key="user_id", ts_col="ts",
            id_col="event_id", carry_cols=["event_id", "value"],
            carry_types=["BIGINT", "DOUBLE"],
        )
        + ") WHERE asof_gap_us IS NOT NULL",
        "ref": "as-of join (most recent click at/before each error per "
        "user) — union + one window carry-forward, never a range join",
    }

    cat["range_join_events"] = {
        "spark": lambda s, d: TP.range_join(
            load(s, d, "events").where(F.col("event_type") == "click"),
            load(s, d, "events").where(F.col("event_type") == "error"),
            key="user_id", ts_col="ts", id_col="event_id",
            delta_s=RANGE_DELTA_S,
        ),
        "sql": TP.range_join_sql(
            _EV_CLK, _EV_ERR, key="user_id", ts_col="ts",
            id_col="event_id", delta_s=RANGE_DELTA_S,
        ),
        "ref": "banded range join (click-error pairs within 2h per user) — "
        "bucketed equi-join scale path vs the oracle's theta join",
    }

    # interval overlap join: each event carries a validity span
    # [ts, ts + floor(value*60) seconds) — view-vs-purchase overlaps per
    # user. Spans reach ~9.3h (value <= 560.21), so 3600s buckets bound
    # the fan-out at ceil(span/3600)+1 <= 11 rows per interval; floor()
    # BEFORE the integer cast in BOTH engines (the Spark-truncates/
    # DuckDB-rounds lore).
    def _iv_spark(s: SparkSession, d: str, etype: str) -> DataFrame:
        ev = load(s, d, "events").where(F.col("event_type") == etype)
        return ev.select(
            "user_id", "event_id",
            TP._epoch_us("ts").alias("s_us"),
            (
                TP._epoch_us("ts")
                + F.floor(F.col("value") * 60).cast("long") * F.lit(1_000_000)
            ).alias("e_us"),
        )

    def _iv_sql(etype: str) -> str:
        return f"""SELECT user_id, event_id, epoch_us(ts) AS s_us,
        epoch_us(ts) + CAST(floor(value*60) AS BIGINT)*1000000 AS e_us
        FROM events WHERE event_type = '{etype}'"""

    cat["interval_join_events"] = {
        "spark": lambda s, d: TP.interval_join(
            _iv_spark(s, d, "view"), _iv_spark(s, d, "purchase"),
            key="user_id", id_col="event_id",
            start_col="s_us", end_col="e_us", bucket_s=3600,
        ),
        "sql": TP.interval_join_sql(
            _iv_sql("view"), _iv_sql("purchase"),
            key="user_id", id_col="event_id",
            start_col="s_us", end_col="e_us",
        ),
        "ref": "interval overlap join (validity-span temporal linkage) — "
        "bucketed equi-join with first-shared-bucket exactly-once emit",
    }

    cat["k_anonymity_profile"] = {
        "spark": lambda s, d: pprl.k_anonymity_profile(load(s, d, "documents")),
        "sql": pprl.k_anonymity_profile_sql("documents"),
        "ref": "k-anonymity / l-diversity release audit over the quasi-"
        "identifier generalization ladder (Sweeney 2002; Machanavajjhala "
        "et al. 2007) — one ROLLUP pass, integer states, the plaintext "
        "companion of the CLK PPRL encoders (pprl.k_anonymity_profile)",
    }
    cat["event_props_stats"] = {
        "spark": lambda s, d: TP.event_props_stats(load(s, d, "events")),
        "sql": TP.event_props_stats_sql("events"),
        "ref": "typed aggregation over the JSON payload column "
        "(project-before-shuffle on semi-structured data; NULL-safe "
        "missing-key accounting; TP.event_props_stats)",
    }
    cat["event_bursts"] = {
        "spark": lambda s, d: TP.event_bursts(load(s, d, "events")),
        "sql": TP.event_bursts_sql("events"),
        "ref": "per-type hourly burst detection (scrape storms / error "
        "spikes): count vs trailing-observed-bucket baseline, all-integer "
        "cross-multiplied threshold (TP.event_bursts)",
    }

    cat["event_rollup"] = {
        "spark": lambda s, d: TP.hypertable_rollup(
            load(s, d, "events"), "ts", "event_type", "value"
        ),
        "sql": TP.hypertable_rollup_sql("events", "ts", "event_type", "value"),
        "ref": "hypertable-style multi-grain rollup ((day,type)->(day)->()) "
        "in one Expand pass; integer-cents sums (order-free)",
    }

    # --- group (household-style) linkage over the near-dup edge graph -----
    def _group_linkage_spark(s: SparkSession, d: str) -> DataFrame:
        from ..operators.fusion import group_linkage

        return group_linkage(
            _jaccard_edges_cached(s, d),
            load(s, d, "documents").select("doc_id", "source"),
            member_id="doc_id", group_col="source",
        )

    from ..operators.fusion import group_linkage_sql

    cat["group_linkage"] = {
        "spark": _group_linkage_spark,
        "sql": group_linkage_sql(
            "SELECT id_a, id_b FROM ("
            + dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT
            )
            + ")",
            "documents", member_id="doc_id", group_col="source",
        ),
        "ref": "group linkage (On et al. ICDE 2007): record-pair evidence "
        "rolled up to cross-source group pairs with basis-point scores",
    }

    # --- incremental entity resolution (operators/incremental.py) ---------
    #
    # Fixture: the standing corpus is documents with doc_id % 4 != 3,
    # clustered by EXACT content (cluster label = min doc id per md5(text)
    # group — provenance is orthogonal to the increment operators); the
    # crawl increment is doc_id % 4 == 3. Near-dup threshold reuses
    # JACCARD_MIN_PCT so matched/unmatched both occur at sf0.01.
    INC_OLD = "doc_id % 4 != 3"
    INC_NEW = "doc_id % 4 = 3"

    def _inc_clusters_spark(s, d):
        old = load(s, d, "documents").where(F.expr(INC_OLD))
        g = old.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(F.col("text")).alias("_h"),
        )
        cl = g.groupBy("_h").agg(F.min("doc_id").alias("cluster_id"))
        return g.join(cl, on="_h").select("doc_id", "cluster_id")

    # cluster label = min member id, so the min-id representative IS the
    # label — the SQL reps table exploits that identity directly.
    _INC_REPS_SQL = f"""
      SELECT g.cluster_id AS cluster_id, g.cluster_id AS rep_id,
             d.text AS rep_text
      FROM (SELECT min(doc_id) AS cluster_id
            FROM (SELECT doc_id, md5(text) AS _h FROM documents
                  WHERE {INC_OLD})
            GROUP BY _h) g
      JOIN documents d ON d.doc_id = g.cluster_id
    """
    _INC_NEW_SQL = f"SELECT doc_id, text FROM documents WHERE {INC_NEW}"

    def _link_increment_spark(s, d):
        old = load(s, d, "documents").where(F.expr(INC_OLD))
        new = load(s, d, "documents").where(F.expr(INC_NEW))
        reps = incremental.cluster_representatives(
            _inc_clusters_spark(s, d), old, "doc_id", "cluster_id", "text"
        )
        return incremental.link_increment(
            reps, new, "doc_id", "text", min_jaccard_pct=JACCARD_MIN_PCT
        )

    cat["link_increment"] = {
        "spark": _link_increment_spark,
        "sql": incremental.link_increment_sql(
            _INC_REPS_SQL, _INC_NEW_SQL, "doc_id", "text",
            min_jaccard_pct=JACCARD_MIN_PCT,
        ),
        "ref": "incremental linkage: new crawl docs LSH-blocked against "
        "cluster representatives, exact-Jaccard verify, struct-MAX argmax "
        "assignment or deterministic singleton mint (window-form oracle)",
    }

    # Delta CC merge: standing labels + the near-dup pairs that TOUCH the
    # increment (the edges a delta scoring run would emit). The Spark side
    # re-clusters |nodes| star edges + |delta| edges, never the old pair
    # graph; the oracle is one recursive CTE over that same union.
    _INC_LABELS_SQL = f"""
      SELECT g2.doc_id AS node, g1.cluster_id AS component
      FROM (SELECT doc_id, md5(text) AS _h FROM documents
            WHERE {INC_OLD}) g2
      JOIN (SELECT _h, min(doc_id) AS cluster_id
            FROM (SELECT doc_id, md5(text) AS _h FROM documents
                  WHERE {INC_OLD})
            GROUP BY _h) g1 USING (_h)
    """

    def _inc_delta_edges_spark(s, d):
        pairs = _jaccard_edges_cached(s, d)
        return pairs.where(
            (F.col("id_a") % 4 == 3) | (F.col("id_b") % 4 == 3)
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))

    _INC_DELTA_SQL = f"""
      SELECT id_a AS src, id_b AS dst
      FROM ({dedup.ngram_jaccard_pairs_via_lsh_sql(
          'documents', 'doc_id', 'text', JACCARD_MIN_PCT)})
      WHERE id_a % 4 = 3 OR id_b % 4 = 3
    """

    cat["incremental_components"] = {
        "spark": lambda s, d: incremental.merge_components(
            _inc_clusters_spark(s, d).select(
                F.col("doc_id").alias("node"),
                F.col("cluster_id").alias("component"),
            ),
            _inc_delta_edges_spark(s, d),
        ),
        "sql": incremental.merge_components_sql(
            _INC_LABELS_SQL, _INC_DELTA_SQL
        ),
        "ref": "delta CC: fold increment edges into standing labels via "
        "star-graph union (old pair graph never re-clustered)",
    }

    # Pairwise clustering evaluation: exact-dup clustering (pred) scored
    # against the near-dup CC clustering (truth) — contingency C(n,2)
    # sums, pair universe never materialized.
    def _cm_pred_truth(s, d):
        docs = load(s, d, "documents")
        g = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(F.col("text")).alias("_h"),
        )
        cl = g.groupBy("_h").agg(F.min("doc_id").alias("component"))
        pred = g.join(cl, on="_h").select(
            F.col("doc_id").alias("node"), "component"
        )
        return pred, _jaccard_cc_cached(s, d)

    def _cluster_metrics_spark(s, d):
        return incremental.cluster_pair_metrics(*_cm_pred_truth(s, d))

    _CM_PRED_SQL = """
      SELECT g2.doc_id AS node, g1.component AS component
      FROM (SELECT doc_id, md5(text) AS _h FROM documents) g2
      JOIN (SELECT _h, min(doc_id) AS component
            FROM (SELECT doc_id, md5(text) AS _h FROM documents)
            GROUP BY _h) g1 USING (_h)
    """
    _CM_TRUTH_SQL = _CC_SQL_TEMPLATE.format(
        edges="SELECT id_a, id_b FROM ("
        + dedup.ngram_jaccard_pairs_via_lsh_sql(
            "documents", "doc_id", "text", JACCARD_MIN_PCT
        )
        + ")"
    )

    cat["cluster_metrics"] = {
        "spark": _cluster_metrics_spark,
        "sql": incremental.cluster_pair_metrics_sql(
            _CM_PRED_SQL, _CM_TRUTH_SQL
        ),
        "ref": "pairwise P/R/F1 between clusterings from the label "
        "contingency table (Menestrina et al. 2010 pair-counting; "
        "O(n) aggregations, no pair materialization)",
    }

    cat["bcubed_metrics"] = {
        "spark": lambda s, d: incremental.bcubed_metrics(
            *_cm_pred_truth(s, d)
        ),
        "sql": incremental.bcubed_metrics_sql(_CM_PRED_SQL, _CM_TRUTH_SQL),
        "ref": "B-cubed P/R/F1 (Bagga & Baldwin 1998; Amigo et al. 2009) — "
        "the per-record clustering metric pair-counting misses; integer "
        "micro fixed point over contingency cells",
    }

    # Correlation clustering over the near-dup graph: pivot stars instead
    # of transitive closure — the over-merge correction.
    def _kwik_spark(s, d):
        from ..operators.connected_components import kwikcluster

        edges = _jaccard_edges_cached(s, d).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        return kwikcluster(edges, rounds=10)

    from ..operators.connected_components import kwikcluster_sql

    cat["kwikcluster_links"] = {
        "spark": _kwik_spark,
        "sql": kwikcluster_sql(
            "SELECT id_a AS src, id_b AS dst FROM ("
            + dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT
            )
            + ")",
            rounds=10,
        ),
        "ref": "KwikCluster correlation clustering (Ailon-Charikar-Newman "
        "2008; parallel pivots per Chierichetti-Dalvi-Kumar 2014) — "
        "pivot stars, no transitive chaining; fixed hash permutation, "
        "chained-CTE round replay",
    }

    # Same near-dup graph under degree-greedy star clustering: centers are
    # hubs (canonical-record election) instead of hash-arbitrary pivots.
    def _star_spark(s, d):
        from ..operators.connected_components import star_clusters

        edges = _jaccard_edges_cached(s, d).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        return star_clusters(edges, rounds=10)

    from ..operators.connected_components import star_clusters_sql

    cat["star_clusters_links"] = {
        "spark": _star_spark,
        "sql": star_clusters_sql(
            "SELECT id_a AS src, id_b AS dst FROM ("
            + dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT
            )
            + ")",
            rounds=10,
        ),
        "ref": "star clustering (Aslam-Pelekhov-Rus 2004, disjoint "
        "variant): degree-greedy pivot stars — hub centers for "
        "canonical-record election; static (degree, id) priority makes "
        "the synchronous rounds replay the sequential greedy exactly",
    }

    def _relabel_spark(s, d):
        pred, truth = _cm_pred_truth(s, d)
        return incremental.stable_relabel(truth, pred)

    cat["stable_relabel"] = {
        "spark": _relabel_spark,
        "sql": incremental.stable_relabel_sql(_CM_TRUTH_SQL, _CM_PRED_SQL),
        "ref": "stable entity-id carryover between ER runs: mutual "
        "max-overlap argmax inherits old ids, splits/new entities mint "
        "offset ids (link_increment convention); struct-MAX vs window "
        "form twins",
    }

    # Overlapping two-threshold canopies over the near-dup similarity
    # graph (loose = the LSH floor, tight = strong near-dups).
    cat["canopy_clusters"] = {
        "spark": lambda s, d: blocking.canopy_clusters(
            _jaccard_edges_cached(s, d), 30, 60,
            sim_col="jac_pct", rounds=10,
        ),
        "sql": blocking.canopy_clusters_sql(
            dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT
            ),
            30, 60, sim_col="jac_pct", rounds=10,
        ),
        "ref": "canopy clustering (McCallum-Nigam-Ungar 2000): "
        "overlapping cheap-metric blocks, loose membership / tight "
        "removal; synchronous deterministic rounds, chained-CTE replay",
    }

    # Pair-level operating characteristic: FS weights scored against the
    # LSH-verified near-dup labels across a threshold sweep.
    PR_THRESHOLDS = (-6.0, -3.0, 0.0, 3.0, 6.0, 9.0)

    cat["pair_pr_curve"] = {
        "spark": lambda s, d: incremental.pair_pr_curve(
            _scored_pairs_cached(s, d),
            _jaccard_edges_cached(s, d).select("id_a", "id_b"),
            PR_THRESHOLDS,
        ),
        "sql": incremental.pair_pr_curve_sql(
            _weighted_pairs_sql(),
            "SELECT id_a, id_b FROM ("
            + dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT
            )
            + ")",
            PR_THRESHOLDS,
        ),
        "ref": "pair-level PR/F1 sweep over FS weight thresholds vs "
        "LSH-verified labels — picks the fs_decision cutoffs; "
        "full-outer join makes recall honest about blocking misses",
    }

    cat["entity_disjoint_splits"] = {
        "spark": lambda s, d: incremental.entity_disjoint_splits(
            _cc_cached(s, d)
        ),
        "sql": incremental.entity_disjoint_splits_sql(_cc_sql()),
        "ref": "leakage-free train/val/test assignment randomized at the "
        "ENTITY-CLUSTER level (group-disjoint splits — record-level splits "
        "let near-duplicates of training records leak into test; "
        "incremental.entity_disjoint_splits)",
    }

    PR_BOOT_W = 0.0  # predicted links = scored pairs above this FS weight

    cat["pr_bootstrap"] = {
        "spark": lambda s, d: incremental.pr_bootstrap_replicates(
            _scored_pairs_cached(s, d)
            .where(F.col("w") >= PR_BOOT_W)
            .select("id_a", "id_b"),
            _jaccard_edges_cached(s, d).select("id_a", "id_b"),
        ),
        "sql": incremental.pr_bootstrap_replicates_sql(
            "SELECT id_a, id_b FROM (" + _weighted_pairs_sql() + ") "
            f"WHERE w >= {PR_BOOT_W!r}e0",
            "SELECT id_a, id_b FROM ("
            + dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT
            )
            + ")",
        ),
        "ref": "deterministic Poisson node-bootstrap of pair P/R/F1 "
        "(Chamandy et al. 2012 distributed bootstrap, phash-derandomized) "
        "— the error bars pair_pr_curve lacks "
        "(incremental.pr_bootstrap_replicates)",
    }

    cat["ari_metrics"] = {
        "spark": lambda s, d: incremental.ari_metrics(*_cm_pred_truth(s, d)),
        "sql": incremental.ari_metrics_sql(_CM_PRED_SQL, _CM_TRUTH_SQL),
        "ref": "Adjusted Rand Index + Fowlkes-Mallows (Hubert & Arabie "
        "1985) — chance-corrected clustering agreement; integer "
        "contingency sums, shared-verbatim IEEE double tail",
    }

    # --- per-pair weight waterfall (Splink-style match-weight explanation)
    # One row per (reviewable pair, field): the field's agreement level,
    # its log(m/u) contribution, and the left-to-right cumulative weight —
    # exactly fs_weight's association order, so cum_w at the last step IS
    # the w column bit-for-bit. Restricted to the review band (w >=
    # FS_LOWER) so cardinality is pairs-above-threshold x |fields|, never
    # the full candidate set. Spark side is a single F.inline projection
    # over checkpointed tinyint g-columns (one pass, no re-scoring).
    def _waterfall_spark(s: SparkSession, d: str) -> DataFrame:
        sp = _scored_pairs_cached(s, d).where(
            F.col("w") >= F.lit(float(FS_LOWER))
        )
        terms = [W.field_weight(F.col(g), k) for g, k in FIELD_KINDS]
        cums = [terms[0]]
        for t in terms[1:]:
            cums.append(cums[-1] + t)
        rows = F.array(*[
            F.struct(
                F.lit(i + 1).alias("step"),
                F.lit(g).alias("field"),
                F.col(g).cast("int").alias("level"),
                terms[i].alias("contrib"),
                cums[i].alias("cum_w"),
            )
            for i, (g, _k) in enumerate(FIELD_KINDS)
        ])
        return sp.select("id_a", "id_b", F.inline(rows))

    _WF_TERMS = [W.field_weight_sql(g, k) for g, k in FIELD_KINDS]
    _WF_CUMS = [f"({_WF_TERMS[0]})"]
    for _t in _WF_TERMS[1:]:
        _WF_CUMS.append(f"({_WF_CUMS[-1]} + ({_t}))")
    _WF_STEPS_SQL = " UNION ALL ".join(
        f"SELECT id_a, id_b, {i + 1} AS step, '{g}' AS field, "
        f"CAST({g} AS INT) AS level, ({_WF_TERMS[i]}) AS contrib, "
        f"{_WF_CUMS[i]} AS cum_w FROM wfp"
        for i, (g, _k) in enumerate(FIELD_KINDS)
    )

    cat["match_weight_waterfall"] = {
        "spark": _waterfall_spark,
        "sql": f"""
        WITH wfp AS (
          SELECT id_a, id_b, g1, g2, g3 FROM ({_vectors_sql()})
          WHERE ({_WEIGHT_EXPR_SQL}) >= {W._dlit(float(FS_LOWER))}
        )
        {_WF_STEPS_SQL}
        """,
        "ref": "per-pair FS weight decomposition (Splink waterfall chart "
        "semantics) — explains src/weight_functions.jl:159-173 sums field "
        "by field for clerical review; cum_w replays fs_weight's exact "
        "left-to-right association",
    }

    # --- unlinkables profile (best-match-weight histogram per record) ----
    # For every record: the best candidate weight it achieves under the
    # blocking scheme, floored to an integer weight bin; records with NO
    # candidate pair land in the sentinel bin -9999. The share of records
    # whose best weight sits below the match threshold is Splink's
    # "unlinkables" curve — what fraction of the file CANNOT be linked no
    # matter where the cutoff goes. floor() in BOTH emitters (Spark CAST
    # truncates toward zero, DuckDB rounds — the canopy lesson).
    def _unlinkables_spark(s: SparkSession, d: str) -> DataFrame:
        sp = _scored_pairs_cached(s, d)
        ends = sp.select(F.col("id_a").alias("id"), "w").unionByName(
            sp.select(F.col("id_b").alias("id"), "w")
        )
        best = ends.groupBy("id").agg(F.max("w").alias("best_w"))
        docs = load(s, d, "documents").select(F.col("doc_id").alias("id"))
        j = docs.join(best, on="id", how="left")
        w_bin = (
            F.when(F.col("best_w").isNull(), F.lit(-9999).cast("long"))
            .otherwise(F.floor("best_w"))
        )
        return (
            j.select(w_bin.alias("w_bin"))
            .groupBy("w_bin")
            .agg(F.count(F.lit(1)).alias("n_records"))
        )

    cat["unlinkables_profile"] = {
        "spark": _unlinkables_spark,
        "sql": f"""
        WITH ulp AS ({_weighted_pairs_sql()}),
        ulends AS (SELECT id_a AS id, w FROM ulp
                   UNION ALL SELECT id_b AS id, w FROM ulp),
        ulbest AS (SELECT id, max(w) AS best_w FROM ulends GROUP BY 1)
        SELECT CASE WHEN best_w IS NULL THEN CAST(-9999 AS BIGINT)
                    ELSE CAST(floor(best_w) AS BIGINT) END AS w_bin,
               CAST(count(*) AS BIGINT) AS n_records
        FROM (SELECT d.doc_id AS id, b.best_w
              FROM documents d LEFT JOIN ulbest b ON b.id = d.doc_id)
        GROUP BY 1
        """,
        "ref": "unlinkables analysis (Splink's unlinkables chart): "
        "per-record best candidate weight under the blocking scheme, "
        "binned — the records no threshold can ever link; max over the "
        "same value set is order-free, so cross-engine bit parity holds",
    }

    # --- deterministic rule-cascade linkage ------------------------------
    # Production ER's waterfall of deterministic rules before probabilistic
    # scoring: rule 1 = exact content hash match (block-free), rule 2 =
    # near-identical prefix inside the standard block (g1 = 1), rule 3 =
    # n-gram-Jaccard near-dup (LSH-verified). Each pair is labeled with the
    # HIGHEST-priority (minimum-id) rule that matched — a union + pair-key
    # min, linear in the candidate sets.
    def _cascade_spark(s: SparkSession, d: str) -> DataFrame:
        docs = load(s, d, "documents")
        g = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(F.col("text")).alias("_h"),
        )
        r1 = (
            g.select(F.col("doc_id").alias("id_a"), "_h")
            .join(g.select(F.col("doc_id").alias("id_b"), "_h"), on="_h")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(1).alias("rule_id"))
        )
        r2 = (
            _scored_pairs_cached(s, d)
            .where(F.col("g1") == 1)
            .select(
                F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"),
                F.lit(2).alias("rule_id"),
            )
        )
        r3 = _jaccard_edges_cached(s, d).select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.lit(3).alias("rule_id"),
        )
        return (
            r1.unionByName(r2)
            .unionByName(r3)
            .groupBy("id_a", "id_b")
            .agg(F.min("rule_id").cast("int").alias("rule_id"))
        )

    cat["rule_cascade_links"] = {
        "spark": _cascade_spark,
        "sql": f"""
        WITH cscd1 AS (
          SELECT x.doc_id AS id_a, y.doc_id AS id_b, 1 AS rule_id
          FROM (SELECT doc_id, md5(text) AS _h FROM documents) x
          JOIN (SELECT doc_id, md5(text) AS _h FROM documents) y
            ON x._h = y._h AND x.doc_id < y.doc_id),
        cscd2 AS (SELECT id_a, id_b, 2 AS rule_id
                  FROM ({_vectors_sql()}) WHERE g1 = 1),
        cscd3 AS (SELECT id_a, id_b, 3 AS rule_id
                  FROM ({dedup.ngram_jaccard_pairs_via_lsh_sql(
                      "documents", "doc_id", "text", JACCARD_MIN_PCT)}))
        SELECT id_a, id_b, CAST(min(rule_id) AS INT) AS rule_id
        FROM (SELECT * FROM cscd1 UNION ALL SELECT * FROM cscd2
              UNION ALL SELECT * FROM cscd3)
        GROUP BY 1, 2
        """,
        "ref": "deterministic rule cascade (census/production ER: exact "
        "match passes before probabilistic ones; Fellegi-Sunter 1969 "
        "multi-pass practice) — pair gets the first rule that fires",
    }

    # --- capture-recapture duplicate-count estimate -----------------------
    # Two independent capture occasions = two candidate-generation rules
    # (equi-block positive-weight pairs vs LSH near-dup pairs); the Chapman
    # estimator of the TOTAL true-pair population sizes what both rules
    # miss. Integer counts from one full-outer pass; the only float op is a
    # single division + subtraction (bit-identical cross-engine).
    def _caprecap_spark(s: SparkSession, d: str) -> DataFrame:
        a = (
            _scored_pairs_cached(s, d)
            .where(F.col("w") > EDGE_THRESHOLD)
            .select("id_a", "id_b", F.lit(1).alias("in_a"))
        )
        b = _jaccard_edges_cached(s, d).select(
            "id_a", "id_b", F.lit(1).alias("in_b")
        )
        jo = a.join(b, on=["id_a", "id_b"], how="full")
        agg = jo.agg(
            F.sum(F.coalesce(F.col("in_a"), F.lit(0)))
            .cast("long")
            .alias("n_rule_a"),
            F.sum(F.coalesce(F.col("in_b"), F.lit(0)))
            .cast("long")
            .alias("n_rule_b"),
            F.sum(
                F.coalesce(F.col("in_a"), F.lit(0))
                * F.coalesce(F.col("in_b"), F.lit(0))
            )
            .cast("long")
            .alias("n_overlap"),
        )
        chapman = (
            ((F.col("n_rule_a") + 1) * (F.col("n_rule_b") + 1)).cast("double")
            / (F.col("n_overlap") + 1).cast("double")
        ) - F.lit(1.0)
        return agg.select(
            "n_rule_a", "n_rule_b", "n_overlap",
            chapman.alias("chapman_total"),
        )

    cat["capture_recapture_estimate"] = {
        "spark": _caprecap_spark,
        "sql": f"""
        WITH cra AS (SELECT id_a, id_b, 1 AS in_a
                     FROM ({_weighted_pairs_sql()})
                     WHERE w > {W._dlit(float(EDGE_THRESHOLD))}),
        crb AS (SELECT id_a, id_b, 1 AS in_b
                FROM ({dedup.ngram_jaccard_pairs_via_lsh_sql(
                    "documents", "doc_id", "text", JACCARD_MIN_PCT)})),
        crj AS (SELECT coalesce(in_a, 0) AS in_a, coalesce(in_b, 0) AS in_b
                FROM cra FULL OUTER JOIN crb USING (id_a, id_b)),
        crc AS (SELECT CAST(sum(in_a) AS BIGINT) AS n_rule_a,
                       CAST(sum(in_b) AS BIGINT) AS n_rule_b,
                       CAST(sum(in_a * in_b) AS BIGINT) AS n_overlap
                FROM crj)
        SELECT n_rule_a, n_rule_b, n_overlap,
               (CAST((n_rule_a + 1) * (n_rule_b + 1) AS DOUBLE)
                / CAST(n_overlap + 1 AS DOUBLE)) - 1.0e0 AS chapman_total
        FROM crc
        """,
        "ref": "capture-recapture (Chapman 1951) duplicate-population "
        "estimate from two independent candidate rules — the standard "
        "coverage diagnostic when no labeled truth exists",
    }

    # --- per-cluster graph diagnostics ------------------------------------
    # Node count, internal edge count, edge density, and the weakest /
    # strongest internal edge per entity cluster: low-density clusters with
    # a weak bridge edge are the over-merge suspects one_to_one /
    # kwikcluster exist to fix. Edges inherit their component via ONE
    # id_a-side label join (id_b's label is identical by construction);
    # everything aggregates per component — |edges| shuffled once, never
    # any quadratic blowup. density = 2E/(n(n-1)) is one integer-ratio
    # division, min/max over doubles are order-free: bit-strict.
    def _cluster_graph_stats_spark(s: SparkSession, d: str) -> DataFrame:
        cc = _cc_cached(s, d)
        sp = _scored_pairs_cached(s, d).where(F.col("w") > EDGE_THRESHOLD)
        e = sp.join(
            cc.select(F.col("node").alias("id_a"), "component"), on="id_a"
        )
        es = e.groupBy("component").agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.min("w").alias("min_w"),
            F.max("w").alias("max_w"),
        )
        ns = cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))
        out = ns.join(es, on="component")
        density = (F.col("n_edges") * 2).cast("double") / (
            F.col("n_nodes") * (F.col("n_nodes") - 1)
        ).cast("double")
        return out.select(
            "component", "n_nodes", "n_edges", "min_w", "max_w",
            density.alias("density"),
        )

    cat["cluster_graph_stats"] = {
        "spark": _cluster_graph_stats_spark,
        "sql": f"""
        WITH cgcc AS ({_cc_sql()}),
        cge AS (SELECT p.id_a, p.id_b, p.w, c.component
                FROM (SELECT id_a, id_b, w FROM ({_weighted_pairs_sql()})
                      WHERE w > {W._dlit(float(EDGE_THRESHOLD))}) p
                JOIN cgcc c ON c.node = p.id_a),
        cges AS (SELECT component, CAST(count(*) AS BIGINT) AS n_edges,
                        min(w) AS min_w, max(w) AS max_w
                 FROM cge GROUP BY 1),
        cgns AS (SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
                 FROM cgcc GROUP BY 1)
        SELECT n.component, n.n_nodes, e.n_edges, e.min_w, e.max_w,
               CAST(e.n_edges * 2 AS DOUBLE)
                 / CAST(n.n_nodes * (n.n_nodes - 1) AS DOUBLE) AS density
        FROM cgns n JOIN cges e ON e.component = n.component
        """,
        "ref": "per-cluster graph diagnostics (edge density + weakest "
        "internal edge) — the over-merge audit downstream of "
        "src/clustering_functions.jl components; Splink cluster metrics "
        "semantics",
    }

    # --- cluster embedding centroids --------------------------------------
    # Per multi-doc near-dup cluster: the embedding centroid in integer
    # micro units — sums of floor(v*1e6+0.5) are order-free (the coarse-
    # grain rollup lesson), so the aggregate is bit-strict under any
    # partitioning; the mean is ONE integer-ratio division. This is the
    # SemDeDup/IVF seeding primitive: one narrow posexplode of the
    # clustered embeddings (64x row fan-out of |clustered docs|), one
    # map-side-combinable aggregate — no vector ever crosses a shuffle.
    def _centroids_spark(s: SparkSession, d: str) -> DataFrame:
        cc = _jaccard_cc_cached(s, d)
        sizes = cc.groupBy("component").agg(
            F.count(F.lit(1)).alias("_n")
        ).where(F.col("_n") >= 2)
        emb = load(s, d, "embeddings").select(
            F.col("vec_id").alias("node"), "embedding"
        )
        j = (
            cc.join(sizes.select("component"), on="component")
            .join(emb, on="node")
        )
        ex = j.select(
            "component", F.posexplode("embedding").alias("dim", "_v")
        )
        q = F.floor(F.col("_v").cast("double") * 1000000.0 + F.lit(0.5))
        agg = ex.select(
            "component", F.col("dim").cast("int").alias("dim"),
            q.alias("_q"),
        ).groupBy("component", "dim").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_q").cast("long").alias("sum_micro"),
        )
        return agg.select(
            "component", "dim", "n_docs", "sum_micro",
            (
                F.col("sum_micro").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("centroid_micro"),
        )

    cat["cluster_centroids"] = {
        "spark": _centroids_spark,
        "sql": f"""
        WITH ctcc AS ({_CM_TRUTH_SQL}),
        ctsz AS (SELECT component FROM ctcc GROUP BY 1 HAVING count(*) >= 2),
        ctex AS (
          SELECT c.component, CAST(u.i - 1 AS INT) AS dim,
                 CAST(floor(CAST(e.embedding[u.i] AS DOUBLE) * 1000000.0e0
                            + 0.5e0) AS BIGINT) AS _q
          FROM ctcc c
          JOIN ctsz USING (component)
          JOIN embeddings e ON e.vec_id = c.node
          CROSS JOIN (SELECT unnest(generate_series(1, {EMB_DIM_DEDUP}))
                      AS i) u)
        SELECT component, dim, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(_q) AS BIGINT) AS sum_micro,
               CAST(sum(_q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 AS centroid_micro
        FROM ctex GROUP BY 1, 2
        """,
        "ref": "cluster embedding centroids (SemDeDup/IVF seeding "
        "primitive; Abbas et al. 2023) — integer-micro quantized sums so "
        "the centroid aggregate is order-free and bit-strict; mean is one "
        "integer-ratio division",
    }

    # --- contrastive pair mining (lexical-vs-embedding disagreement) ------
    # Candidates = near-dup LSH edges UNION embedding-cosine LSH pairs;
    # each candidate gets BOTH exact measures (distinct-token Jaccard +
    # exact cosine) and a quadrant label: lexically-near but embedding-far
    # = hard negative for embedding training, embedding-near but
    # lexically-far = paraphrase positive. Label predicates compare
    # integer jac counts and the ONE shared cosine double, so the CASE is
    # bit-portable. Vectors/token arrays attach by id-keyed joins to the
    # deduped candidate set only — the 64-dim fold runs per survivor,
    # never inside the LSH fan-out.
    def _contrastive_spark(s: SparkSession, d: str) -> DataFrame:
        from ..operators.similarity import cosine

        jac_src = _jaccard_edges_cached(s, d).select("id_a", "id_b")
        emb_src = _embcos_pairs_cached(s, d).select("id_a", "id_b")
        cand = jac_src.unionByName(emb_src).distinct()
        toks = load(s, d, "documents").select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(T.tokens(F.col("text"))).alias("_toks"),
        )
        vecs = load(s, d, "embeddings").select(
            F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")
        )
        j = (
            cand.join(toks.select(F.col("_id").alias("id_a"),
                                  F.col("_toks").alias("toks_a")), on="id_a")
            .join(toks.select(F.col("_id").alias("id_b"),
                              F.col("_toks").alias("toks_b")), on="id_b")
            .join(vecs.select(F.col("_id").alias("id_a"),
                              F.col("_v").alias("va")), on="id_a")
            .join(vecs.select(F.col("_id").alias("id_b"),
                              F.col("_v").alias("vb")), on="id_b")
        )
        i = F.size(F.array_intersect("toks_a", "toks_b"))
        u = F.size("toks_a") + F.size("toks_b") - i
        m = j.select(
            "id_a", "id_b",
            i.alias("_i"), u.alias("_u"),
            cosine(F.col("va"), F.col("vb")).alias("sim"),
        )
        label = (
            F.when(
                (F.col("_i") * 100 >= F.col("_u") * JACCARD_MIN_PCT)
                & (F.col("sim") < F.lit(float(EMB_COS_MIN))),
                F.lit("hard_negative"),
            )
            .when(
                (F.col("sim") >= F.lit(float(EMB_COS_MIN)))
                & (F.col("_i") * 100 < F.col("_u") * JACCARD_MIN_PCT),
                F.lit("paraphrase_positive"),
            )
            .otherwise(F.lit("consistent"))
        )
        return m.select(
            "id_a", "id_b",
            (F.col("_i") * 100 / F.col("_u")).cast("double").alias("jac_pct"),
            "sim", label.alias("label"),
        )

    from ..operators.similarity import cosine_sql as _cos_sql

    _CPM_I = "len(list_intersect(ta._toks, tb._toks))"
    _CPM_U = f"(len(ta._toks) + len(tb._toks) - {_CPM_I})"
    _CPM_COS = _cos_sql("ea._v", "eb._v")

    cat["contrastive_pair_mining"] = {
        "spark": _contrastive_spark,
        "sql": f"""
        WITH cpmc AS (
          SELECT DISTINCT id_a, id_b FROM (
            SELECT id_a, id_b FROM ({dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT)})
            UNION ALL
            SELECT id_a, id_b FROM ({dedup.embedding_cosine_pairs_sql(
                "embeddings", "vec_id", "embedding",
                dim=EMB_DIM_DEDUP, min_cosine=EMB_COS_MIN,
                n_planes=EMB_LSH_PLANES)}))),
        cpmt AS MATERIALIZED (
          SELECT doc_id AS _id,
                 list_distinct({T.tokens_sql('text')}) AS _toks
          FROM documents),
        cpmv AS MATERIALIZED (
          SELECT vec_id AS _id, embedding AS _v FROM embeddings),
        cpmm AS (
          SELECT c.id_a, c.id_b, {_CPM_I} AS _i, {_CPM_U} AS _u,
                 {_CPM_COS} AS sim
          FROM cpmc c
          JOIN cpmt ta ON ta._id = c.id_a
          JOIN cpmt tb ON tb._id = c.id_b
          JOIN cpmv ea ON ea._id = c.id_a
          JOIN cpmv eb ON eb._id = c.id_b)
        SELECT id_a, id_b, CAST(_i * 100 / _u AS DOUBLE) AS jac_pct, sim,
               CASE WHEN _i * 100 >= _u * {JACCARD_MIN_PCT}
                         AND sim < {W._dlit(float(EMB_COS_MIN))}
                    THEN 'hard_negative'
                    WHEN sim >= {W._dlit(float(EMB_COS_MIN))}
                         AND _i * 100 < _u * {JACCARD_MIN_PCT}
                    THEN 'paraphrase_positive'
                    ELSE 'consistent' END AS label
        FROM cpmm
        """,
        "ref": "contrastive pair mining for embedding training (hard "
        "negatives = lexically-near/embedding-far; SimCSE/E5-style "
        "curation) — union of the two LSH candidate families, both exact "
        "measures per survivor",
    }

    # --- cross-source duplication matrix -----------------------------------
    # Near-dup edges rolled up by unordered source pair: which sources
    # mirror / syndicate each other's content — the dedup-policy input at
    # corpus scale (same-source dups are boilerplate, cross-source dups
    # are syndication). One |edges| pass + a tiny groupBy; min/max over
    # identical double sets are order-free.
    def _source_overlap_spark(s: SparkSession, d: str) -> DataFrame:
        e = _jaccard_edges_cached(s, d)
        src = load(s, d, "documents").select(
            F.col("doc_id").alias("_id"), F.col("source").alias("_src")
        )
        j = (
            e.join(src.select(F.col("_id").alias("id_a"),
                              F.col("_src").alias("src_a")), on="id_a")
            .join(src.select(F.col("_id").alias("id_b"),
                             F.col("_src").alias("src_b")), on="id_b")
        )
        return (
            j.select(
                F.least("src_a", "src_b").alias("source_a"),
                F.greatest("src_a", "src_b").alias("source_b"),
                "jac_pct",
            )
            .groupBy("source_a", "source_b")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.max("jac_pct").alias("max_jac_pct"),
            )
        )

    cat["source_overlap_matrix"] = {
        "spark": _source_overlap_spark,
        "sql": f"""
        WITH soe AS ({dedup.ngram_jaccard_pairs_via_lsh_sql(
            "documents", "doc_id", "text", JACCARD_MIN_PCT)}),
        soj AS (SELECT least(da.source, db.source) AS source_a,
                       greatest(da.source, db.source) AS source_b,
                       soe.jac_pct
                FROM soe JOIN documents da ON da.doc_id = soe.id_a
                         JOIN documents db ON db.doc_id = soe.id_b)
        SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
               max(jac_pct) AS max_jac_pct
        FROM soj GROUP BY 1, 2
        """,
        "ref": "cross-source duplication matrix (syndication/mirror "
        "audit over the near-dup graph) — CCNet/RefinedWeb-style corpus "
        "provenance diagnostic",
    }

    # --- embedding label consistency ---------------------------------------
    # The LSH-verified cosine pairs rolled up by unordered planted-label
    # pair: on-diagonal mass = embedding space respects the labels,
    # off-diagonal cells = confusion hot-spots. The embedding-quality
    # probe for the similarity index, priced at the candidate set — the
    # label matrix never materializes n^2.
    def _label_consistency_spark(s: SparkSession, d: str) -> DataFrame:
        pairs = _embcos_pairs_cached(s, d)
        lab = load(s, d, "embeddings").select(
            F.col("vec_id").alias("_id"), F.col("label").alias("_l")
        )
        j = (
            pairs.join(lab.select(F.col("_id").alias("id_a"),
                                  F.col("_l").alias("l_a")), on="id_a")
            .join(lab.select(F.col("_id").alias("id_b"),
                             F.col("_l").alias("l_b")), on="id_b")
        )
        return (
            j.select(
                F.least("l_a", "l_b").alias("label_lo"),
                F.greatest("l_a", "l_b").alias("label_hi"),
                "sim",
            )
            .groupBy("label_lo", "label_hi")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.min("sim").alias("min_sim"),
                F.max("sim").alias("max_sim"),
            )
        )

    cat["embedding_label_consistency"] = {
        "spark": _label_consistency_spark,
        "sql": f"""
        WITH elc AS ({dedup.embedding_cosine_pairs_sql(
            "embeddings", "vec_id", "embedding",
            dim=EMB_DIM_DEDUP, min_cosine=EMB_COS_MIN,
            n_planes=EMB_LSH_PLANES)}),
        elj AS (SELECT least(ea.label, eb.label) AS label_lo,
                       greatest(ea.label, eb.label) AS label_hi, elc.sim
                FROM elc JOIN embeddings ea ON ea.vec_id = elc.id_a
                         JOIN embeddings eb ON eb.vec_id = elc.id_b)
        SELECT label_lo, label_hi, CAST(count(*) AS BIGINT) AS n_pairs,
               min(sim) AS min_sim, max(sim) AS max_sim
        FROM elj GROUP BY 1, 2
        """,
        "ref": "embedding-quality confusion matrix over the ANN candidate "
        "set (planted labels) — index-health probe for the similarity "
        "path; never materializes the quadratic label matrix",
    }

    # --- lexical diversity per source (Heaps-law profile) ------------------
    # Exact token and type counts per source + type-token ratio: the
    # vocabulary-growth diagnostic for mixture design (low TTR = dup-heavy
    # or templated source). Exact distinct via one (source, token)
    # shuffle; TTR is one integer-ratio division.
    def _lexdiv_spark(s: SparkSession, d: str) -> DataFrame:
        docs = load(s, d, "documents")
        tok = docs.select(
            "source", F.explode(T.tokens(F.col("text"))).alias("_tok")
        )
        return tok.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("_tok").alias("n_types"),
        ).select(
            "source", "n_tokens", "n_types",
            (
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("type_token_ratio"),
        )

    cat["lexical_diversity"] = {
        "spark": _lexdiv_spark,
        "sql": f"""
        WITH lxt AS (SELECT source, unnest({T.tokens_sql('text')}) AS _tok
                     FROM documents)
        SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT _tok) AS BIGINT) AS n_types,
               CAST(count(DISTINCT _tok) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS type_token_ratio
        FROM lxt GROUP BY 1
        """,
        "ref": "per-source lexical diversity (Heaps-law / type-token "
        "profile) — mixture-design diagnostic: templated or dup-heavy "
        "sources surface as TTR outliers",
    }

    # --- posterior calibration curve ---------------------------------------
    # Reliability diagram for the Bayes-rule match posterior: candidate
    # pairs binned by floor(posterior log-odds) = floor(logit(p) + w) —
    # linear in w, no exp/log in oracle-checked columns — vs the
    # LSH-verified near-dup labels; empirical match rate per bin is ONE
    # integer-ratio division. A calibrated model shows rate rising with
    # the bin; it prices the fs_decision cutoffs in probability space.
    _CAL_LOGIT_P = round(math.log(POSTERIOR_P / (1.0 - POSTERIOR_P)), 12)

    def _calibration_spark(s: SparkSession, d: str) -> DataFrame:
        sp = _scored_pairs_cached(s, d)
        truth = _jaccard_edges_cached(s, d).select(
            "id_a", "id_b", F.lit(1).alias("_t")
        )
        j = sp.join(truth, on=["id_a", "id_b"], how="left")
        lo_bin = F.floor(F.lit(_CAL_LOGIT_P) + F.col("w"))
        agg = j.select(
            lo_bin.alias("lo_bin"),
            F.coalesce(F.col("_t"), F.lit(0)).alias("_t"),
        ).groupBy("lo_bin").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("_t").cast("long").alias("n_true"),
        )
        return agg.select(
            "lo_bin", "n_pairs", "n_true",
            (
                F.col("n_true").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("match_rate"),
        )

    cat["posterior_calibration"] = {
        "spark": _calibration_spark,
        "sql": f"""
        WITH calp AS ({_weighted_pairs_sql()}),
        calt AS (SELECT id_a, id_b, 1 AS _t
                 FROM ({dedup.ngram_jaccard_pairs_via_lsh_sql(
                     "documents", "doc_id", "text", JACCARD_MIN_PCT)})),
        calj AS (SELECT CAST(floor({W._dlit(_CAL_LOGIT_P)} + p.w)
                             AS BIGINT) AS lo_bin,
                        coalesce(t._t, 0) AS _t
                 FROM calp p LEFT JOIN calt t USING (id_a, id_b))
        SELECT lo_bin, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(_t) AS BIGINT) AS n_true,
               CAST(sum(_t) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 AS match_rate
        FROM calj GROUP BY 1
        """,
        "ref": "posterior calibration / reliability diagram for "
        "bayesrule_posterior (src/weight_functions.jl:451) against "
        "LSH-verified labels — log-odds bins keep the oracle exp-free; "
        "the probability-space companion of pair_pr_curve",
    }

    # --- entity-level version timeline (near-dup clusters x SCD2) ----------
    # The ER composition of scd2_page_versions: snapshots grouped by the
    # ENTITY (near-dup cluster) they resolve to, so mirrored/re-crawled
    # copies of one logical document share a single version history;
    # versions are distinct content fetches (full 60-bit text hash), so
    # exact re-fetches collapse and every near-dup edit opens a version.
    def _ent_timeline_spark(s, d):
        cc = _jaccard_cc_cached(s, d)
        docs = load(s, d, "documents")
        snaps = docs.join(cc, docs["doc_id"] == cc["node"]).select(
            F.col("component").alias("ent"),
            crawl.crawl_ts_epoch("doc_id").alias("ts"),
            phash(F.col("text")).alias("fp"),
            F.col("doc_id").alias("sid"),
        )
        out = crawl.scd2_intervals(snaps, "ent", "ts", "fp", "sid")
        return out.select(
            F.col("url").cast("long").alias("entity"),
            "version_no", "fp", "valid_from", "valid_to", "n_snaps",
            "is_current",
        )

    _ENT_SNAPS_SQL = f"""(
      SELECT cc.component AS u, {crawl.crawl_ts_epoch_sql('d.doc_id')} AS ts,
             {T.phash_sql('d.text')} AS fp, d.doc_id AS sid
      FROM ({_CC_SQL_TEMPLATE.format(
          edges="SELECT id_a, id_b FROM ("
          + dedup.ngram_jaccard_pairs_via_lsh_sql(
              "documents", "doc_id", "text", JACCARD_MIN_PCT)
          + ")")}) cc
      JOIN documents d ON cc.node = d.doc_id
    )"""
    cat["entity_version_timeline"] = {
        "spark": _ent_timeline_spark,
        "sql": f"""
        SELECT CAST(url AS BIGINT) AS entity, version_no, fp, valid_from,
               valid_to, n_snaps, is_current
        FROM ({crawl.scd2_intervals_sql(_ENT_SNAPS_SQL, 'u', 'ts', 'fp', 'sid')})
        """,
        "ref": "entity version timeline: SCD2 intervals keyed by the "
        "near-dup CLUSTER instead of the url — one history per logical "
        "document across mirrors/re-crawls (composition of "
        "scd2_intervals over the memoized near-dup CC upstream)",
    }

    # --- progressive (budget-capped) entity resolution ----------------------
    # Pay-as-you-go ER (Whang, Marmaros & Garcia-Molina, TKDE 2013): spend
    # the comparison budget on the HIGHEST-weight candidates first and
    # report the entities resolvable within it. The budget cut is a global
    # top-K in (w DESC, id_a, id_b) total order — TakeOrderedAndProject,
    # never a full-sort window (the fs_review_queue invariant) — then
    # transitive closure over just those pairs.
    def _progressive_spark(s, d):
        from ..operators.connected_components import connected_components

        top = _progressive_budget_cut(s, d)
        return connected_components(
            top.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )

    cat["progressive_er_clusters"] = {
        "spark": _progressive_spark,
        "sql": f"""
        WITH RECURSIVE pbedges AS MATERIALIZED (
          SELECT id_a, id_b FROM ({_weighted_pairs_sql()})
          ORDER BY w DESC, id_a, id_b LIMIT {PROG_BUDGET}
        ),
        pbnodes AS (SELECT DISTINCT n AS node FROM (
          SELECT id_a AS n FROM pbedges
          UNION ALL SELECT id_b AS n FROM pbedges)),
        pbbi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pbedges
               UNION SELECT id_b AS a, id_a AS b FROM pbedges),
        pbwalk(node, comp) AS (
          SELECT node, node FROM pbnodes
          UNION
          SELECT pbbi.b, pbwalk.comp FROM pbwalk
          JOIN pbbi ON pbbi.a = pbwalk.node
          WHERE pbwalk.comp < pbbi.b
        )
        SELECT node, min(comp) AS component FROM pbwalk GROUP BY node
        """,
        "ref": "progressive / pay-as-you-go ER (Whang et al. 2013): "
        "entities resolvable within a fixed comparison budget spent "
        "best-first — global top-K cut (TakeOrderedAndProject, "
        "plan-pinned shape) + CC over the budgeted pairs only",
    }

    # --- maximum spanning forest (exact single-linkage backbone) -----------
    # Over the near-dup graph with w = jaccard in integer centi-percent
    # (floor(jac_pct*100+0.5) of the bit-identical shared double).
    def _msf_spark(s, d):
        from ..operators.connected_components import max_spanning_forest

        edges = _jaccard_edges_cached(s, d).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
            F.floor(F.col("jac_pct") * 100.0 + 0.5).cast("long").alias("w"),
        )
        return max_spanning_forest(edges, rounds=6)

    from ..operators.connected_components import max_spanning_forest_sql

    cat["msf_edges"] = {
        "spark": _msf_spark,
        "sql": max_spanning_forest_sql(
            "SELECT id_a AS src, id_b AS dst, "
            "CAST(floor(jac_pct * 100.0 + 0.5) AS BIGINT) AS w FROM ("
            + dedup.ngram_jaccard_pairs_via_lsh_sql(
                "documents", "doc_id", "text", JACCARD_MIN_PCT
            )
            + ")",
            rounds=6,
        ),
        "ref": "Boruvka maximum spanning forest — the exact single-"
        "linkage summary: clusters at ANY threshold = CC over forest "
        "edges with w >= t (|V| edges instead of re-running CC over |E| "
        "per threshold, cf. threshold_sensitivity); strict (w DESC, src, "
        "dst) priorities, per-round chained recursive-CTE contraction",
    }

    # --- single-linkage dendrogram profile from the MSF ---------------------
    # The forest property prices the whole threshold sweep at |V| rows:
    # clusters(t) over the graph's nodes = n_nodes - #forest edges with
    # w >= t, so one cumulative count over the (<= |V|-1)-row forest
    # replaces a per-threshold CC over |E| (threshold_sensitivity's cost).
    def _slp_spark(s, d):
        from pyspark.sql import Window as _W

        forest = cat["msf_edges"]["spark"](s, d)
        ed = _jaccard_edges_cached(s, d)
        n_nodes = (
            ed.select(F.col("id_a").alias("n"))
            .unionByName(ed.select(F.col("id_b").alias("n")))
            .distinct()
            .count()
        )
        per_w = forest.groupBy("w").agg(
            F.count(F.lit(1)).cast("long").alias("n_merges_at_w")
        )
        cum = F.sum("n_merges_at_w").over(
            _W.orderBy(F.col("w").desc())
            .rangeBetween(_W.unboundedPreceding, 0)
        )
        return per_w.select(
            F.col("w").alias("threshold"),
            "n_merges_at_w",
            cum.cast("long").alias("n_merges"),
            (F.lit(n_nodes) - cum).cast("long").alias("n_clusters"),
        )

    _SLP_NODES_SQL = (
        "SELECT count(DISTINCT n) FROM ("
        "SELECT id_a AS n FROM ("
        + dedup.ngram_jaccard_pairs_via_lsh_sql(
            "documents", "doc_id", "text", JACCARD_MIN_PCT)
        + ") UNION ALL SELECT id_b AS n FROM ("
        + dedup.ngram_jaccard_pairs_via_lsh_sql(
            "documents", "doc_id", "text", JACCARD_MIN_PCT)
        + "))"
    )
    cat["single_linkage_profile"] = {
        "spark": _slp_spark,
        "sql": f"""
        WITH slpf AS MATERIALIZED ({cat['msf_edges']['sql']})
        SELECT w AS threshold,
               CAST(count(*) AS BIGINT) AS n_merges_at_w,
               CAST(sum(count(*)) OVER (ORDER BY w DESC
                 RANGE UNBOUNDED PRECEDING) AS BIGINT) AS n_merges,
               CAST(({_SLP_NODES_SQL})
                 - sum(count(*)) OVER (ORDER BY w DESC
                     RANGE UNBOUNDED PRECEDING) AS BIGINT) AS n_clusters
        FROM slpf GROUP BY w
        """,
        "ref": "single-linkage dendrogram profile: clusters-at-every-"
        "threshold from the MSF in one |V|-row pass (clusters(t) = "
        "n_nodes - forest merges with w >= t) — the cheap exact "
        "replacement for threshold_sensitivity's per-threshold CC",
    }

    # --- truth discovery (Sums-style source-reliability fixed point) -------
    # Claims: each crawl snapshot's source asserts the logical page's
    # language — sources conflict on re-crawled pages, so reliability
    # weighting is exercised, not just majority vote.
    def _td_claims_spark(s, d):
        return load(s, d, "documents").select(
            (F.col("doc_id") % crawl.N_LOGICAL).alias("ent"),
            "lang", "source",
        )

    _TD_CLAIMS_SQL = (
        f"(SELECT CAST(doc_id % {crawl.N_LOGICAL} AS BIGINT) AS e, "
        "lang AS v, source AS s FROM documents)"
    )
    cat["truth_discovery"] = {
        "spark": lambda s, d: fusion.truth_discovery(
            _td_claims_spark(s, d), "ent", "lang", "source"
        ),
        "sql": fusion.truth_discovery_sql(_TD_CLAIMS_SQL),
        "ref": "conflict resolution beyond record_fusion's mode rule: "
        "per-entity winning value under ITERATIVE source-reliability "
        "weighting (Sums/TruthFinder family, integer micro-unit fixed "
        "point, replayed as fixed-round chained CTEs)",
    }
    cat["source_trust"] = {
        "spark": lambda s, d: fusion.source_trust(
            _td_claims_spark(s, d), "ent", "lang", "source"
        ),
        "sql": fusion.source_trust_sql(_TD_CLAIMS_SQL),
        "ref": "the converged per-source reliability from the same fixed "
        "point (max source = SCALE; feeds curation source weighting)",
    }

    # --- SCD2 page-version history over the synthetic crawl log ------------
    # Content ids cycle over 3 deterministic values per snapshot, so the
    # version collapse (consecutive identical re-fetches merge) and the
    # change boundaries are both exercised at every SF.
    def _scd2_spark(s, d):
        snaps = load(s, d, "documents").select(
            crawl.url_normalize(crawl.messy_url("doc_id")).alias("u"),
            crawl.crawl_ts_epoch("doc_id").alias("ts"),
            (phash(F.concat(F.lit("crawl:v:"), F.col("doc_id").cast("string"))) % 3)
            .alias("fp"),
            F.col("doc_id").alias("sid"),
        )
        return crawl.scd2_intervals(snaps, "u", "ts", "fp", "sid")

    _scd2_fp_inner = "'crawl:v:' || CAST(doc_id AS VARCHAR)"
    _scd2_fp_sql = f"({T.phash_sql(_scd2_fp_inner)} % 3)"
    cat["scd2_page_versions"] = {
        "spark": _scd2_spark,
        "sql": crawl.scd2_intervals_sql(
            f"""(SELECT
                 {crawl.url_normalize_sql(crawl.messy_url_sql('doc_id'))} AS u,
                 {crawl.crawl_ts_epoch_sql('doc_id')} AS ts,
                 {_scd2_fp_sql} AS fp, doc_id AS sid FROM documents)""",
            "u", "ts", "fp", "sid",
        ),
        "ref": "SCD2 page history: the crawl snapshot log collapsed into "
        "half-open validity intervals per canonical url (consecutive "
        "identical re-fetches merge; change boundaries open new versions; "
        "the open version carries a shared sentinel, never NULL)",
    }

    return cat
