"""End-to-end record-linkage pipeline: blocking -> FS scoring -> one-to-one
-> transitive clustering, with optional stage checkpoints for resume.

Lifecycle mirrors SURVEY.md §3.1-3.3 (ComparisonSummary build, penalized-
likelihood MAP path, post-hoc-block resolution), re-expressed Spark-first:

  pages --extract--> docs --LSH/key blocking--> candidate ids
        --join fields--> pairs --comparators--> comparison vectors
        --groupBy dedup--> distinct vectors --driver EM--> (pM, pU)
        --broadcast weights join--> weighted pairs --filter w>penalty-->
        edges --large-star/small-star CC--> block_id --applyInPandas
        Hungarian/greedy--> links --CC--> clusters

Node ids are the portable 60-bit hash of url (deterministic, distributed id
assignment with no global sort; collision probability ~n^2/2^60).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import comparators as C
from ..functions.text import phash
from ..operators import assignment, blocking, em
from ..operators import connected_components as ccm
from ..operators.comparison_summary import ComparisonSummary
from ..sources.checkpoint import StageStore
from ..sources.pages import extract_text

# MinHash-LSH blocking bands (plans/e2e_oracles.py imports these constants
# for its SQL twin)
N_BANDS = 6
ROWS_PER_BAND = 1
SHINGLE_K = 3
# levenshtein compares per-doc text prefixes of this many characters
LEV_PREFIX = 80
# salted composite-key blocking (lang / host): supplies the non-match
# background EM needs for identifiability AND a recall backstop; salt caps
# block size (skew control)
KEY_BLOCK_MAX_ROWS = 64
EM_MAX_ITER = 200
# largest block (in pairs) that method="exact_posterior" enumerates
EXACT_MAX_BLOCK_PAIRS = 10
# threshold step of the size-capped block split
BLOCK_SPLIT_INCR = 0.5


@dataclass
class LinkageConfig:
    # weight threshold; "bayes" = -logit(EM match prevalence), i.e. link
    # iff posterior match probability > 1/2 (the reference's Bayes-estimate
    # rule, README.md:148-151, in MAP form)
    penalty: float | str = 2.0
    # per-block solver: hungarian / greedy / auction (MAP matching), or
    # "exact_posterior" = the reference's Bayes estimate (link iff exact
    # posterior marginal > 1/2, enumerated per block; blocks above
    # EXACT_MAX_BLOCK_PAIRS fall back to Hungarian MAP)
    method: str = "hungarian"
    # cap on pairs per resolution block; oversized components are re-clustered
    # at rising thresholds (iterative_bipartite_cluster2 analog) so no block
    # can blow up the per-block solver at scale. The blocks are also
    # run_linkage's clusters, so a split changes the cluster output too
    max_block_pairs: int = 10_000
    checkpoint_dir: str | None = None

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__dataclass_fields__}


# comparison fields and their level counts
NLEVELS = {"g_lev": 4, "g_jac": 4, "g_lang": 2}


def _score_vectors(pairs: DataFrame) -> DataFrame:
    """Comparison vectors with each comparator kernel evaluated exactly
    once per pair: raw measures (banded levenshtein on per-doc prefixes,
    token-set intersect on per-doc distinct-token arrays) in one pre-shuffle
    projection, pair-key aggregate barrier, then integer bin CASEs. The
    result is localCheckpointed because both the distinct-vector dedup and
    the vec_id attach branch from it (without materialization each branch
    would re-run the comparators). Value-identical to C.lev_ord /
    C.token_jaccard_ord / C.bool_ord over the full texts."""
    raw = pairs.select(
        "id_a",
        "id_b",
        F.levenshtein("t_pre_a", "t_pre_b", LEV_PREFIX // 2).alias("_lev"),
        F.greatest(F.length("t_pre_a"), F.length("t_pre_b")).alias("_mx"),
        F.size(F.array_intersect("toks_a", "toks_b")).alias("_i"),
        (F.size("toks_a") + F.size("toks_b")).alias("_nab"),
        "lang_a",
        "lang_b",
    )
    rawcols = ["_lev", "_mx", "_i", "_nab", "lang_a", "lang_b"]
    agg = raw.groupBy("id_a", "id_b").agg(*[F.first(c).alias(c) for c in rawcols])
    return agg.select(
        "id_a",
        "id_b",
        C.lev_ord_from_raw(F.col("_lev"), F.col("_mx")).alias("g_lev"),
        C.token_jaccard_ord_from_counts(
            F.col("_i"), F.col("_nab") - F.col("_i")
        ).alias("g_jac"),
        C.bool_ord(F.col("lang_a"), F.col("lang_b")).alias("g_lang"),
    ).localCheckpoint()


def _resolve_penalty(penalty: float | str, params: em.FSParams | None) -> float:
    """penalty="bayes" -> -logit(EM match prevalence): link iff posterior
    match probability > 1/2 (the reference's Bayes-estimate rule,
    /root/reference/README.md:148-151, in MAP form)."""
    if penalty == "bayes":
        import math

        p_hat = min(max(params.p if params is not None else 0.5, 1e-12), 1 - 1e-12)
        return math.log((1.0 - p_hat) / p_hat)
    return float(penalty)


def _weigh_and_block(
    spark: SparkSession,
    summary: ComparisonSummary,
    nlevels: dict[str, int],
    penalty: float | str,
    components,
    **em_kw,
) -> tuple[DataFrame, DataFrame, DataFrame, em.FSParams | None]:
    """Shared tail of both pipelines: EM on the distinct vectors (skipped
    on an empty comparison table), FS weights broadcast-joined back to the
    pairs, the resolved penalty, the positive-weight graph with weights
    shrunk by the penalty, its blocks, and the pairs labeled by block.

    components(pos) -> (node, component, ...) over pos = (id_a, id_b, w).
    Returns (scored, comps, blocked, params)."""
    dvecs_pd = summary.dvecs_pd()
    params = (
        em.estimate_em(dvecs_pd, summary.gcols, nlevels, **em_kw)
        if len(dvecs_pd) > 0
        else None
    )
    if params is not None:
        wpd = em.weights_vector(dvecs_pd, summary.gcols, params)
    else:  # no pairs: nothing to weigh
        wpd = dvecs_pd[["vec_id"]].assign(w=0.0)
    penalty = _resolve_penalty(penalty, params)
    wdf = spark.createDataFrame(wpd, schema="vec_id long, w double")
    scored = summary.pairs.join(F.broadcast(wdf), on="vec_id", how="left")
    pos = scored.where(F.col("w") > penalty).withColumn(
        "w", F.col("w") - F.lit(penalty)  # shrink_weights
    )
    comps = components(pos)
    blocked = pos.join(
        comps.withColumnRenamed("node", "id_a"), on="id_a"
    ).withColumnRenamed("component", "block_id")
    return scored, comps, blocked, params


@dataclass
class LinkageResult:
    docs: DataFrame
    pairs: DataFrame  # scored candidate pairs with w
    links: DataFrame  # one-to-one matches (id_a, id_b, w, block_id)
    clusters: DataFrame  # (url, node, cluster_id)
    comps: DataFrame  # (node, component, capped) — the block graph
    params: em.FSParams | None
    stage_counters: dict = field(default_factory=dict)
    _capped_nodes: int | None = field(default=None, repr=False)

    @property
    def counters(self) -> dict:
        """Stage counters + the unsplittable-hot-block flag. capped_nodes is
        counted lazily on first access (it needs a Spark action over comps;
        callers that ignore counters pay nothing)."""
        if self._capped_nodes is None:
            self._capped_nodes = self.comps.where(F.col("capped")).count()
        return {"capped_nodes": self._capped_nodes, **self.stage_counters}


def run_linkage(
    spark: SparkSession, pages: DataFrame, cfg: LinkageConfig | None = None
) -> LinkageResult:
    cfg = cfg or LinkageConfig()
    store = StageStore(cfg.checkpoint_dir) if cfg.checkpoint_dir else None
    ccfg = cfg.as_dict()

    def stage(name: str, fn):
        if store is None:
            return fn()
        df, _resumed = store.load_or_run(spark, name, ccfg, fn)
        return df

    # -- extraction: html -> text (byte-identical contract) ----------------
    def _docs() -> DataFrame:
        d = pages.withColumn("text", extract_text(F.col("html")))
        return d.select(
            phash(F.col("url")).alias("node"),
            "url",
            "text",
            "lang",
            F.regexp_extract(F.col("url"), "^https?://([^/]+)/", 1).alias("host"),
        )

    docs = stage("docs", _docs)

    # -- blocking: MinHash-LSH bands ∪ salted composite keys ----------------
    # LSH finds near-duplicate text across hosts (recall channel); salted
    # lang/host equi-keys bound block sizes and provide the non-match
    # background that makes EM identifiable (precision channel).
    def _cand() -> DataFrame:
        lsh = blocking.lsh_blocking(
            docs,
            id_col="node",
            text_col="text",
            n_bands=N_BANDS,
            rows_per_band=ROWS_PER_BAND,
            shingle_k=SHINGLE_K,
        ).select("id_a", "id_b")
        keyed = []
        for key in (["lang"], ["host"]):
            salted = blocking.salt_hot_keys(
                docs, "node", key, max_block_rows=KEY_BLOCK_MAX_ROWS
            )
            keyed.append(
                blocking.key_blocking(
                    salted, "node", key + ["_salt"]
                ).select("id_a", "id_b")
            )
        out = lsh
        for k in keyed:
            out = out.unionByName(k)
        return out.distinct()

    cand = stage("candidates", _cand)

    # -- fetch fields + comparison vectors ---------------------------------
    def _pairs() -> DataFrame:
        # per-document derived columns (prefix + distinct tokens) computed
        # ONCE below the field joins — only narrow arrays cross the shuffle
        proj = docs.select(
            "node",
            "lang",
            F.substring("text", 1, LEV_PREFIX).alias("t_pre"),
            F.array_distinct(F.split("text", " ")).alias("toks"),
        )
        fa = proj.select(
            F.col("node").alias("id_a"),
            F.col("t_pre").alias("t_pre_a"),
            F.col("toks").alias("toks_a"),
            F.col("lang").alias("lang_a"),
        )
        fb = proj.select(
            F.col("node").alias("id_b"),
            F.col("t_pre").alias("t_pre_b"),
            F.col("toks").alias("toks_b"),
            F.col("lang").alias("lang_b"),
        )
        # pairs are byte-small but comparator-heavy per row: AQE would
        # coalesce the joined pairs to one partition, so the comparator
        # projection (in _score_vectors, behind its checkpoint) would run
        # as one task. A round-robin repartition after the joins spreads it
        # over every core; a hash repartition on (id_a, id_b) here is
        # coalesced to one task as well.
        return (
            cand.join(fa, "id_a")
            .join(fb, "id_b")
            .repartition(spark.sparkContext.defaultParallelism * 2)
        )

    summary = ComparisonSummary.build(
        _score_vectors(_pairs()), {g: F.col(g) for g in NLEVELS}, NLEVELS
    )

    # -- EM weights -> positive-weight graph -> size-capped blocks ---------
    # oversized components are split at rising thresholds (skew control for
    # the per-block solver)
    def _blocks(pos: DataFrame) -> DataFrame:
        wedges = pos.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "w"
        )
        return ccm.size_capped_components(
            wedges, cfg.max_block_pairs, 0.0, BLOCK_SPLIT_INCR
        ).select("node", "component", "capped")

    scored, comps, blocked, params = _weigh_and_block(
        spark, summary, NLEVELS, cfg.penalty,
        lambda pos: stage("components", lambda: _blocks(pos)),
        max_iter=EM_MAX_ITER,
    )

    # -- per-block one-to-one resolution ------------------------------------
    def _links() -> DataFrame:
        if cfg.method == "exact_posterior":
            # Bayes estimate (reference README.md:148-151): link iff the
            # EXACT posterior marginal over the block's matchings exceeds
            # 1/2 — enumerated where the block is small enough, Hungarian
            # MAP elsewhere. One-to-one by construction: two conflicting
            # pairs are mutually exclusive events over matchings, so their
            # marginals sum to <= 1 and cannot both exceed 1/2.
            from ..operators.mcmc import exact_posterior_links

            bp = blocked.select(
                "id_a", "id_b", F.exp("w").alias("r"), "block_id"
            ).localCheckpoint()
            small_ids = (
                bp.groupBy("block_id")
                .agg(F.count(F.lit(1)).alias("_np"))
                .where(F.col("_np") <= EXACT_MAX_BLOCK_PAIRS)
                .select("block_id")
            )
            exact = exact_posterior_links(
                bp, max_pairs_per_block=EXACT_MAX_BLOCK_PAIRS
            ).select("id_a", "id_b", "block_id")
            exact_w = exact.join(
                blocked.select("id_a", "id_b", "w"), on=["id_a", "id_b"]
            ).select("id_a", "id_b", "w", "block_id")
            big = blocked.select("id_a", "id_b", "w", "block_id").join(
                small_ids, on="block_id", how="left_anti"
            )
            solved = assignment.one_to_one(big, method="hungarian")
            return solved.unionByName(exact_w.select(*solved.columns))
        return assignment.one_to_one(
            blocked.select("id_a", "id_b", "w", "block_id"), method=cfg.method
        )

    links = stage("links", _links)

    # -- clusters: the size-capped post-hoc blocks -------------------------
    # (the links table is the one-to-one precision artifact.) Clusters are
    # the blocks in comps: connected components of the above-penalty graph
    # (the reference's post-hoc blocks, src/posthocblocks.jl:89-116), except
    # that a component with more than max_block_pairs pairs is split at
    # rising thresholds. So whenever a split happens, max_block_pairs shapes
    # the cluster output, not only the per-block solver's work. Nodes without
    # an above-penalty edge are singletons. For two-file linkage, where the
    # clusters ARE the matching, see link_two_sources below.
    def _clusters() -> DataFrame:
        return docs.select("node", "url").join(comps, on="node", how="left").select(
            "url",
            "node",
            F.coalesce("component", F.col("node")).alias("cluster_id"),
        )

    clusters = stage("clusters", _clusters)

    return LinkageResult(
        docs=docs,
        pairs=scored,
        links=links,
        clusters=clusters,
        comps=comps,
        params=params,
        stage_counters=store.counters() if store else {},
    )


def link_two_sources(
    spark: SparkSession,
    df_a: DataFrame,
    df_b: DataFrame,
    field_exprs: dict,
    nlevels: dict[str, int],
    id_col: str = "rec_id",
    block_cols: list[str] | None = None,
    penalty: float | str = 0.0,
) -> tuple[DataFrame, em.FSParams | None]:
    """Bipartite two-file linkage — the direct reference analog
    (vignette lifecycle, /root/reference/vignette/example.jl): candidate
    pairs (optionally key-blocked), comparison-vector dedup, EM m/u, FS
    weights, CC decomposition, per-block Hungarian one-to-one. Here the
    matching IS the entity-cluster output (each record appears in at most
    one link).

    df_a/df_b must expose id_col (string/long) plus the columns consumed by
    field_exprs with _a/_b suffixes. Returns (links, params).

    penalty="bayes" sets the threshold to -logit(p_hat) from the EM match
    prevalence — link iff posterior match probability > 1/2, the
    reference's Bayes-estimate rule (README.md:148-151) in MAP form.
    """
    a = df_a.select(
        phash(F.col(id_col).cast("string")).alias("id_a"),
        F.col(id_col).alias("rid_a"),
        *[F.col(c).alias(f"{c}_a") for c in df_a.columns if c != id_col],
    )
    b = df_b.select(
        phash(F.concat(F.lit("B:"), F.col(id_col).cast("string"))).alias("id_b"),
        F.col(id_col).alias("rid_b"),
        *[F.col(c).alias(f"{c}_b") for c in df_b.columns if c != id_col],
    )
    if block_cols:
        cond = [F.col(f"{c}_a") == F.col(f"{c}_b") for c in block_cols]
        pairs = a.join(b, on=cond, how="inner")
    else:
        pairs = a.crossJoin(b)  # only sane for vignette-scale fixtures

    summary = ComparisonSummary.build(pairs, field_exprs, nlevels)
    _scored, _comps, blocked, params = _weigh_and_block(
        spark, summary, nlevels, penalty,
        lambda pos: ccm.connected_components(
            pos.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        ),
    )
    links = assignment.one_to_one(
        blocked.select("id_a", "id_b", "w", "block_id"), method="hungarian"
    )
    # map hashed node ids back to record ids
    links = (
        links.join(a.select("id_a", "rid_a"), on="id_a")
        .join(b.select("id_b", "rid_b"), on="id_b")
        .select("rid_a", "rid_b", "w", "block_id")
    )
    return links, params
