"""Training-corpus curation operators (beyond the reference — the stages a
web-scale LLM-data pipeline runs AFTER near-dup pair detection):

  - near_dup_clusters_keep: near-dup pairs -> transitive clusters ->
    canonical representative per cluster (the "which copy do we keep"
    step that turns pair detection into an actually deduplicated corpus).
  - duplicated_span_stats: per-document duplicated k-word-span profile —
    the relational form of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a span is
    duplicated iff its content hash occurs in at least one OTHER document.
  - hash splits, repetition statistics, benchmark and train/test
    decontamination, per-source frequency caps, sequence packing and the
    curation pipeline that chains them; longest duplicated span, the
    exact-substring rewrite, per-group language profile and exact
    quantiles.

Reference analog: none (BayesianRecordLinkage.jl stops at entity
clusters); these compose the repo's own LSH/CC machinery
(operators/dedup.py, operators/connected_components.py) into corpus ops.

Scale notes (100 TB):
  - cluster keep: the only non-LSH shuffles are the CC rounds (large-star/
    small-star over |near-dup edges|) and one struct-MAX aggregate keyed by
    component — |docs| rows of (component, len, id), never the pair graph
    (the mutual_best lesson).
  - span stats: shuffles are keyed by the 60-bit span hash (near-uniform);
    per-key fan-out of the docs-per-gram join is bounded by document
    frequency, with the hot side pre-aggregated to one row per
    (gram, doc) — no quadratic blowup on boilerplate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import text as T
from .connected_components import components_with_isolated
from .dedup import _spread, minhash_lsh_pairs, minhash_lsh_pairs_sql


# ---------------------------------------------------------------------------
# near-dup cluster canonicalization
# ---------------------------------------------------------------------------


def near_dup_clusters_keep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    len_col: str,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """-> (doc_id, rep_id, keep boolean, cluster_size bigint), one row per
    document. Documents are clustered by the transitive closure of the
    MinHash-LSH near-dup graph (isolated docs form singleton clusters);
    each cluster keeps its LONGEST document (len_col desc, id asc
    tie-break — a total order, so the choice is partitioning-invariant).

    The representative is a struct-MAX aggregate keyed by component
    (partial aggregation combines map-side; the shuffle carries |docs|
    rows, never the pair graph)."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n_bands, rows_per_band, shingle_k
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    nodes = df.select(
        F.col(id_col).cast("long").alias("node"),
        F.col(len_col).cast("long").alias("_len"),
    )
    comps = components_with_isolated(edges, nodes.select("node"))
    # comps is backed by CC's localCheckpoint (and own-id for isolates), so
    # consuming `labeled` twice re-runs only a cheap scan+join, not the LSH.
    labeled = comps.join(nodes, on="node")
    reps = (
        labeled.groupBy("component")
        .agg(
            F.max(
                F.struct(F.col("_len"), (-F.col("node")).alias("_nid"))
            ).alias("_m"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select(
            "component",
            (-F.col("_m._nid")).cast("long").alias("rep_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )
    return labeled.join(reps, on="component").select(
        F.col("node").alias("doc_id"),
        "rep_id",
        (F.col("node") == F.col("rep_id")).alias("keep"),
        "cluster_size",
    )


def near_dup_clusters_keep_sql(
    table: str,
    id_col: str,
    text_col: str,
    len_col: str,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> str:
    pairs = minhash_lsh_pairs_sql(
        table, id_col, text_col, n_bands, rows_per_band, shingle_k
    )
    return f"""
    WITH RECURSIVE jp AS MATERIALIZED ({pairs}),
    nodes AS (SELECT CAST({id_col} AS BIGINT) AS node,
                     CAST({len_col} AS BIGINT) AS _len FROM {table}),
    bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM jp
         UNION ALL SELECT id_b AS a, id_a AS b FROM jp),
    walk(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT bi.b, walk.comp FROM walk JOIN bi ON bi.a = walk.node
      WHERE walk.comp < bi.b
    ),
    cc AS MATERIALIZED (SELECT node, min(comp) AS component
                        FROM walk GROUP BY node),
    ranked AS (
      SELECT cc.node, cc.component, n._len,
             row_number() OVER (PARTITION BY cc.component
                                ORDER BY n._len DESC, cc.node ASC) AS _rn,
             count(*) OVER (PARTITION BY cc.component) AS _csize
      FROM cc JOIN nodes n ON n.node = cc.node
    ),
    reps AS (SELECT component, node AS rep_id, _csize FROM ranked
             WHERE _rn = 1)
    SELECT cc.node AS doc_id, reps.rep_id, cc.node = reps.rep_id AS keep,
           CAST(reps._csize AS BIGINT) AS cluster_size
    FROM cc JOIN reps ON reps.component = cc.component
    """


# ---------------------------------------------------------------------------
# duplicated-span statistics (exact-substring dedup, relational form)
# ---------------------------------------------------------------------------


def duplicated_span_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """-> (doc_id, n_grams bigint, dup_grams bigint, dup_frac double), one
    row per document. A k-word span (position) counts as duplicated iff
    its 60-bit content hash (functions.text.phash of the space-joined
    window) occurs in at least one OTHER document — within-document
    repetition alone is not duplication.

    Tokenize/shingle/md5 runs ONCE per document behind a unique-key
    aggregate barrier (the minhash_lsh_pairs pattern) and is
    localCheckpoint'ed: the per-(gram, doc) occurrence table is consumed
    by both the document-frequency aggregate and the join back."""
    hashed = (
        _spread(df, id_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.transform(
                T.word_shingles(F.col(text_col), k), lambda s: T.phash(s)
            ).alias("_gh"),
        )
        .groupBy("doc_id")
        .agg(F.first("_gh").alias("_gh"))
        .localCheckpoint()
    )
    per_gram_doc = (
        hashed.select(
            "doc_id",
            F.size("_gh").cast("long").alias("n_grams"),
            F.explode("_gh").alias("gh"),
        )
        .groupBy("gh", "doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("_occ"))
    )
    gram_docs = per_gram_doc.groupBy("gh").agg(
        F.count(F.lit(1)).alias("_ndocs")
    )
    return (
        per_gram_doc.join(gram_docs, on="gh")
        .groupBy("doc_id", "n_grams")
        .agg(
            F.sum(
                F.when(F.col("_ndocs") >= 2, F.col("_occ")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("dup_grams")
        )
        .select(
            "doc_id",
            "n_grams",
            "dup_grams",
            (
                F.col("dup_grams").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_frac"),
        )
    )


def duplicated_span_stats_sql(
    table: str, id_col: str, text_col: str, k: int = 8
) -> str:
    grams = (
        f"list_transform({T.word_shingles_sql(text_col, k)}, "
        f"s -> {T.phash_sql('s')})"
    )
    return f"""
    WITH hashed AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id, {grams} AS _gh FROM {table}
    ),
    occ AS (SELECT doc_id, CAST(len(_gh) AS BIGINT) AS n_grams,
                   unnest(_gh) AS gh FROM hashed),
    pgd AS (SELECT gh, doc_id, n_grams, count(*) AS _occ
            FROM occ GROUP BY gh, doc_id, n_grams),
    gd AS (SELECT gh, count(*) AS _ndocs FROM pgd GROUP BY gh)
    SELECT doc_id, n_grams,
           CAST(sum(CASE WHEN _ndocs >= 2 THEN _occ ELSE 0 END) AS BIGINT)
             AS dup_grams,
           CAST(CAST(sum(CASE WHEN _ndocs >= 2 THEN _occ ELSE 0 END)
                     AS BIGINT) AS DOUBLE)
             / CAST(n_grams AS DOUBLE) AS dup_frac
    FROM pgd JOIN gd USING (gh) GROUP BY doc_id, n_grams
    """


def split_column(id_col: str, splits: dict[str, int], salt: str = "split"):
    """The split-name Column as a pure per-row function of the id (shared
    by hash_split and any operator that filters by split without a join)."""
    total = sum(splits.values())
    expr = None
    lo = 0
    bucket = T.phash(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))) % total
    for name, w in splits.items():
        cond = bucket < F.lit(lo + w)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo += w
    return expr


def split_case_sql(id_col: str, splits: dict[str, int], salt: str = "split") -> str:
    total = sum(splits.values())
    bucket = T.phash_sql(f"'{salt}:' || CAST({id_col} AS VARCHAR)") + f" % {total}"
    cases = []
    lo = 0
    for name, w in splits.items():
        cases.append(f"WHEN ({bucket}) < {lo + w} THEN '{name}'")
        lo += w
    return f"CASE {' '.join(cases)} END"


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, int],
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: -> (doc_id, split string).
    Buckets = phash(salt || id) mod sum(weights); each named split owns a
    contiguous weight range, so assignment is a pure per-row function of
    the id — stable across runs, partitionings and engines (phash is the
    shared 60-bit md5 hash), and growing the corpus never reassigns an
    existing id. splits e.g. {"train": 98, "val": 1, "test": 1}."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        split_column(id_col, splits, salt).alias("split"),
    )


def hash_split_sql(
    table: str, id_col: str, splits: dict[str, int], salt: str = "split"
) -> str:
    return f"""
    SELECT CAST({id_col} AS BIGINT) AS doc_id,
           {split_case_sql(id_col, splits, salt)} AS split
    FROM {table}
    """


def ngram_repetition_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 2
) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText-style
    quality filter, Rae et al. 2021 §A1.1): -> (doc_id, n_tokens bigint,
    n_grams bigint, dup_gram_frac double, top_gram_frac double).

      - dup_gram_frac: fraction of k-gram POSITIONS whose k-gram occurs
        more than once in the SAME document (cf. "duplicate n-gram
        fraction");
      - top_gram_frac: occurrences of the document's most frequent k-gram
        over all k-gram positions (cf. "top n-gram fraction").

    Unlike duplicated_span_stats (cross-document), this is purely
    intra-document: tokenize/shingle/hash once per doc behind the
    aggregate barrier, explode, and aggregate per (doc, gram) then per
    doc — shuffles are keyed by (doc, 60-bit gram hash), so hot grams
    cannot skew a single reducer across documents."""
    hashed = (
        _spread(df, id_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            T.token_count(F.col(text_col)).alias("n_tokens"),
            F.transform(
                T.word_shingles(F.col(text_col), k), lambda s: T.phash(s)
            ).alias("_gh"),
        )
        .groupBy("doc_id")
        .agg(F.first("n_tokens").alias("n_tokens"), F.first("_gh").alias("_gh"))
    )
    per_gram = (
        hashed.select(
            "doc_id",
            "n_tokens",
            F.size("_gh").cast("long").alias("n_grams"),
            F.explode("_gh").alias("gh"),
        )
        .groupBy("doc_id", "n_tokens", "n_grams", "gh")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return (
        per_gram.groupBy("doc_id", "n_tokens", "n_grams")
        .agg(
            F.sum(
                F.when(F.col("_cnt") >= 2, F.col("_cnt")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("_dup_pos"),
            F.max("_cnt").cast("long").alias("_top_cnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            (
                F.col("_dup_pos").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_gram_frac"),
            (
                F.col("_top_cnt").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("top_gram_frac"),
        )
    )


def ngram_repetition_stats_sql(
    table: str, id_col: str, text_col: str, k: int = 2
) -> str:
    grams = (
        f"list_transform({T.word_shingles_sql(text_col, k)}, "
        f"s -> {T.phash_sql('s')})"
    )
    return f"""
    WITH hashed AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id,
             {T.token_count_sql(text_col)} AS n_tokens, {grams} AS _gh
      FROM {table}
    ),
    per_gram AS (
      SELECT doc_id, n_tokens, n_grams, gh, count(*) AS _cnt FROM (
        SELECT doc_id, n_tokens, CAST(len(_gh) AS BIGINT) AS n_grams,
               unnest(_gh) AS gh FROM hashed
      ) GROUP BY doc_id, n_tokens, n_grams, gh
    )
    SELECT doc_id, n_tokens, n_grams,
           CAST(CAST(sum(CASE WHEN _cnt >= 2 THEN _cnt ELSE 0 END) AS BIGINT)
                AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_gram_frac,
           CAST(CAST(max(_cnt) AS BIGINT) AS DOUBLE)
             / CAST(n_grams AS DOUBLE) AS top_gram_frac
    FROM per_gram GROUP BY doc_id, n_tokens, n_grams
    """


def contamination_flags(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    k: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: -> (doc_id, n_hits bigint, contaminated
    boolean), one row per CORPUS document. A hit is a k-word span
    (position) in the corpus doc whose content hash also occurs in ANY
    benchmark document; docs with >= min_hits hits are flagged (the
    standard n-gram-overlap test-set decontamination rule, e.g. GPT-3
    appendix C / Lee et al. 2022).

    Semantics are pure content overlap: any shared span flags, including
    a doc matching itself when it is present in both inputs (exclude
    benchmark ids from the corpus upstream if that is not wanted).

    Scale shape: both sides hash spans once per document behind an
    aggregate barrier; the benchmark's DISTINCT span-hash set is
    typically tiny relative to the corpus (test sets are small), so the
    probe is an equi-join on the 60-bit hash that AQE turns into a
    broadcast when it fits — the corpus explode never shuffles more than
    (doc_id, hash) rows either way."""

    def _span_hashes(df: DataFrame, idc: str, tc: str) -> DataFrame:
        return (
            _spread(df, idc)
            .select(
                F.col(idc).cast("long").alias("doc_id"),
                F.transform(
                    T.word_shingles(F.col(tc), k), lambda s: T.phash(s)
                ).alias("_gh"),
            )
            .groupBy("doc_id")
            .agg(F.first("_gh").alias("_gh"))
        )

    bench_set = (
        _span_hashes(benchmark, bench_id_col, bench_text_col)
        .select(F.explode("_gh").alias("gh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_spans = _span_hashes(corpus, id_col, text_col).select(
        "doc_id", F.explode("_gh").alias("gh")
    )
    return (
        corpus_spans.join(bench_set, on="gh", how="left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            (F.col("n_hits") >= min_hits).alias("contaminated"),
        )
    )


def contamination_flags_sql(
    table: str,
    id_col: str,
    text_col: str,
    bench_filter: str,
    k: int = 8,
    min_hits: int = 1,
    corpus_filter: str = "TRUE",
) -> str:
    """DuckDB twin for the catalog case where the benchmark set is a
    static filter over the same table (and, optionally, the flagged
    corpus is another static filter — the split-decontamination case)."""
    grams = (
        f"list_transform({T.word_shingles_sql(text_col, k)}, "
        f"s -> {T.phash_sql('s')})"
    )
    return f"""
    WITH hashed AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id, {grams} AS _gh,
             ({bench_filter}) AS _is_bench, ({corpus_filter}) AS _is_corpus
      FROM {table}
    ),
    bench_set AS (SELECT DISTINCT unnest(_gh) AS gh FROM hashed
                  WHERE _is_bench),
    corpus_spans AS (SELECT doc_id, unnest(_gh) AS gh FROM hashed
                     WHERE _is_corpus),
    hits AS (
      SELECT c.doc_id,
             CAST(sum(CASE WHEN b.gh IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_hits
      FROM corpus_spans c LEFT JOIN bench_set b ON b.gh = c.gh
      GROUP BY c.doc_id
    )
    SELECT doc_id, n_hits, n_hits >= {min_hits} AS contaminated FROM hits
    """


# ---------------------------------------------------------------------------
# per-key frequency capping (domain cap)
# ---------------------------------------------------------------------------


def frequency_cap(
    df: DataFrame,
    id_col: str,
    key_col: str,
    cap: int,
    salt: str = "cap",
) -> DataFrame:
    """Per-key frequency capping (the C4/RefinedWeb "domain cap": keep at
    most `cap` documents per host/source so hot domains cannot dominate
    the corpus): -> (doc_id, key, rank int), the SURVIVING rows only.

    Selection is a pure function of the id: within a key, docs are ranked
    by (phash(salt || id) asc, doc_id asc) — a deterministic shuffle, so
    the kept subset is stable across runs, partitionings and engines, and
    is an unbiased uniform sample of the key's docs.

    Scale shape: the rank<=cap filter over row_number() is rewritten by
    Spark (InferWindowGroupLimit, 3.5+) into a WindowGroupLimit that
    drops rows PARTIAL/map-side before the shuffle — a Zipf-hot key ships
    at most `cap` rows per input partition instead of its full row set
    (plan shape pinned in tests/test_plans.py)."""
    h = T.phash(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("key").orderBy(F.asc("_h"), F.asc("doc_id"))
    return (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(key_col).alias("key"),
            h.alias("_h"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= cap)
        .select("doc_id", "key", "rank")
    )


def frequency_cap_sql(
    table: str, id_col: str, key_col: str, cap: int, salt: str = "cap"
) -> str:
    h = T.phash_sql(f"'{salt}:' || CAST({id_col} AS VARCHAR)")
    return f"""
    SELECT doc_id, key, rank FROM (
      SELECT CAST({id_col} AS BIGINT) AS doc_id, {key_col} AS key,
             CAST(row_number() OVER (
               PARTITION BY {key_col}
               ORDER BY {h} ASC, CAST({id_col} AS BIGINT) ASC
             ) AS INT) AS rank
      FROM {table}
    ) WHERE rank <= {cap}
    """


# ---------------------------------------------------------------------------
# sequence packing (fixed token-budget training windows)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    budget: int,
    n_buckets: int = 8,
    salt: str = "pack",
    group_col: str | None = None,
) -> DataFrame:
    """Greedy sequence packing for LLM training (fill fixed context
    windows with whole documents, Raffel et al. 2020 §2.3 / Krell et al.
    2021): -> (doc_id, bucket int, seq_id bigint, offset bigint), one row
    per document.

    Packing a whole corpus is inherently sequential, so the scale shape
    is hash-sharded independence: each doc goes to one of `n_buckets`
    packers (bucket = phash(salt||id) % n_buckets — at 100 TB set
    n_buckets ~ cores so every packer's doc list fits an executor);
    within a bucket, docs are visited in (phash, doc_id) order — a
    deterministic shuffle — and appended to the current sequence while
    the running fill + len <= budget, else a new sequence starts. A doc
    longer than `budget` occupies a sequence alone (never truncated).
    seq_id = bucket * 2^40 + per-bucket sequence index; offset is the
    doc's token offset inside its sequence.

    With `group_col` set (e.g. a train/val/test split), packers are keyed
    by (group, bucket) so sequences never mix groups; seq_id is then
    unique WITHIN a group — (group, seq_id) is the global key — and the
    group column rides through to the output.

    The per-bucket scan is one applyInPandas pass (Arrow batch in, one
    sequential numpy-array walk — the irreducibly serial part of packing,
    bounded by bucket size and parallel across buckets); everything
    upstream and downstream stays relational. Oracle twin: per-bucket
    recursive CTE replaying the same greedy rule row-by-row."""
    import numpy as np
    import pandas as pd

    h = T.phash(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    cols = [
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(len_col).cast("long").alias("_len"),
        h.alias("_h"),
        (h % n_buckets).cast("int").alias("bucket"),
    ]
    if group_col is not None:
        cols.append(F.col(group_col).cast("string").alias(group_col))
    prepared = df.select(*cols)
    out_schema = "doc_id long, bucket int, seq_id long, offset long"
    if group_col is not None:
        out_schema += f", {group_col} string"
    budget_i = int(budget)
    gcol = group_col

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_h", "doc_id"], ignore_index=True)
        lens = pdf["_len"].to_numpy(dtype=np.int64)
        seqs = np.empty(len(pdf), dtype=np.int64)
        offs = np.empty(len(pdf), dtype=np.int64)
        seq, fill = 0, None
        for i, ln in enumerate(lens):
            if fill is not None and fill + ln <= budget_i:
                offs[i] = fill
                fill += ln
            else:
                if fill is not None:
                    seq += 1
                offs[i] = 0
                fill = ln
            seqs[i] = seq
        bucket = int(pdf["bucket"].iloc[0]) if len(pdf) else 0
        out = {
            "doc_id": pdf["doc_id"],
            "bucket": np.int32(bucket),
            "seq_id": (bucket << 40) + seqs,
            "offset": offs,
        }
        if gcol is not None:
            out[gcol] = pdf[gcol]
        return pd.DataFrame(out)

    keys = ["bucket"] if group_col is None else [group_col, "bucket"]
    return prepared.groupBy(*keys).applyInPandas(_pack, out_schema)


def pack_sequences_sql(
    table: str,
    id_col: str,
    len_col: str,
    budget: int,
    n_buckets: int = 8,
    salt: str = "pack",
    group_col: str | None = None,
) -> str:
    """DuckDB twin: the greedy scan as a per-bucket recursive CTE — each
    iteration advances every (group,) bucket by one row (rn -> rn+1),
    carrying (seq, fill) state; depth = max rows per bucket. NB the
    recursive member uses UNION ALL (linear recursion, one new row per
    bucket per step — the repo's WITH RECURSIVE dedup trap does not
    apply because rows are unique by construction)."""
    h = T.phash_sql(f"'{salt}:' || CAST({id_col} AS VARCHAR)")
    gsel = f", CAST({group_col} AS VARCHAR) AS _grp" if group_col else ""
    gpart = f"CAST({group_col} AS VARCHAR), " if group_col else ""
    gw = ", _grp" if group_col else ""
    gjoin = " AND o._grp = w._grp" if group_col else ""
    gout = f", w._grp AS {group_col}" if group_col else ""
    return f"""
    WITH RECURSIVE ordered AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id,
             CAST({len_col} AS BIGINT) AS _len,
             CAST(({h}) % {n_buckets} AS INT) AS bucket{gsel},
             row_number() OVER (
               PARTITION BY {gpart}({h}) % {n_buckets}
               ORDER BY {h} ASC, CAST({id_col} AS BIGINT) ASC
             ) AS rn
      FROM {table}
    ),
    walk(bucket, rn, doc_id, seq, fill{gw}) AS (
      SELECT bucket, rn, doc_id, CAST(0 AS BIGINT) AS seq, _len AS fill{gw}
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.bucket, o.rn, o.doc_id,
             CASE WHEN w.fill + o._len <= {int(budget)}
                  THEN w.seq ELSE w.seq + 1 END,
             CASE WHEN w.fill + o._len <= {int(budget)}
                  THEN w.fill + o._len ELSE o._len END{
               ', o._grp' if group_col else ''}
      FROM walk w JOIN ordered o
        ON o.bucket = w.bucket AND o.rn = w.rn + 1{gjoin}
    )
    SELECT w.doc_id, w.bucket,
           (CAST(w.bucket AS BIGINT) * 1099511627776) + w.seq AS seq_id,
           w.fill - o._len AS offset{gout}
    FROM walk w JOIN ordered o
      ON o.bucket = w.bucket AND o.rn = w.rn{gjoin}
    """


# ---------------------------------------------------------------------------
# end-to-end curation pipeline: documents in -> packed training windows out
# ---------------------------------------------------------------------------


def curation_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    q_min: float = 0.5,
    rep_max: float = 0.125,
    rep_k: int = 2,
    cap: int = 15,
    splits: dict[str, int] | None = None,
    budget: int = 256,
    n_buckets: int = 4,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """The whole training-data curation flow as ONE relational pipeline —
    raw documents in, packed training windows out:

      1. quality gate: quality_score >= q_min AND within-doc duplicate
         k-gram fraction <= rep_max (Gopher-style filters);
      2. near-dup dedup: MinHash-LSH clusters, keep the longest doc per
         cluster;
      3. domain cap: at most `cap` survivors per source
         (deterministic-hash uniform keep);
      4. split: hash-bucketed train/val/test;
      5. pack: greedy whole-doc packing into `budget`-token windows,
         grouped by split so sequences never mix splits.

    -> (doc_id, split, seq_id, offset), one row per document that
    survives the gates; (split, seq_id, offset) addresses its slot in
    the packed corpus. All thresholds are dyadic so the whole pipeline
    is bit-portable (oracle twin composes the per-stage SQL twins).

    Scale notes: the gated working set is localCheckpoint'ed because
    three consumers read it (the LSH cluster pass and two id joins) —
    the mutual_best double-consumption lesson; every later stage is a
    pure function of (id, n_tokens, source), so nothing re-reads text
    after stage 2."""
    splits = splits or {"train": 98, "val": 1, "test": 1}
    rep = ngram_repetition_stats(df, id_col, text_col, k=rep_k)
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("_text"),
        F.col(source_col).alias("_source"),
        T.quality_score(F.col(text_col)).alias("_q"),
    )
    gated = (
        base.join(rep.select("doc_id", "n_tokens", "dup_gram_frac"), on="doc_id")
        .where((F.col("_q") >= F.lit(q_min)) & (F.col("dup_gram_frac") <= F.lit(rep_max)))
        .select("doc_id", "_text", "_source", "n_tokens")
        .localCheckpoint()
    )
    keepers = near_dup_clusters_keep(
        gated, "doc_id", "_text", "n_tokens", n_bands, rows_per_band, shingle_k
    ).where("keep").select("doc_id")
    survivors = gated.join(keepers, on="doc_id")
    capped = frequency_cap(survivors, "doc_id", "_source", cap).select("doc_id")
    kept = survivors.join(capped, on="doc_id")
    split = hash_split(kept, "doc_id", splits)
    packin = kept.select("doc_id", "n_tokens").join(split, on="doc_id")
    return pack_sequences(
        packin, "doc_id", "n_tokens", budget, n_buckets, group_col="split"
    ).select("doc_id", "split", "seq_id", "offset")


def curation_pipeline_sql(
    table: str,
    id_col: str,
    text_col: str,
    source_col: str,
    q_min: float = 0.5,
    rep_max: float = 0.125,
    rep_k: int = 2,
    cap: int = 15,
    splits: dict[str, int] | None = None,
    budget: int = 256,
    n_buckets: int = 4,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> str:
    """DuckDB twin: composes the per-stage SQL twins — each stage's full
    statement (own WITH RECURSIVE where needed) rides as a parenthesized
    subquery inside one outer WITH, so no recursive blocks merge (the
    repo's WITH RECURSIVE dedup trap stays contained per stage)."""
    splits = splits or {"train": 98, "val": 1, "test": 1}
    rep = ngram_repetition_stats_sql(table, id_col, text_col, k=rep_k)
    q = T.quality_score_sql(f"d.{text_col}")
    ck = near_dup_clusters_keep_sql(
        "gated", "doc_id", "_text", "n_tokens", n_bands, rows_per_band, shingle_k
    )
    capsql = frequency_cap_sql("surv", "doc_id", "_source", cap)
    spsql = hash_split_sql("kept", "doc_id", splits)
    packsql = pack_sequences_sql(
        "packin", "doc_id", "n_tokens", budget, n_buckets, group_col="split"
    )
    return f"""
    WITH gated AS MATERIALIZED (
      SELECT CAST(d.{id_col} AS BIGINT) AS doc_id, d.{text_col} AS _text,
             d.{source_col} AS _source, r.n_tokens
      FROM {table} d JOIN ({rep}) r ON r.doc_id = CAST(d.{id_col} AS BIGINT)
      WHERE ({q}) >= {q_min!r}e0 AND r.dup_gram_frac <= {rep_max!r}e0
    ),
    keepers AS MATERIALIZED (
      SELECT doc_id FROM ({ck}) WHERE keep
    ),
    surv AS MATERIALIZED (
      SELECT g.* FROM gated g JOIN keepers USING (doc_id)
    ),
    capped AS (SELECT doc_id FROM ({capsql})),
    kept AS MATERIALIZED (
      SELECT s.* FROM surv s JOIN capped USING (doc_id)
    ),
    sp AS ({spsql}),
    packin AS (
      SELECT k.doc_id, k.n_tokens, sp.split
      FROM kept k JOIN sp USING (doc_id)
    )
    SELECT doc_id, split, seq_id, "offset" FROM ({packsql})
    """


# ---------------------------------------------------------------------------
# train/test split decontamination (leakage check across hash splits)
# ---------------------------------------------------------------------------


def split_decontamination(
    df: DataFrame,
    id_col: str,
    text_col: str,
    splits: dict[str, int],
    train: str = "train",
    test: str = "test",
    k: int = 8,
    min_hits: int = 1,
    salt: str = "split",
) -> DataFrame:
    """-> (doc_id, n_hits bigint, contaminated boolean), one row per TRAIN
    document: flags training documents that share a k-word span with any
    held-out TEST document under the deterministic hash split — the
    leakage audit run after splitting, before training.

    Split membership is the pure per-row split_column function (no join
    against a split table), so the whole operator is contamination_flags
    over two filters of one scan."""
    labeled = _spread(df, id_col).withColumn(
        "_split", split_column(id_col, splits, salt)
    )
    return contamination_flags(
        labeled.where(F.col("_split") == train), id_col, text_col,
        labeled.where(F.col("_split") == test), id_col, text_col,
        k=k, min_hits=min_hits,
    )


def split_decontamination_sql(
    table: str,
    id_col: str,
    text_col: str,
    splits: dict[str, int],
    train: str = "train",
    test: str = "test",
    k: int = 8,
    min_hits: int = 1,
    salt: str = "split",
) -> str:
    case = split_case_sql(id_col, splits, salt)
    return contamination_flags_sql(
        table, id_col, text_col,
        bench_filter=f"({case}) = '{test}'",
        k=k, min_hits=min_hits,
        corpus_filter=f"({case}) = '{train}'",
    )

# ---------------------------------------------------------------------------
# longest duplicated span (gaps-and-islands over duplicated shingle runs)
# ---------------------------------------------------------------------------


def longest_dup_span(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """-> (doc_id, n_grams bigint, max_run bigint, max_dup_words bigint):
    per document, the LONGEST run of consecutive duplicated k-word shingle
    positions — the "longest duplicated substring" signal of exact-substring
    dedup (Lee et al. 2022 cut documents at long duplicated spans; the run
    length r of overlapping duplicated k-grams covers r + k - 1 words).
    A position is duplicated iff its shingle hash occurs in at least one
    OTHER document (duplicated_span_stats semantics); docs with no
    duplicated position report max_run = max_dup_words = 0.

    Plan shape: the island grouping is the classic gaps-and-islands
    rewrite — idx - row_number() over (doc, idx-order) is constant within
    a consecutive run — so the whole operator is two window-free hash
    aggregations plus ONE window partitioned by doc_id (per-partition
    work bounded by document length, never corpus-wide). The hashed
    position table is localCheckpoint'ed (consumed by the doc-frequency
    aggregate AND the island pass)."""
    hashed = (
        _spread(df, id_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.transform(
                T.word_shingles(F.col(text_col), k), lambda s: T.phash(s)
            ).alias("_gh"),
        )
        .groupBy("doc_id")
        .agg(F.first("_gh").alias("_gh"))
    )
    pos = (
        hashed.select(
            "doc_id",
            F.size("_gh").cast("long").alias("n_grams"),
            F.posexplode("_gh").alias("_i0", "gh"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("_i0") + 1).cast("long").alias("idx"),
            "gh",
        )
        .localCheckpoint()
    )
    dup_hashes = (
        pos.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
        .where(F.col("_ndocs") >= 2)
        .select("gh")
    )
    dup_pos = pos.join(dup_hashes, on="gh", how="left_semi")
    w = Window.partitionBy("doc_id").orderBy(F.asc("idx"))
    runs = (
        dup_pos.withColumn("_isl", F.col("idx") - F.row_number().over(w))
        .groupBy("doc_id", "_isl")
        .agg(F.count(F.lit(1)).cast("long").alias("_run"))
        .groupBy("doc_id")
        .agg(F.max("_run").cast("long").alias("max_run"))
    )
    base = pos.select("doc_id", "n_grams").distinct()
    return base.join(runs, on="doc_id", how="left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("max_run"), F.lit(0)).cast("long").alias("max_run"),
        F.when(
            F.col("max_run").isNotNull(), F.col("max_run") + (k - 1)
        ).otherwise(F.lit(0)).cast("long").alias("max_dup_words"),
    )


def longest_dup_span_sql(
    table: str, id_col: str, text_col: str, k: int = 8
) -> str:
    grams = (
        f"list_transform({T.word_shingles_sql(text_col, k)}, "
        f"s -> {T.phash_sql('s')})"
    )
    return f"""
    WITH hashed AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id, {grams} AS _gh FROM {table}
    ),
    pos AS MATERIALIZED (
      SELECT doc_id, CAST(len(_gh) AS BIGINT) AS n_grams,
             CAST(i AS BIGINT) AS idx, _gh[i] AS gh
      FROM hashed, unnest(range(1, len(_gh) + 1)) AS u(i)
    ),
    duph AS (
      SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM pos)
      GROUP BY gh HAVING count(*) >= 2
    ),
    islands AS (
      SELECT doc_id,
             idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx)
               AS _isl
      FROM pos WHERE gh IN (SELECT gh FROM duph)
    ),
    runs AS (
      SELECT doc_id, CAST(max(_run) AS BIGINT) AS max_run FROM (
        SELECT doc_id, _isl, count(*) AS _run
        FROM islands GROUP BY doc_id, _isl
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_grams,
           CAST(coalesce(r.max_run, 0) AS BIGINT) AS max_run,
           CAST(CASE WHEN r.max_run IS NOT NULL THEN r.max_run + {k - 1}
                     ELSE 0 END AS BIGINT) AS max_dup_words
    FROM (SELECT DISTINCT doc_id, n_grams FROM pos) b
    LEFT JOIN runs r ON b.doc_id = r.doc_id
    """


# ---------------------------------------------------------------------------
# per-group language profile (Simpson concentration — log-free diversity)
# ---------------------------------------------------------------------------


def group_language_profile(
    df: DataFrame, group_col: str, lang_col: str
) -> DataFrame:
    """-> (grp, n_docs bigint, n_langs bigint, top_lang string,
    top_lang_docs bigint, simpson double): per-group language mix — the
    crawl-curation signal for "is this host monolingual or a content
    farm". `simpson` is the Simpson concentration index
    sum_l (n_l / n)^2, computed as ONE exact-integer division
    (sum of squared counts over n^2) so it is bit-portable — the log-free
    stand-in for entropy (repo invariant bans exp/log in oracle columns).
    Ties on top_lang break lexicographically (total order).

    Scale shape: one (grp, lang) hash aggregate (map-side combined), then
    per-group folds over the tiny (grp, lang) table — the corpus is
    touched once."""
    by_lang = (
        df.select(F.col(group_col).alias("grp"), F.col(lang_col).alias("_l"))
        .groupBy("grp", "_l")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("_c"), F.asc("_l"))
    top = (
        by_lang.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "grp",
            F.col("_l").alias("top_lang"),
            F.col("_c").alias("top_lang_docs"),
        )
    )
    agg = by_lang.groupBy("grp").agg(
        F.sum("_c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_sumsq"),
    )
    return agg.join(top, on="grp").select(
        "grp",
        "n_docs",
        "n_langs",
        "top_lang",
        "top_lang_docs",
        (
            F.col("_sumsq").cast("double")
            / (F.col("n_docs") * F.col("n_docs")).cast("double")
        ).alias("simpson"),
    )


def group_language_profile_sql(
    table_expr: str, group_col: str, lang_col: str
) -> str:
    return f"""
    WITH by_lang AS (
      SELECT {group_col} AS grp, {lang_col} AS _l,
             CAST(count(*) AS BIGINT) AS _c
      FROM {table_expr} GROUP BY 1, 2
    ),
    top AS (
      SELECT grp, _l AS top_lang, _c AS top_lang_docs FROM (
        SELECT grp, _l, _c,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY _c DESC, _l ASC) AS _rn
        FROM by_lang
      ) WHERE _rn = 1
    ),
    agg AS (
      SELECT grp, CAST(sum(_c) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(sum(_c * _c) AS BIGINT) AS _sumsq
      FROM by_lang GROUP BY grp
    )
    SELECT agg.grp, n_docs, n_langs, top_lang, top_lang_docs,
           CAST(_sumsq AS DOUBLE)
             / CAST(n_docs * n_docs AS DOUBLE) AS simpson
    FROM agg JOIN top ON agg.grp = top.grp
    """


# ---------------------------------------------------------------------------
# Exact group quantiles (corpus profiling)
# ---------------------------------------------------------------------------

QUANTILES = (25, 50, 75, 90, 99)


def exact_group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    qs: tuple = QUANTILES,
) -> DataFrame:
    """-> one row per group: (group..., n, vmin, vmax, q<p> for each p):
    EXACT rank-based percentiles of an integer column — the corpus-
    telemetry profile (length/token-count distributions per language or
    source) that drives curation thresholds. Quantile definition:
    q_p = value at rank ceil(n * p / 100) (1-indexed, values ascending) —
    the value at a rank is deterministic even under duplicate values
    (ties carry equal values), so outputs are bit-strict integers.

    Cross-engine trap this avoids: Spark's approx_percentile and DuckDB's
    quantile use different sketches/interpolation and can never be
    value-compared; rank selection is the only portable exact form.
    NULL values are dropped before ranking IN BOTH EMITTERS (n counts
    non-null values only) — Spark windows sort NULLS FIRST while DuckDB's
    row_number defaults NULLS LAST, so any NULL admitted to the rank
    would silently shift every quantile across engines.

    Scale shape: one window sort per group (rank needs a total order —
    the inherent cost of EXACT quantiles; groups here are coarse lang/
    source buckets, so each sort is a per-group parallel range sort) plus
    a map-side-combined group aggregate. For sketch-budget profiling at
    extreme scale use span_cardinality_sketches/countmin instead; this op
    is the exact calibration pass."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(F.col("_v").asc())
    vals = df.select(
        *group_cols, F.col(value_col).cast("long").alias("_v")
    ).where(F.col("_v").isNotNull())
    sized = vals.withColumn("_rn", F.row_number().over(w))
    counts = (
        vals.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    j = sized.join(counts, on=list(group_cols))
    aggs = [
        F.max("n").cast("long").alias("n"),
        F.min("_v").cast("long").alias("vmin"),
        F.max("_v").cast("long").alias("vmax"),
    ]
    for p in qs:
        aggs.append(
            F.max(
                F.when(
                    F.col("_rn") == F.expr(f"(n * {p} + 99) div 100"),
                    F.col("_v"),
                )
            ).cast("long").alias(f"q{p}")
        )
    return j.groupBy(*group_cols).agg(*aggs)


def exact_group_quantiles_sql(
    table: str,
    group_cols: list[str],
    value_col: str,
    qs: tuple = QUANTILES,
) -> str:
    """Twin of exact_group_quantiles (same rank rule, integer ceil)."""
    gc = ", ".join(group_cols)
    qsel = ",\n           ".join(
        f"CAST(max(CASE WHEN _rn = (n * {p} + 99) // 100 THEN _v END) "
        f"AS BIGINT) AS q{p}"
        for p in qs
    )
    return f"""
    WITH vals AS (
      SELECT {gc}, CAST({value_col} AS BIGINT) AS _v
      FROM {table} WHERE {value_col} IS NOT NULL
    ),
    sized AS (
      SELECT {gc}, _v,
             row_number() OVER (PARTITION BY {gc} ORDER BY _v ASC) AS _rn
      FROM vals
    ),
    counts AS (
      SELECT {gc}, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY {gc}
    )
    SELECT {gc},
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(_v) AS BIGINT) AS vmin,
           CAST(max(_v) AS BIGINT) AS vmax,
           {qsel}
    FROM sized JOIN counts USING ({gc})
    GROUP BY {gc}
    """


# ---------------------------------------------------------------------------
# exact-substring dedup REWRITE (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the removal half; duplicated_span_
# stats above is the measurement half)
# ---------------------------------------------------------------------------

# combined (doc_id, start) order key: start < 2^20 tokens per document
# (a 1M-token doc would need re-sharding long before this bound matters)
_CKEY_SHIFT = 1 << 20


def span_rewrite(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """-> (doc_id, n_tokens, n_removed, new_text): every k-word span whose
    content hash occurs >= 2 times in the corpus (within-doc repeats count,
    per Lee et al.'s any-second-occurrence rule) is removed from all
    occurrences EXCEPT the global first (min (doc_id, start) — total
    order); `new_text` is the surviving token stream joined by single
    spaces. The rewrite operates on the tokenized stream (same lowercase/
    punct-split normalization the span hashes use), so `new_text` of an
    untouched document is its normalized token join, not the raw bytes.

    When duplicated spans overlap, the union of their removal windows is
    cut — so a canonical occurrence can still lose tokens to a DIFFERENT
    overlapping duplicated span (documented one-pass behavior; an exact
    all-but-first guarantee would need sequential suffix-array passes).

    Scale shape: tokenize/shingle/md5 runs ONCE per document behind a
    unique-key aggregate barrier and is localCheckpoint'ed (three
    consumers: span occurrences, token rows, final row base); the span
    aggregate is map-side combinable on the 60-bit hash; removal fan-out
    is bounded by k tokens per duplicated occurrence; no document ever
    joins another document — the corpus is never self-joined."""
    hashed = (
        _spread(df, id_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            T.tokens(F.col(text_col)).alias("_toks"),
            F.transform(
                T.word_shingles(F.col(text_col), k), lambda s: T.phash(s)
            ).alias("_gh"),
        )
        .groupBy("doc_id")
        .agg(F.first("_toks").alias("_toks"), F.first("_gh").alias("_gh"))
        .localCheckpoint()
    )
    occ = hashed.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.posexplode("_gh").alias("_p0", "gh"),
    ).select(
        "doc_id", "n_tokens", "gh",
        (F.col("_p0") + 1).cast("long").alias("start"),
    )
    ckey = F.col("doc_id") * _CKEY_SHIFT + F.col("start")
    grams = occ.groupBy("gh").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min(ckey).alias("_ck")
    )
    removed = (
        occ.join(grams, on="gh")
        .where(
            (F.col("_cnt") >= 2)
            & (ckey != F.col("_ck"))
            & (F.col("n_tokens") >= F.col("start"))
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("start"),
                    F.least(F.col("start") + (k - 1), F.col("n_tokens")),
                )
            ).alias("pos"),
        )
        .distinct()
    )
    tok_rows = hashed.select(
        "doc_id", F.posexplode("_toks").alias("_p0", "tok")
    ).select("doc_id", (F.col("_p0") + 1).cast("long").alias("pos"), "tok")
    rebuilt = (
        tok_rows.join(removed, on=["doc_id", "pos"], how="left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("new_text"),
        )
    )
    return (
        hashed.select(
            "doc_id", F.size("_toks").cast("long").alias("n_tokens")
        )
        .join(rebuilt, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("new_text"), F.lit("")).alias("new_text"),
        )
    )


def span_rewrite_sql(
    table: str, id_col: str, text_col: str, k: int = 8
) -> str:
    """Twin of span_rewrite (same hash, order key, and union-of-windows
    removal rule; string_agg ORDER BY pos = the sorted-struct join)."""
    grams = (
        f"list_transform({T.word_shingles_sql(text_col, k)}, "
        f"s -> {T.phash_sql('s')})"
    )
    return f"""
    WITH srh AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id,
             {T.tokens_sql(text_col)} AS _toks, {grams} AS _gh
      FROM {table}
    ),
    socc AS MATERIALIZED (
      SELECT doc_id, CAST(len(_toks) AS BIGINT) AS n_tokens,
             CAST(_gh[i] AS BIGINT) AS gh, CAST(i AS BIGINT) AS start
      FROM srh, unnest(range(1, len(_gh) + 1)) AS u(i)
    ),
    sgr AS (
      SELECT gh, count(*) AS _cnt,
             min(doc_id * {_CKEY_SHIFT} + start) AS _ck
      FROM socc GROUP BY gh
    ),
    srem AS (
      SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
      FROM (
        SELECT o.doc_id, o.start, o.n_tokens
        FROM socc o JOIN sgr g USING (gh)
        WHERE g._cnt >= 2
          AND o.doc_id * {_CKEY_SHIFT} + o.start != g._ck
          AND o.n_tokens >= o.start
      ), unnest(range(start, least(start + {k - 1}, n_tokens) + 1)) AS u(p)
    ),
    strow AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, _toks[i] AS tok
      FROM srh, unnest(range(1, len(_toks) + 1)) AS u(i)
    ),
    srebuilt AS (
      SELECT doc_id, count(*) AS _n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS new_text
      FROM strow ANTI JOIN srem USING (doc_id, pos)
      GROUP BY doc_id
    )
    SELECT h.doc_id, CAST(len(h._toks) AS BIGINT) AS n_tokens,
           CAST(len(h._toks) - coalesce(r._n_kept, 0) AS BIGINT)
             AS n_removed,
           coalesce(r.new_text, '') AS new_text
    FROM srh h LEFT JOIN srebuilt r USING (doc_id)
    """
