"""Blocking: candidate-pair generation without materializing the cross product.

Reference analog: SparseComparisonSummary candidate indexing
(/root/reference/src/comparisonsummary.jl:326-410, README.md:160-183) — the
reference takes user-provided index lists; here blocking is first-class:

  * composite-key equi-self-join blocking (host/lang/source keys)
  * MinHash-LSH band blocking over shingled text (hand-rolled, deterministic)
  * explicit hot-key salting that caps block sizes (the scalable analog of
    iterative_bipartite_cluster2's size-capped re-clustering,
    /root/reference/src/clustering_functions.jl:390-489; where the reference
    warns on an unsplittable block (:465) we sub-split by salt, trading
    bounded recall for bounded executor memory)

All joins are equi-joins (shuffle hash / sort-merge with AQE skew handling);
never a theta cross-join. Pair orientation: id_a < id_b everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import text as T


def key_blocking(
    df: DataFrame,
    id_col: str,
    key_cols: list[str],
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-self-join on composite key -> candidate pairs (id_a < id_b).

    Emits one row per (pair, block); `block_key` is the string form of the
    composite key. Carry columns come through with _a/_b suffixes.
    """
    carry = carry_cols or []
    sel = [F.col(id_col).alias("_id"), *[F.col(c) for c in key_cols + carry]]
    base = df.select(*sel)
    a = base.select(
        F.col("_id").alias("id_a"),
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        *[F.col(k) for k in key_cols],
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    pairs = a.join(b, on=key_cols, how="inner").where(F.col("id_a") < F.col("id_b"))
    return pairs.withColumn(
        "block_key", F.concat_ws("|", *[F.col(k).cast("string") for k in key_cols])
    )


def lsh_blocking(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
    carry_cols: list[str] | None = None,
    max_bucket_rows: int | None = 1000,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band key.

    explode(bands) -> salt oversized buckets -> equi-self-join on
    (band key, salt) -> distinct pairs. The salt bounds degenerate band
    keys (see salt_buckets); buckets under max_bucket_rows are unaffected.
    """
    carry = carry_cols or []
    # hash-once: the md5 shingle pass runs exactly once per doc behind the
    # unique-id aggregate barrier; band keys are cheap affine transforms of
    # the hash array (same pattern as dedup.minhash_lsh_pairs)
    hashed = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"), *carry)
        .repartition(df.sparkSession.sparkContext.defaultParallelism * 2, "_id")
        .select(
            "_id",
            T.shingle_hashes(F.col("_t"), shingle_k).alias("_shh"),
            *carry,
        )
        .groupBy("_id")
        .agg(
            F.first("_shh").alias("_shh"),
            *[F.first(c).alias(c) for c in carry],
        )
        .localCheckpoint()  # shingle pass consumed 3x (hot-key agg + 2 sides)
    )
    banded = hashed.select(
        "_id",
        F.explode(
            F.array(
                *[
                    T.band_key_from_hashes(F.col("_shh"), band, rows_per_band)
                    for band in range(n_bands)
                ]
            )
        ).alias("band_key"),
        *carry,
    )
    banded = salt_buckets(banded, "band_key", "_id", max_bucket_rows)
    a = banded.select(
        F.col("_id").alias("id_a"),
        "band_key",
        "_bsalt",
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    b = banded.select(
        F.col("_id").alias("id_b"),
        "band_key",
        "_bsalt",
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    pairs = a.join(b, on=["band_key", "_bsalt"], how="inner").where(
        F.col("id_a") < F.col("id_b")
    )
    # A pair can collide in several bands: keep one row, the smallest band key
    # (deterministic), as its block_key.
    gcols = ["id_a", "id_b", *[f"{c}_a" for c in carry], *[f"{c}_b" for c in carry]]
    return (
        pairs.groupBy(*gcols)
        .agg(F.min("band_key").alias("block_key"))
        .select(*gcols, "block_key")
    )


def salt_hot_keys(
    df: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_block_rows: int,
) -> DataFrame:
    """Cap block sizes by salting hot composite keys.

    Adds `_salt` (0..n_salts-1, n_salts = ceil(block_rows / max_block_rows),
    deterministic per id) — include `_salt` in the blocking key to bound the
    per-block pair count at roughly max_block_rows^2. Members landing in
    different salt buckets are not compared (the explicit recall/memory
    trade the reference's unsplittable-block warning punts on).
    """
    sizes = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_block_rows"))
    out = df.join(F.broadcast(sizes), on=key_cols, how="left")
    n_salts = F.ceil(F.col("_block_rows") / F.lit(max_block_rows)).cast("int")
    return out.withColumn(
        "_salt",
        F.pmod(T.phash(F.col(id_col).cast("string")), n_salts).cast("int"),
    ).drop("_block_rows")


def salt_buckets(
    df: DataFrame, key_col: str, id_col: str, max_bucket_rows: int | None
) -> DataFrame:
    """Append `_bsalt`: a deterministic per-id salt that splits oversized
    equi-join buckets (band/chunk/sign-LSH keys). Joining on
    (key, _bsalt) bounds any bucket's self-join at ~max_bucket_rows^2
    pairs instead of n^2 on a degenerate key (empty text, boilerplate,
    zero vectors). Members landing in different salts of a hot bucket are
    not compared — bounded recall traded for bounded executor memory; use
    bucket_cap_stats for what got split (no silent truncation). Normal
    buckets (n <= cap) get salt 0, i.e. behavior is unchanged.

    Plan shape: a map-side-combined groupBy count finds the HOT keys only
    (cardinality bounded by total_rows / cap, tiny in practice), which are
    broadcast back — no full-data window shuffle. Equivalent to the
    window formulation the SQL twin uses (ceil(n/cap) = 1 -> salt 0 for
    every non-hot key)."""
    if max_bucket_rows is None:
        return df.withColumn("_bsalt", F.lit(0))
    hot = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_bucket_rows)
        .withColumn(
            "_nsalts",
            F.ceil(F.col("_n").cast("double") / F.lit(float(max_bucket_rows))),
        )
        .drop("_n")
    )
    return (
        df.join(F.broadcast(hot), on=key_col, how="left")
        .withColumn(
            "_bsalt",
            F.when(F.col("_nsalts").isNull(), F.lit(0))
            .otherwise(
                F.pmod(T.phash(F.col(id_col).cast("string")), F.col("_nsalts"))
            )
            .cast("int"),
        )
        .drop("_nsalts")
    )


def salt_buckets_sql(key_col: str, id_col: str, max_bucket_rows: int | None) -> str:
    """DuckDB twin of salt_buckets's `_bsalt` expression (phash is
    cross-engine; count/ceil are IEEE-identical; ids are non-negative so
    % == pmod)."""
    if max_bucket_rows is None:
        return "0"
    n = f"count(*) OVER (PARTITION BY {key_col})"
    n_salts = f"CAST(ceil(CAST({n} AS DOUBLE) / {max_bucket_rows}e0) AS BIGINT)"
    ph = T.phash_sql(f"CAST({id_col} AS VARCHAR)")
    return f"CAST({ph} % {n_salts} AS INT)"


def bucket_cap_stats(
    df: DataFrame, key_col: str, max_bucket_rows: int
) -> DataFrame:
    """Buckets above the cap and how many salts they were split into —
    the observability companion to salt_buckets."""
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") > max_bucket_rows)
        .withColumn(
            "n_salts",
            F.ceil(F.col("n_rows").cast("double") / F.lit(float(max_bucket_rows))),
        )
    )


def block_pair_stats(pairs: DataFrame) -> DataFrame:
    """Per-block candidate-pair counts (skew diagnostic; PosthocBlocks-style
    bookkeeping, /root/reference/src/posthocblocks.jl:89-116)."""
    return (
        pairs.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"))
    )


def blocking_quality(
    docs: DataFrame,
    id_col: str,
    schemes: list[tuple[str, ...]],
    truth_pairs: DataFrame,
) -> DataFrame:
    """-> one row per candidate blocking scheme: (scheme, n_blocks,
    n_candidate_pairs, n_true_pairs, n_true_coblocked, reduction_ratio,
    completeness) — the standard blocking evaluation (Christen 2012):
    reduction ratio = 1 - candidates/all-pairs, pairs completeness =
    fraction of ground-truth pairs the scheme keeps co-blocked.

    `truth_pairs` (id_a, id_b) comes from a blocking-INDEPENDENT source
    (the catalog uses the corpus-wide LSH-verified near-dup pairs), else
    completeness is trivially 1. Candidate-pair counts are computed from
    block sizes (sum of C(n,2) — one aggregation, NEVER a pair join), so
    evaluating a scheme at 100 TB costs a groupBy, not a blow-up; only
    the ground-truth pairs (small by construction) are ever joined."""
    n_docs_df = docs.agg(
        F.count(F.lit(1)).cast("long").alias("_n_docs")
    )
    # truth is typically an expensive upstream (the catalog feeds the full
    # LSH-verified near-dup pipeline) and is consumed once PER SCHEME —
    # materialize it once (the mutual_best double-consumption rule).
    truth_pairs = truth_pairs.select("id_a", "id_b").localCheckpoint()
    out = None
    for cols in schemes:
        label = "+".join(cols)
        blocks = docs.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
        cand = blocks.agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("n_cand"),
        )
        a = docs.select(F.col(id_col).alias("id_a"),
                        *[F.col(c).alias(f"_a_{c}") for c in cols])
        b = docs.select(F.col(id_col).alias("id_b"),
                        *[F.col(c).alias(f"_b_{c}") for c in cols])
        same = None
        for c in cols:
            eq = F.col(f"_a_{c}") == F.col(f"_b_{c}")
            same = eq if same is None else (same & eq)
        truth = (
            truth_pairs
            .join(a, on="id_a")
            .join(b, on="id_b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_true"),
                F.sum(F.when(same, 1).otherwise(0)).cast("long").alias("n_cob"),
            )
        )
        row = (
            cand.crossJoin(truth)
            .crossJoin(n_docs_df)
            .select(
                F.lit(label).alias("scheme"),
                "n_blocks",
                F.col("n_cand").alias("n_candidate_pairs"),
                F.col("n_true").alias("n_true_pairs"),
                F.col("n_cob").alias("n_true_coblocked"),
                (
                    F.lit(1.0)
                    - F.col("n_cand").cast("double")
                    / F.expr("_n_docs * (_n_docs - 1) div 2").cast("double")
                ).alias("reduction_ratio"),
                (
                    F.col("n_cob").cast("double")
                    / F.col("n_true").cast("double")
                ).alias("completeness"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def blocking_quality_sql(
    table: str,
    id_col: str,
    schemes: list[tuple[str, ...]],
    truth_sql: str,
) -> str:
    """DuckDB twin; `truth_sql` is a derived table with (id_a, id_b)."""
    parts = []
    for cols in schemes:
        label = "+".join(cols)
        key = ", ".join(cols)
        same = " AND ".join(f"a.{c} = b.{c}" for c in cols)
        parts.append(f"""
        SELECT '{label}' AS scheme,
               (SELECT CAST(count(*) AS BIGINT)
                FROM (SELECT 1 FROM {table} GROUP BY {key})) AS n_blocks,
               (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) FROM
                 (SELECT count(*) AS n FROM {table} GROUP BY {key}))
                 AS n_candidate_pairs,
               (SELECT CAST(count(*) AS BIGINT) FROM ({truth_sql}))
                 AS n_true_pairs,
               (SELECT CAST(count(*) AS BIGINT) FROM ({truth_sql}) t
                JOIN {table} a ON t.id_a = a.{id_col}
                JOIN {table} b ON t.id_b = b.{id_col}
                WHERE {same}) AS n_true_coblocked,
               1.0 - (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) FROM
                       (SELECT count(*) AS n FROM {table} GROUP BY {key}))
                       ::DOUBLE
                   / CAST((SELECT count(*) FROM {table})
                          * ((SELECT count(*) FROM {table}) - 1) // 2
                          AS DOUBLE) AS reduction_ratio,
               (SELECT CAST(count(*) AS BIGINT) FROM ({truth_sql}) t
                JOIN {table} a ON t.id_a = a.{id_col}
                JOIN {table} b ON t.id_b = b.{id_col}
                WHERE {same})::DOUBLE
                   / (SELECT CAST(count(*) AS BIGINT)
                      FROM ({truth_sql}))::DOUBLE AS completeness
        """)
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking (SNM)
# ---------------------------------------------------------------------------


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    window: int,
    bucket_len: int = 1,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): total-order
    the records by a sort key and emit every pair within a sliding window
    of `window` consecutive rows -> (id_a, id_b, gap, key_a, key_b) with
    id_a the lower-ranked endpoint and gap = rank distance (1..window-1).

    The classic complement to equi-key blocking: catches near-matches that
    key blocking splits (typo in the blocking key) because closeness in
    sort order, not key equality, drives candidate generation.

    Scale shape (the reason this is not one global row_number): a bare
    `row_number() OVER (ORDER BY key)` funnels the corpus through ONE
    partition. Instead the global rank is composed from (a) a within-bucket
    row_number partitioned by a `bucket_len`-char PREFIX of the key (prefix
    => bucket order is consistent with key order) and (b) per-bucket offsets
    from a tiny bucket-count aggregate (|buckets| rows; cumulative-summed on
    a single partition and broadcast back). The pair join is then an
    EQUI-join on rank: each row explodes `window-1` probe ranks
    (rank + 1 .. rank + window-1) and joins rank-to-rank — never a theta
    join, and AQE sees a uniformly keyed integer join. Keys must be ASCII
    (binary collation identical in Spark and DuckDB); total order is
    (key, id) so ties are deterministic.
    """
    base = df.select(F.col(id_col).alias("_id"), key.alias("_key")).withColumn(
        "_bucket", F.substring(F.col("_key"), 1, bucket_len)
    )
    wb = Window.partitionBy("_bucket").orderBy("_key", "_id")
    ranked = base.withColumn("_r", F.row_number().over(wb))
    counts = base.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    woff = (
        Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(woff), F.lit(0))
    ).select("_bucket", "_off")
    g = ranked.join(F.broadcast(offsets), on="_bucket").select(
        "_id", "_key", (F.col("_r") + F.col("_off")).alias("_grank")
    )
    probes = g.select(
        F.col("_id").alias("id_a"),
        F.col("_key").alias("key_a"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("gap"),
        (F.col("_grank") + F.col("gap")).alias("_grank"),
    )
    return probes.join(g, on="_grank").select(
        "id_a",
        F.col("_id").alias("id_b"),
        F.col("gap").cast("int").alias("gap"),
        "key_a",
        F.col("_key").alias("key_b"),
    )


def sorted_neighborhood_pairs_sql(
    table: str, id_col: str, key_sql: str, window: int
) -> str:
    """DuckDB twin: one global row_number (fine at oracle scale) + a rank
    band join — same (key, id) total order, same pair set."""
    return f"""
    WITH snm_base AS (SELECT {id_col} AS _id, {key_sql} AS _key FROM {table}),
    snm_r AS (SELECT _id, _key,
                     row_number() OVER (ORDER BY _key, _id) AS _grank
              FROM snm_base)
    SELECT a._id AS id_a, b._id AS id_b,
           CAST(b._grank - a._grank AS INT) AS gap,
           a._key AS key_a, b._key AS key_b
    FROM snm_r a JOIN snm_r b
      ON b._grank > a._grank AND b._grank <= a._grank + {window - 1}
    """


# ---------------------------------------------------------------------------
# meta-blocking (token blocking -> block graph -> weight pruning)
# ---------------------------------------------------------------------------


def meta_blocking_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_df: int = 40,
) -> DataFrame:
    """Token blocking + CBS meta-blocking (Papadakis et al., TKDE 2014):
    every distinct token is a block; candidate pairs are weighted by how
    many blocks they co-occur in (Common Blocks Scheme) and pruned by the
    Weighted Edge Pruning rule (keep weight >= global mean weight).
    -> (id_a, id_b, cbs) for surviving pairs.

    Big-data ER standard for schema-free/dirty sources where no curated
    blocking key exists (the web-page case): redundancy-positive blocks
    first, then the block graph is thinned before any comparator runs.

    Scale shape: block purging ([min_df, max_df] document frequency) both
    drops stopword mega-blocks (the skew) and BOUNDS every block's pair
    count at max_df^2 — no salting needed after the purge. The CBS weight
    is a map-side-combined pair-count aggregate; the WEP threshold is one
    scalar aggregate broadcast back (integer sum / count, division exact
    in both engines). No theta joins anywhere.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(T.tokens(F.col(text_col)))).alias("_tok"),
    )
    dfreq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    kept = toks.join(
        F.broadcast(
            dfreq.where(
                (F.col("_df") >= min_df) & (F.col("_df") <= max_df)
            ).select("_tok")
        ),
        on="_tok",
    )
    a = kept.select(F.col("_id").alias("id_a"), "_tok")
    b = kept.select(F.col("_id").alias("id_b"), "_tok")
    weighted = (
        a.join(b, on="_tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("cbs"))
    )
    thresh = weighted.agg(
        (
            F.sum("cbs").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("_mean")
    )
    return (
        weighted.crossJoin(F.broadcast(thresh))
        .where(F.col("cbs").cast("double") >= F.col("_mean"))
        .select("id_a", "id_b", "cbs")
    )


def meta_blocking_pairs_sql(
    table: str, id_col: str, text_col: str, min_df: int = 2, max_df: int = 40
) -> str:
    toks = T.tokens_sql(text_col)
    return f"""
    WITH mb_toks AS (
      SELECT {id_col} AS _id, unnest(list_distinct({toks})) AS _tok
      FROM {table}),
    mb_kept AS (
      SELECT _id, _tok FROM mb_toks
      WHERE _tok IN (SELECT _tok FROM mb_toks GROUP BY _tok
                     HAVING count(*) >= {min_df} AND count(*) <= {max_df})),
    mb_w AS (
      SELECT a._id AS id_a, b._id AS id_b, CAST(count(*) AS BIGINT) AS cbs
      FROM mb_kept a JOIN mb_kept b
        ON a._tok = b._tok AND a._id < b._id
      GROUP BY a._id, b._id)
    SELECT id_a, id_b, cbs FROM mb_w
    WHERE CAST(cbs AS DOUBLE) >=
          (SELECT CAST(sum(cbs) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           FROM mb_w)
    """


# ---------------------------------------------------------------------------
# Term-frequency-adjusted agreement weights (Winkler 1988)
# ---------------------------------------------------------------------------

LN2_MICRO = 693_147  # round(ln 2 * 1e6) — the one frozen scale literal


def tf_weighted_agreement_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    block_cols: tuple = ("lang", "source"),
    m: float = 0.95,
    cap_bits: int = 10,
    max_value_df: int = 200,
) -> DataFrame:
    """-> (id_a, id_b, value, df_v, n_docs, surprisal_bits, w_tf_micro):
    agreement pairs on a quasi-identifier `key`, weighted by VALUE-SPECIFIC
    frequency — Winkler's frequency-based matching (Winkler 1988; the
    term-frequency adjustment in modern FS engines): agreeing on a rare
    value ("Zbigniew") is far stronger match evidence than agreeing on a
    common one ("John"), which the reference's global per-field m/u
    weights (src/weight_functions.jl:159-173) cannot express.

    Complement of comparison_summary.value_specific_weights (the
    TWO-SOURCE A x B form with exact float u_v ratios): this is the
    SELF-dedup form and the scale path — hot values are DF-capped out
    before the join (the two-source form joins every agreeing pair), and
    the weight is the log-free integer quantization so it can be
    oracle-checked bit-strictly and summed with other micro weights.

    Log-free quantized form (repo invariant: no exp/log in oracle-checked
    columns): surprisal_bits = floor(log2(N / df(v))) computed as
    length(bin(N div df_v)) - 1 — pure integer/string ops with identical
    semantics in both engines — capped at `cap_bits` (the standard bound
    on the rarity boost; df=1 values otherwise dominate). The adjusted
    weight w_tf_micro = round(ln(m)*1e6) + surprisal_bits * 693147
    approximates 1e6 * ln(m * N / df_v) = 1e6 * ln(m / tf(v)) from below
    within one ln(2) quantum; (df_v, n_docs) are returned raw so library
    users can compute the exact float adjustment (same disposition as
    BM25: the no-log parity invariant keeps the float form library-level).

    100-TB notes: the self-join key IS (block, value), so per-value
    fan-out is inherent to "all agreeing pairs"; values more frequent
    than `max_value_df` are dropped BEFORE the join (an inner join against
    the kept-value dim), bounding per-key work at C(max_value_df, 2) —
    principled, not just protective: a value seen >200 times carries ~0
    adjustment and its agreements are exactly the uninformative ones
    (the containment_pairs stop-span precedent). The key projection is
    localCheckpoint'ed (consumed by the count, the dim aggregate, and
    both join sides); the kept-value dim broadcasts when small."""
    bcols = list(block_cols)
    keys = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            *[F.col(c) for c in bcols],
            key.alias("value"),
        )
        .where(F.col("value").isNotNull() & (F.col("value") != ""))
        .localCheckpoint()  # consumed by count, dim aggregate, join sides
    )
    n_docs = keys.count()
    vdim = (
        keys.groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("df_v"))
        .where(F.col("df_v") <= max_value_df)
        .withColumn(
            "surprisal_bits",
            F.expr(
                f"least(length(bin({n_docs} div df_v)) - 1, {cap_bits})"
            ).cast("long"),
        )
        .localCheckpoint()  # consumed by the gate count + the join
    )
    vdim_b = F.broadcast(vdim) if vdim.count() <= 2_000_000 else vdim
    kept = keys.join(vdim_b, on="value")  # inner: hot values never join
    a = kept.select(
        F.col("doc_id").alias("id_a"), *bcols, "value", "df_v",
        "surprisal_bits",
    )
    b = kept.select(F.col("doc_id").alias("id_b"), *bcols, "value")
    base_micro = _ln_micro(m)
    return (
        a.join(b, on=bcols + ["value"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "value", "df_v",
            F.lit(n_docs).cast("long").alias("n_docs"),
            "surprisal_bits",
            F.expr(
                f"CAST({base_micro} + surprisal_bits * {LN2_MICRO} "
                "AS BIGINT)"
            ).alias("w_tf_micro"),
        )
    )


def _ln_micro(x: float) -> int:
    """round(ln(x) * 1e6) as a frozen integer literal (Python-side log —
    the invariant bans log in ORACLE-CHECKED columns, not offline)."""
    import math

    return int(round(math.log(x) * 1_000_000))


def tf_weighted_agreement_pairs_sql(
    table: str,
    id_col: str,
    key_sql: str,
    block_cols: tuple = ("lang", "source"),
    m: float = 0.95,
    cap_bits: int = 10,
    max_value_df: int = 200,
) -> str:
    """Twin of tf_weighted_agreement_pairs. N is a scalar subquery over
    the keys CTE (static SQL; both engines count the same parquet)."""
    bc = ", ".join(block_cols)
    on = " AND ".join(f"a.{c} = b.{c}" for c in block_cols)
    base_micro = _ln_micro(m)
    return f"""
    WITH keys AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id, {bc}, {key_sql} AS value
      FROM {table}
      WHERE {key_sql} IS NOT NULL AND {key_sql} <> ''
    ),
    vdim AS MATERIALIZED (
      SELECT value, CAST(count(*) AS BIGINT) AS df_v,
             CAST(least(
               length(bin((SELECT count(*) FROM keys) // count(*))) - 1,
               {cap_bits}) AS BIGINT) AS surprisal_bits
      FROM keys GROUP BY value
      HAVING count(*) <= {max_value_df}
    ),
    kept AS (
      SELECT k.doc_id, {', '.join('k.' + c for c in block_cols)}, k.value,
             v.df_v, v.surprisal_bits
      FROM keys k JOIN vdim v USING (value)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.value, a.df_v,
           CAST((SELECT count(*) FROM keys) AS BIGINT) AS n_docs,
           a.surprisal_bits,
           CAST({base_micro} + a.surprisal_bits * {LN2_MICRO} AS BIGINT)
             AS w_tf_micro
    FROM kept a JOIN kept b ON {on} AND a.value = b.value
      AND a.doc_id < b.doc_id
    """


# ---------------------------------------------------------------------------
# Canopy clustering (McCallum-Nigam-Ungar 2000) — overlapping cheap-metric
# blocks for an expensive downstream comparator
# ---------------------------------------------------------------------------

# Portable total order for center selection: 60-bit md5 hex (lexicographic
# == numeric at fixed width) salted 'cn|', id tie-break appended; id parsed
# back from the tail (substr 17, 19). Non-negative ids assumed (repo-wide).
_CANOPY_KEY_SPARK = (
    "substring(md5(concat('cn|', CAST(node AS STRING))), 1, 15) || '|' "
    "|| lpad(CAST(node AS STRING), 19, '0')"
)
_CANOPY_KEY_DUCK = (
    "substr(md5('cn|' || CAST(node AS VARCHAR)), 1, 15) || '|' "
    "|| lpad(CAST(node AS VARCHAR), 19, '0')"
)


def canopy_clusters(
    edges: DataFrame,
    t_loose: int,
    t_tight: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    sim_col: str = "sim",
    rounds: int = 10,
) -> DataFrame:
    """-> (canopy, node, sim, assigned_round): OVERLAPPING canopies
    (McCallum, Nigam & Ungar, KDD 2000) from a cheap-similarity pair
    graph — the classic two-threshold blocking: an expensive comparator
    then runs only within canopies, and because membership uses the LOOSE
    threshold while pool-removal uses the TIGHT one, a record near two
    entities lands in BOTH canopies (what single-assignment blocking
    loses). sim is floor()ed onto the integer grid first (float sims like
    jac_pct otherwise hit the truncate-vs-round cast divergence between
    engines); t_loose <= floor(sim) joins a canopy, t_tight <= floor(sim)
    removes from the center pool; t_tight > t_loose.

    Synchronous deterministic variant (the kwikcluster contract): per
    round, every active node minimal in the portable hash+id key order
    among its active TIGHT-graph neighbors becomes a center (two centers
    are never tight-adjacent — each would need the smaller key); every
    active node loose-adjacent to a center joins that center's canopy
    (ALL of them — membership is overlapping, never an argmax); centers
    and their tight neighbors deactivate. Centers may join each other's
    canopies when loose-but-not-tight adjacent — the sequential
    algorithm's overlap, preserved. Fixed `rounds` with chained-CTE
    DuckDB replay; still-active leftovers exit as singleton canopies with
    assigned_round = -1 (every round retires at least the globally
    minimal active node, so leftovers mean rounds was set too small —
    pytest pins convergence on the fixture).

    Output size is bounded: each loose edge contributes at most one
    membership row per direction EVER (a node is a center in exactly one
    round, then leaves the pool), plus one self row per center
    (sim = -1 sentinel). Nothing quadratic beyond the input pair graph.

    100-TB notes: identical shape to kwikcluster — per round two
    node-keyed semi-joins per graph + one map-side MIN + an anti-join on
    |active| rows; both filtered adjacencies are localCheckpoint'ed once;
    the pair graph is never sorted or windowed. Reference analog: none
    (the reference takes user index lists, src/comparisonsummary.jl) —
    this is the canonical pre-LSH blocking its users had to hand-roll."""
    base = edges.select(
        F.col(id_a).cast("long").alias("src"),
        F.col(id_b).cast("long").alias("dst"),
        # floor BEFORE the integer cast: Spark's double->long truncates
        # while DuckDB's rounds — floor() is the one portable grid
        F.expr(f"CAST(floor({sim_col}) AS BIGINT)").alias("sim"),
    )
    sym = base.unionByName(
        base.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "sim"
        )
    )
    loose = sym.where(F.col("sim") >= t_loose).localCheckpoint()
    tight = loose.where(F.col("sim") >= t_tight).select(
        "src", "dst"
    ).localCheckpoint()
    act = (
        loose.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("k", F.expr(_CANOPY_KEY_SPARK))
        .localCheckpoint()
    )
    parts = []
    for r in range(1, rounds + 1):
        if act.count() == 0:
            break
        a_s = act.select(F.col("node").alias("src"))
        a_d = act.select(F.col("node").alias("dst"), F.col("k").alias("k_dst"))
        t_act = tight.join(a_s, "src").join(a_d, "dst")
        minnb = t_act.groupBy("src").agg(F.min("k_dst").alias("mk"))
        ctr = (
            act.join(minnb.withColumnRenamed("src", "node"), "node", "left")
            .where(F.col("mk").isNull() | (F.col("k") < F.col("mk")))
            .select("node")
            .localCheckpoint()  # consumed by mem, rem, self rows
        )
        mem = (
            loose.join(a_s, "src")
            .join(ctr.withColumnRenamed("node", "dst"), "dst")
            .select(
                F.col("dst").alias("canopy"),
                F.col("src").alias("node"),
                "sim",
                F.lit(r).cast("long").alias("assigned_round"),
            )
        )
        selfrows = ctr.select(
            F.col("node").alias("canopy"),
            "node",
            F.lit(-1).cast("long").alias("sim"),
            F.lit(r).cast("long").alias("assigned_round"),
        )
        rem = (
            tight.join(a_s, "src")
            .join(ctr.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"))
            .unionByName(ctr)
            .distinct()
        )
        parts.append(mem.unionByName(selfrows).localCheckpoint())
        act = act.join(rem, "node", "left_anti").localCheckpoint()
    leftover = act.select(
        F.col("node").alias("canopy"),
        "node",
        F.lit(-1).cast("long").alias("sim"),
        F.lit(-1).cast("long").alias("assigned_round"),
    )
    out = leftover
    for p in parts:
        out = out.unionByName(p)
    return out


def canopy_clusters_sql(
    edges_expr: str,
    t_loose: int,
    t_tight: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    sim_col: str = "sim",
    rounds: int = 10,
) -> str:
    """Twin of canopy_clusters: fixed-round chained-CTE replay, one CTE
    per round (as in the kwikcluster twin)."""
    ctes = [
        f"""base AS (
      SELECT CAST({id_a} AS BIGINT) AS src, CAST({id_b} AS BIGINT) AS dst,
             CAST(floor({sim_col}) AS BIGINT) AS sim
      FROM ({edges_expr})
    )""",
        f"""loose AS MATERIALIZED (
      SELECT src, dst, sim FROM (
        SELECT src, dst, sim FROM base
        UNION ALL SELECT dst AS src, src AS dst, sim FROM base)
      WHERE sim >= {t_loose}
    )""",
        f"""tight AS MATERIALIZED (
      SELECT src, dst FROM loose WHERE sim >= {t_tight}
    )""",
        f"""act0 AS MATERIALIZED (
      SELECT node, {_CANOPY_KEY_DUCK} AS k
      FROM (SELECT DISTINCT src AS node FROM loose)
    )""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""mnb{r} AS (
      SELECT e.src AS node, min(d.k) AS mk
      FROM tight e JOIN act{p} s ON e.src = s.node
                   JOIN act{p} d ON e.dst = d.node
      GROUP BY e.src
    )""")
        ctes.append(f"""ctr{r} AS MATERIALIZED (
      SELECT a.node
      FROM act{p} a LEFT JOIN mnb{r} m USING (node)
      WHERE m.mk IS NULL OR a.k < m.mk
    )""")
        ctes.append(f"""mem{r} AS MATERIALIZED (
      SELECT e.dst AS canopy, e.src AS node, e.sim,
             CAST({r} AS BIGINT) AS assigned_round
      FROM loose e JOIN act{p} s ON e.src = s.node
                   JOIN ctr{r} c ON e.dst = c.node
      UNION ALL
      SELECT node AS canopy, node, CAST(-1 AS BIGINT) AS sim,
             CAST({r} AS BIGINT) AS assigned_round
      FROM ctr{r}
    )""")
        ctes.append(f"""rem{r} AS (
      SELECT DISTINCT node FROM (
        SELECT e.src AS node
        FROM tight e JOIN act{p} s ON e.src = s.node
                     JOIN ctr{r} c ON e.dst = c.node
        UNION ALL SELECT node FROM ctr{r})
    )""")
        ctes.append(f"""act{r} AS MATERIALIZED (
      SELECT a.node, a.k
      FROM act{p} a LEFT JOIN rem{r} x USING (node)
      WHERE x.node IS NULL
    )""")
    unions = "\n      UNION ALL ".join(
        f"SELECT canopy, node, sim, assigned_round FROM mem{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(canopy AS BIGINT) AS canopy, CAST(node AS BIGINT) AS node,
           CAST(sim AS BIGINT) AS sim, assigned_round
    FROM (
      {unions}
      UNION ALL SELECT node AS canopy, node, CAST(-1 AS BIGINT) AS sim,
        CAST(-1 AS BIGINT) AS assigned_round FROM act{rounds}
    )
    """
    )


def select_blocking_rules(
    rule_masks: DataFrame, positives: DataFrame, bits: list[int]
) -> DataFrame:
    """Blocking-rule learning by greedy weighted set cover (the selection
    step behind Splink/Zingg-style "choose your blocking rules" tooling,
    over the same union-of-rules mask table as the coverage histogram).

    rule_masks: (id_a, id_b, rule_mask int) — one row per candidate pair,
    rule_mask = OR of the bits of every rule that generates the pair
    (id_a < id_b canonical). positives: (id_a, id_b) ground-truth matched
    pairs, same canonical order. bits: the rule bit values in play.

    Greedy: at each step pick the rule with the largest MARGINAL count of
    uncovered true pairs; ties broken by lower total candidate count
    (cheaper rule), then lower bit. Stops when no rule adds coverage.
    Returns (step, rule_bit, marginal_true_pairs, cumulative_true_pairs,
    rule_cost_pairs) — all integers, bit-strict across engines.

    Scale shape: everything distributed reduces to two tiny aggregates —
    a <=2^R-row histogram of rule_mask over the true pairs and an R-row
    cost table — and the greedy itself runs driver-side over those rows
    (R is single-digit in practice; the pair tables are never collected).
    """
    spark = rule_masks.sparkSession
    pm = positives.join(rule_masks, on=["id_a", "id_b"], how="left").select(
        F.coalesce(F.col("rule_mask"), F.lit(0)).alias("mask")
    )
    hist = {
        int(r["mask"]): int(r["n"])
        for r in pm.groupBy("mask").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # rule cost = total candidate pairs the rule generates (mask bit set)
    cost_rows = (
        rule_masks.select("rule_mask")
        .groupBy("rule_mask")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    costs = {
        b: sum(int(r["n"]) for r in cost_rows if int(r["rule_mask"]) & b)
        for b in bits
    }
    out = []
    chosen = 0
    cum = 0
    for step in range(1, len(bits) + 1):
        cands = []
        for b in sorted(bits):
            if b & chosen:
                continue
            gain = sum(
                n for m, n in hist.items() if (m & b) and not (m & chosen)
            )
            cands.append((-gain, costs[b], b))
        if not cands:
            break
        neg_gain, cost, bit = min(cands)
        if neg_gain == 0:
            break
        cum += -neg_gain
        out.append((step, bit, -neg_gain, cum, cost))
        chosen |= bit
    schema = (
        "step long, rule_bit long, marginal_true_pairs long, "
        "cumulative_true_pairs long, rule_cost_pairs long"
    )
    return spark.createDataFrame(out, schema)


def phonetic_blocking_pairs(
    df: DataFrame,
    id_col: str,
    name: Column,
    block_cols: list[str] | None = None,
    max_bucket_rows: int | None = 1000,
) -> DataFrame:
    """Phonetic blocking: candidate pairs sharing (block_cols...,
    simplified-Soundex key of `name`) — the classic misspelling-tolerant
    blocking family (soundex(surname) x region since Newcombe 1959;
    the reference takes such index lists as user input,
    /root/reference/src/comparisonsummary.jl:326-410).

    -> (id_a, id_b, block_key) with id_a < id_b, one row per pair (a
    pair meets in exactly one composite key, so no dedup pass is
    needed). Scale shape: the phonetic key is a pure Catalyst string
    expression evaluated once per RECORD (never per pair); the
    self-join is an equi-join on the composite key; hot keys (phonetic
    codes are a small alphabet — skew is structural, e.g. '000' for
    letterless names) are salt-split via salt_buckets, trading bounded
    recall for bounded executor memory, mirrored by the window form in
    the SQL twin."""
    bcols = list(block_cols or [])
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.concat_ws(
            "|", *[F.col(c).cast("string") for c in bcols],
            T.phonetic_key(name),
        ).alias("block_key"),
    )
    keyed = salt_buckets(keyed, "block_key", "_id", max_bucket_rows)
    a = keyed.select(
        F.col("_id").alias("id_a"), "block_key", "_bsalt"
    )
    b = keyed.select(
        F.col("_id").alias("id_b"), "block_key", "_bsalt"
    )
    return (
        a.join(b, on=["block_key", "_bsalt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "block_key")
    )


def phonetic_blocking_pairs_sql(
    table: str,
    id_col: str,
    name_sql: str,
    block_cols: list[str] | None = None,
    max_bucket_rows: int | None = 1000,
) -> str:
    """DuckDB twin of phonetic_blocking_pairs (window-form salt)."""
    bcols = list(block_cols or [])
    parts = [f"CAST({c} AS VARCHAR)" for c in bcols]
    parts.append(T.phonetic_key_sql(name_sql))
    key = "concat_ws('|', " + ", ".join(parts) + ")"
    salt = salt_buckets_sql("block_key", "_id", max_bucket_rows)
    return f"""
    SELECT a.id_a, b.id_b, a.block_key
    FROM (
      SELECT _id AS id_a, block_key, {salt} AS _bsalt
      FROM (SELECT CAST({id_col} AS BIGINT) AS _id, {key} AS block_key
            FROM {table})
    ) a JOIN (
      SELECT _id AS id_b, block_key, {salt} AS _bsalt
      FROM (SELECT CAST({id_col} AS BIGINT) AS _id, {key} AS block_key
            FROM {table})
    ) b ON a.block_key = b.block_key AND a._bsalt = b._bsalt
       AND a.id_a < b.id_b
    """
