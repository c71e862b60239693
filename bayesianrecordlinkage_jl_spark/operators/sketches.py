"""Sketches, bit-strict across engines: distinct-cardinality sketches over
k-word span hashes (HyperLogLog and KMV, k-minimum-values) and a Count-Min
token-frequency sketch.

Web-scale corpus telemetry runs on sketches, not exact distincts: "how many
distinct 8-word spans does each source contribute?" is the denominator of
dedup ratios and crawl-growth curves, and at 10^12 documents the exact
answer is a full shuffle of every span hash. Built-in approx_count_distinct
(Spark HLL++) and DuckDB's approx_count_distinct use different hash
functions and register encodings, so their outputs can never be
cross-checked. These sketches instead derive every register from the
repo's one cross-engine hash (phash = 15 hex chars of md5), keep ALL sketch
state in integers (order-independent sums -> partitioning-invariant and
oracle-able to the last bit), and apply the float estimator as a single
frozen-literal division (IEEE-identical in both engines).

HLL (m = 2^P registers):
  j   = h % m                      (register index: low P bits)
  w   = h div m                    (remaining HASH_BITS-P bits, independent of j)
  rho = trailing_zeros(w) + 1      (capped at RHO_CAP; w = 0 -> cap)
  M[j] = max rho                   (integer max -> order-independent)
  sum_fp = sum_j 2^(RHO_CAP - M[j])   with empty registers contributing
           2^RHO_CAP — an INTEGER <= m * 2^RHO_CAP (fits int64 comfortably)
  est = alpha_m * m^2 * 2^RHO_CAP / sum_fp
      = ALPHA_FP / sum_fp          (ALPHA_FP one frozen repr literal)

The trailing-zero rank replaces the textbook leading-zero rank (same
geometric distribution) because it is computable with pure integer ops:
lowest set bit via (w & -w), then an unrolled value-match CASE over the 52
possible powers of two — no log2, whose libm rounding differs across
engines. No small/large-range corrections (they need ln, banned from
oracle columns by the parity invariant); n_zero_regs is emitted so a
caller can apply linear counting themselves.

KMV: est = (KMV_K - 1) * 2^HASH_BITS / h_k where h_k is the k-th smallest
DISTINCT hash. The rank-window form compiles to Partial+Final
WindowGroupLimit, so each map partition ships at most k rows per group —
the honest streaming-KMV scale shape without a custom UDAF.

Scale shape overall: one explode + one map-side-combined (group, j) max
aggregate -> at most m rows per group cross the wire for HLL; KMV ships
<= k rows per group per map partition. Groups never need their raw span
sets anywhere."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import text as T

HASH_BITS = 60
P = 8
M_REG = 1 << P              # 256 registers
RHO_CAP = 50
W_BITS = HASH_BITS - P      # 52
KMV_K = 64
SPAN_K = 8

# alpha_256 * m^2 * 2^RHO_CAP, frozen as one literal (repr round-trips)
_ALPHA = 0.7213 / (1 + 1.079 / M_REG)
ALPHA_FP = _ALPHA * M_REG * M_REG * float(1 << RHO_CAP)
KMV_NUM = float(KMV_K - 1) * float(1 << HASH_BITS)


def _rho_case(w: str) -> str:
    """Engine-shared SQL: trailing_zeros(w)+1 capped at RHO_CAP (w=0 -> cap).
    Value-match CASE on the isolated lowest set bit — pure integer."""
    whens = " ".join(
        f"WHEN {1 << z} THEN {min(z + 1, RHO_CAP)}" for z in range(W_BITS)
    )
    return f"(CASE ({w} & (0 - {w})) {whens} ELSE {RHO_CAP} END)"


def _term_case(m: str) -> str:
    """Engine-shared SQL: 2^(RHO_CAP - M) for register value M in [1, RHO_CAP]."""
    whens = " ".join(
        f"WHEN {v} THEN {1 << (RHO_CAP - v)}" for v in range(1, RHO_CAP + 1)
    )
    return f"(CASE {m} {whens} ELSE 1 END)"


ALPHA_FP_SQL = f"CAST('{ALPHA_FP!r}' AS DOUBLE)"
KMV_NUM_SQL = f"CAST('{KMV_NUM!r}' AS DOUBLE)"


def _spans(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.transform(
                T.word_shingles(F.col(text_col), SPAN_K), lambda s: T.phash(s)
            )
        ).alias("h"),
    )


def span_cardinality_sketches(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """-> one row per group: (grp, n_spans, exact_distinct, hll_n_zero,
    hll_sum_fp, hll_est, kmv_hk, kmv_est). exact_distinct is included for
    calibration at test scale; at 100 TB a caller drops it (it is the one
    column that shuffles every distinct hash)."""
    spans = _spans(df, group_col, text_col).localCheckpoint()
    regs = (
        spans.withColumn("j", F.expr(f"h % {M_REG}"))
        .withColumn("rho", F.expr(_rho_case(f"(h div {M_REG})")))
        .groupBy("grp", "j")
        .agg(
            F.max("rho").alias("mreg"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    hll = regs.groupBy("grp").agg(
        F.sum("cnt").cast("long").alias("n_spans"),
        (F.lit(M_REG) - F.count(F.lit(1))).cast("int").alias("hll_n_zero"),
        (
            F.sum(F.expr(_term_case("mreg")))
            + (F.lit(M_REG) - F.count(F.lit(1)))
            * F.lit(1 << RHO_CAP).cast("long")
        )
        .cast("long")
        .alias("hll_sum_fp"),
    )
    dist = spans.select("grp", "h").distinct()
    exact = dist.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    w = Window.partitionBy("grp").orderBy(F.asc("h"))
    kmv = (
        dist.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == KMV_K)
        .select("grp", F.col("h").alias("kmv_hk"))
    )
    return (
        hll.join(exact, on="grp")
        .join(kmv, on="grp", how="left")
        .select(
            "grp",
            "n_spans",
            "exact_distinct",
            "hll_n_zero",
            "hll_sum_fp",
            (
                F.expr(f"CAST('{ALPHA_FP!r}' AS DOUBLE)")
                / F.col("hll_sum_fp").cast("double")
            ).alias("hll_est"),
            "kmv_hk",
            (
                F.expr(f"CAST('{KMV_NUM!r}' AS DOUBLE)")
                / F.col("kmv_hk").cast("double")
            ).alias("kmv_est"),
        )
    )


def span_cardinality_sketches_sql(
    table: str, group_col: str, text_col: str
) -> str:
    hashes = (
        f"list_transform({T.word_shingles_sql(text_col, SPAN_K)}, "
        f"s -> {T.phash_sql('s')})"
    )
    return f"""
    WITH spans AS MATERIALIZED (
      SELECT {group_col} AS grp, unnest({hashes}) AS h FROM {table}
    ),
    regs AS (
      SELECT grp, h % {M_REG} AS j,
             max({_rho_case(f"(h // {M_REG})")}) AS mreg,
             CAST(count(*) AS BIGINT) AS cnt
      FROM spans GROUP BY grp, h % {M_REG}
    ),
    hll AS (
      SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_spans,
             CAST({M_REG} - count(*) AS INT) AS hll_n_zero,
             CAST(sum({_term_case("mreg")})
                  + ({M_REG} - count(*)) * {1 << RHO_CAP} AS BIGINT)
               AS hll_sum_fp
      FROM regs GROUP BY grp
    ),
    dist AS (SELECT DISTINCT grp, h FROM spans),
    exact AS (SELECT grp, CAST(count(*) AS BIGINT) AS exact_distinct
              FROM dist GROUP BY grp),
    kmv AS (
      SELECT grp, h AS kmv_hk FROM (
        SELECT grp, h, row_number() OVER
                 (PARTITION BY grp ORDER BY h ASC) AS _r
        FROM dist) WHERE _r = {KMV_K}
    )
    SELECT hll.grp, n_spans, exact_distinct, hll_n_zero, hll_sum_fp,
           {ALPHA_FP_SQL} / CAST(hll_sum_fp AS DOUBLE) AS hll_est,
           kmv_hk,
           {KMV_NUM_SQL} / CAST(kmv_hk AS DOUBLE) AS kmv_est
    FROM hll
    JOIN exact ON hll.grp = exact.grp
    LEFT JOIN kmv ON hll.grp = kmv.grp
    """


# ---------------------------------------------------------------------------
# Count-Min sketch: token frequency estimation / heavy hitters
# ---------------------------------------------------------------------------

CM_DEPTH = 4      # independent hash rows
CM_WIDTH = 256    # counters per row
CM_HH_MIN = 200   # heavy-hitter report threshold (estimated occurrences)


def countmin_counters(
    df: DataFrame, text_col: str, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """-> (row, col, counter): the depth x width Count-Min sketch of token
    OCCURRENCES (Cormode & Muthukrishnan 2005) over the corpus.

    Pure integer state: counter(r, c) = sum of occurrences of every token
    whose row-r hash lands in column c (hash = phash('cm{r}:' || token) %
    width — the repo's one cross-engine hash), so the sketch is
    order-independent, partitioning-invariant, and bit-strict across
    engines. Scale shape: tokenize once, pre-aggregate per (doc-partition)
    token counts map-side, then ONE map-side-combined (row, col) sum —
    depth*width rows total cross the wire regardless of corpus size; this
    is the mergeable-sketch property (counters from shards add)."""
    occ = df.select(
        F.explode(T.tokens(F.col(text_col))).alias("_tok")
    ).groupBy("_tok").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    rows = [
        occ.select(
            F.lit(r).alias("row"),
            F.pmod(
                T.phash(F.concat(F.lit(f"cm{r}:"), F.col("_tok"))), F.lit(width)
            ).cast("int").alias("col"),
            "_n",
        )
        for r in range(depth)
    ]
    un = rows[0]
    for x in rows[1:]:
        un = un.unionByName(x)
    return un.groupBy("row", "col").agg(
        F.sum("_n").cast("long").alias("counter")
    )


def countmin_heavy_hitters(
    df: DataFrame,
    text_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    hh_min: int = CM_HH_MIN,
) -> DataFrame:
    """-> (token, n_exact, cm_est) for tokens whose Count-Min estimate
    (min over rows of the probed counter) reaches hh_min.

    cm_est >= n_exact always (CM never underestimates); both are emitted
    so the overestimate from column collisions is observable. The probe
    side joins the DISTINCT-token table to the (depth x width)-row counter
    table — the counters are a broadcast literal-sized dim at any corpus
    scale; false positives (n_exact < hh_min <= cm_est) are part of the
    operator's documented semantics, exactly the CM guarantee."""
    counters = countmin_counters(df, text_col, depth, width)
    toks = df.select(
        F.explode(T.tokens(F.col(text_col))).alias("token")
    ).groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    probes = toks.select(
        "token",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        F.pmod(
                            T.phash(
                                F.concat(F.lit(f"cm{r}:"), F.col("token"))
                            ),
                            F.lit(width),
                        ).cast("int").alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_p"),
    ).select("token", "n_exact", F.col("_p.row").alias("row"), F.col("_p.col").alias("col"))
    est = (
        probes.join(F.broadcast(counters), on=["row", "col"])
        .groupBy("token", "n_exact")
        .agg(F.min("counter").cast("long").alias("cm_est"))
    )
    return est.where(F.col("cm_est") >= hh_min)


def _cm_col_sql(tok: str, r: int, width: int) -> str:
    h = T.phash_sql(f"'cm{r}:' || {tok}")
    return f"({h} % {width})"


def countmin_heavy_hitters_sql(
    table: str,
    text_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    hh_min: int = CM_HH_MIN,
) -> str:
    toks = T.tokens_sql(text_col)
    probe_rows = " UNION ALL ".join(
        f"SELECT _tok, _n, {r} AS row, CAST({_cm_col_sql('_tok', r, width)} AS INT) AS col FROM cm_occ"
        for r in range(depth)
    )
    return f"""
    WITH cm_raw AS (SELECT unnest({toks}) AS _tok FROM {table}),
    cm_occ AS (SELECT _tok, CAST(count(*) AS BIGINT) AS _n
               FROM cm_raw GROUP BY _tok),
    cm_probe AS ({probe_rows}),
    cm_counters AS (SELECT row, col, CAST(sum(_n) AS BIGINT) AS counter
                    FROM cm_probe GROUP BY row, col)
    SELECT _tok AS token, _n AS n_exact,
           CAST(min(c.counter) AS BIGINT) AS cm_est
    FROM cm_probe p JOIN cm_counters c ON p.row = c.row AND p.col = c.col
    GROUP BY _tok, _n
    HAVING min(c.counter) >= {hh_min}
    """
