"""Temporal join operators: as-of join, banded range join, hypertable
rollup. The reference has no time axis (person records); these are the
event-stream companions a web-scale linkage pipeline needs around its
crawl/event tables (TESTDATA `events`), built the way Spark lacks natively
but can express scalably.

`asof_join` — for every LEFT event, the most recent RIGHT event at or
before it (per key). The naive formulation is a range join (quadratic
inside a key, and Catalyst plans theta joins as nested loops). The scale
path here is the classic union+carry-forward: union both sides with a
side tag, ONE window per key ordered by the total order
(ts, side, event_id) with `last(value, ignore nulls)` over
ROWS UNBOUNDED PRECEDING..CURRENT ROW, then keep the left rows. Cost:
one shuffle on the key, O(n log n) per key, no pair blow-up — at 100 TB
this is a single sort-based window, the same shape Flink/kdb use for
as-of. RIGHT rows sort BEFORE left rows at equal ts (side 0 < 1), so a
same-timestamp right row IS visible to the left row (<= semantics); ties
among right rows resolve to the largest event_id — a total order, so the
result is partitioning-invariant. All carried columns come from the same
last right row because every right row is non-null in all carried
columns and the frame order is shared.

`range_join` — all (left, right) pairs within |t_r - t_l| <= delta per
key. The naive theta join is a nested loop; the scale path buckets time
by delta and equi-joins: LEFT rows explode to buckets {b-1, b, b+1},
RIGHT rows keep bucket b, join on (key, bucket), then the exact |dt| <=
delta filter. Each qualifying pair joins on EXACTLY ONE bucket (the
right row's own), so no dedup pass is needed. Cost: 3x left fan-out, one
equi shuffle — no quadratic term unless a (key, delta-window) is itself
hot, which is data skew the salting story already covers upstream.

`hypertable_rollup` — multi-grain time rollup ((day, type) -> (day) ->
()) in ONE pass via GROUP BY ROLLUP, the hypertable continuous-aggregate
shape. Spark plans rollup as a single Expand + hash aggregate: the fact
table is read once for all grains. Float sums at the coarse grains would
sum thousands of doubles in partitioning-dependent order, so the value
aggregate is integer cents (floor(value*100 + 0.5) per row, then BIGINT
sums) — exact, order-free, bit-identical across engines; the grain id
derives from rollup NULL markers, not engine-specific GROUPING_ID.

Oracle twins: `asof_join_sql` is the SAME window-union form (DuckDB
last_value IGNORE NULLS with the identical frame + total order);
`range_join_sql` is the plain theta join (sound at fixture scale, the
point is value parity with the banded plan); `hypertable_rollup_sql` is
DuckDB's GROUP BY ROLLUP. Epoch arithmetic is integer microseconds on
both sides (Spark unix_micros / DuckDB epoch_us).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

US = 1_000_000


def _epoch_us(col: str) -> Column:
    """Integer microseconds since epoch for a TIMESTAMP_NTZ column —
    TZ-free by construction (parquet naive timestamps read as NTZ in
    Spark 4; unix_micros would force a session-TZ cast). Matches DuckDB
    epoch_us on the same naive values exactly."""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" {col})"
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    id_col: str,
    carry_cols: list[str],
) -> DataFrame:
    """Most-recent-right-at-or-before per left row. Returns the left rows
    (id, key, ts) plus, for each c in carry_cols, `asof_<c>` (NULL when no
    right row precedes) and `asof_gap_us` (left ts - right ts, BIGINT
    micros, NULL likewise). Requires right rows non-null in ts/id/carry
    columns; ties: same-ts right rows visible, largest right id wins."""
    lc = left.select(
        F.col(key).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),
        F.col(id_col).alias("_id"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_c_{c}")
          for c in carry_cols],
        F.lit(None).cast("long").alias("_rts"),
    )
    rc = right.select(
        F.col(key).alias("_k"),
        F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(id_col).alias("_id"),
        *[F.col(c).alias(f"_c_{c}") for c in carry_cols],
        _epoch_us(ts_col).alias("_rts"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = lc.unionByName(rc)
    carried = u.select(
        "_k", "_ts", "_side", "_id",
        *[F.last(f"_c_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
          for c in carry_cols],
        F.last("_rts", ignorenulls=True).over(w).alias("_last_rts"),
    )
    return carried.where(F.col("_side") == 1).select(
        F.col("_id").alias(id_col),
        F.col("_k").alias(key),
        F.col("_ts").alias(ts_col),
        *[F.col(f"asof_{c}") for c in carry_cols],
        (_epoch_us("_ts") - F.col("_last_rts")).alias("asof_gap_us"),
    )


def asof_join_sql(
    left_sql: str,
    right_sql: str,
    key: str,
    ts_col: str,
    id_col: str,
    carry_cols: list[str],
    carry_types: list[str],
) -> str:
    """DuckDB twin of asof_join: identical union + window-carry form
    (NOT DuckDB's ASOF JOIN syntax — same algorithm, same total order,
    so doubles carry through untouched and parity is structural)."""
    lnulls = ", ".join(
        f"CAST(NULL AS {t}) AS _c_{c}" for c, t in zip(carry_cols, carry_types)
    )
    rcarry = ", ".join(f"{c} AS _c_{c}" for c in carry_cols)
    frame = (
        f"OVER (PARTITION BY _k ORDER BY _ts, _side, _id "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    picks = ", ".join(
        f"last_value(_c_{c} IGNORE NULLS) {frame} AS asof_{c}"
        for c in carry_cols
    )
    return f"""
    WITH lrows AS (SELECT {key} AS _k, {ts_col} AS _ts, 1 AS _side,
                          {id_col} AS _id, {lnulls},
                          CAST(NULL AS BIGINT) AS _rts
                   FROM ({left_sql})),
    rrows AS (SELECT {key} AS _k, {ts_col} AS _ts, 0 AS _side,
                     {id_col} AS _id, {rcarry},
                     epoch_us({ts_col}) AS _rts
              FROM ({right_sql})),
    u AS (SELECT * FROM lrows UNION ALL SELECT * FROM rrows),
    carried AS (SELECT _k, _ts, _side, _id, {picks},
                       last_value(_rts IGNORE NULLS) {frame} AS _last_rts
                FROM u)
    SELECT _id AS {id_col}, _k AS {key}, _ts AS {ts_col},
           {", ".join(f"asof_{c}" for c in carry_cols)},
           epoch_us(_ts) - _last_rts AS asof_gap_us
    FROM carried WHERE _side = 1
    """


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    id_col: str,
    delta_s: int,
) -> DataFrame:
    """All same-key pairs within |t_r - t_l| <= delta_s seconds, as a
    bucketed EQUI join (never a theta/nested-loop plan). Returns
    (key, id_l, id_r, gap_us = right epoch - left epoch, signed)."""
    dus = delta_s * US
    lb = left.select(
        F.col(key).alias("_k"),
        F.col(id_col).alias("id_l"),
        _epoch_us(ts_col).alias("_tl"),
    )
    # left rows fan out to the 3 buckets a qualifying right row can be in
    lb = lb.select(
        "*",
        F.explode(
            F.array(
                F.expr(f"_tl div {dus} - 1"),
                F.expr(f"_tl div {dus}"),
                F.expr(f"_tl div {dus} + 1"),
            )
        ).alias("_b"),
    )
    rb = right.select(
        F.col(key).alias("_k"),
        F.col(id_col).alias("id_r"),
        _epoch_us(ts_col).alias("_tr"),
    ).select("*", F.expr(f"_tr div {dus}").alias("_b"))
    return (
        lb.join(rb, on=["_k", "_b"])
        .where(F.abs(F.col("_tr") - F.col("_tl")) <= F.lit(dus))
        .select(
            F.col("_k").alias(key), "id_l", "id_r",
            (F.col("_tr") - F.col("_tl")).alias("gap_us"),
        )
    )


def range_join_sql(
    left_sql: str,
    right_sql: str,
    key: str,
    ts_col: str,
    id_col: str,
    delta_s: int,
) -> str:
    dus = delta_s * US
    return f"""
    SELECT l.{key} AS {key}, l.{id_col} AS id_l, r.{id_col} AS id_r,
           epoch_us(r.{ts_col}) - epoch_us(l.{ts_col}) AS gap_us
    FROM ({left_sql}) l JOIN ({right_sql}) r
      ON l.{key} = r.{key}
     AND abs(epoch_us(r.{ts_col}) - epoch_us(l.{ts_col})) <= {dus}
    """


def hypertable_rollup(
    df: DataFrame, ts_col: str, dim_col: str, value_col: str
) -> DataFrame:
    """One-pass multi-grain rollup: (day, dim) -> (day) -> (), each row
    tagged grain 0/1/2. Value sums are integer cents (order-free)."""
    base = df.select(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.col(dim_col).alias(dim_col),
        F.floor(F.col(value_col) * 100 + F.lit(0.5))
        .cast("long")
        .alias("_cents"),
    )
    out = base.rollup("day", dim_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_cents").alias("sum_value_cents"),
    )
    grain = (
        F.when(F.col("day").isNull(), F.lit(2))
        .when(F.col(dim_col).isNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    return out.select(
        grain.cast("int").alias("grain"), "day", dim_col,
        "n_events", "sum_value_cents",
    )


def hypertable_rollup_sql(
    table: str, ts_col: str, dim_col: str, value_col: str
) -> str:
    return f"""
    WITH base AS (SELECT date_trunc('day', {ts_col}) AS day,
                         {dim_col},
                         CAST(floor({value_col} * 100 + 0.5) AS BIGINT)
                           AS _cents
                  FROM {table}),
    r AS (SELECT day, {dim_col},
                 CAST(count(*) AS BIGINT) AS n_events,
                 sum(_cents) AS sum_value_cents
          FROM base GROUP BY ROLLUP (day, {dim_col}))
    SELECT CAST(CASE WHEN day IS NULL THEN 2
                     WHEN {dim_col} IS NULL THEN 1
                     ELSE 0 END AS INTEGER) AS grain,
           day, {dim_col}, n_events, CAST(sum_value_cents AS BIGINT)
             AS sum_value_cents
    FROM r
    """


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    id_col: str,
    start_col: str,
    end_col: str,
    bucket_s: int,
) -> DataFrame:
    """All same-key (left, right) pairs whose HALF-OPEN validity intervals
    [start, end) overlap — temporal record linkage's third join shape
    (as-of = point->latest, range = point±delta, interval = span x span).
    start/end are integer-microsecond columns (callers derive them the
    same way in both engines; integer arithmetic keeps the oracle strict).

    Scale path: both sides explode to the Δ-buckets their interval covers
    (fan-out bounded by ceil(span/Δ)+1 — pick Δ near the typical span),
    then an EQUI join on (key, bucket). A pair meets in EVERY shared
    bucket, so instead of a distinct pass over the pair set (a second
    shuffle), rows are kept only where the joined bucket is the FIRST
    shared one: b == greatest(bucket(l.start), bucket(r.start)) — the
    overlap's first bucket is always shared, so each qualifying pair
    survives exactly once. Returns (key, id_l, id_r, overlap_us)."""
    dus = bucket_s * US

    def _spread(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(key).alias("_k"),
            F.col(id_col).alias(f"id_{side}"),
            F.col(start_col).alias(f"_s{side}"),
            F.col(end_col).alias(f"_e{side}"),
        ).select(
            "*",
            F.explode(
                F.sequence(
                    F.expr(f"_s{side} div {dus}"),
                    # end is EXCLUSIVE: an interval ending exactly on a
                    # bucket boundary does not reach into that bucket
                    F.expr(f"(_e{side} - 1) div {dus}"),
                )
            ).alias("_b"),
        )

    # empty intervals [s, s) overlap nothing under half-open semantics;
    # filtering BEFORE the explode also pushes to the scans
    lb = _spread(left.where(F.col(start_col) < F.col(end_col)), "l")
    rb = _spread(right.where(F.col(start_col) < F.col(end_col)), "r")
    return (
        lb.join(rb, on=["_k", "_b"])
        .where(
            (F.col("_sl") < F.col("_er"))
            & (F.col("_sr") < F.col("_el"))
            & (
                F.col("_b")
                == F.greatest(
                    F.expr(f"_sl div {dus}"), F.expr(f"_sr div {dus}")
                )
            )
        )
        .select(
            F.col("_k").alias(key), "id_l", "id_r",
            (
                F.least("_el", "_er") - F.greatest("_sl", "_sr")
            ).alias("overlap_us"),
        )
    )


def interval_join_sql(
    left_sql: str,
    right_sql: str,
    key: str,
    id_col: str,
    start_col: str,
    end_col: str,
) -> str:
    """DuckDB twin: the plain theta overlap join (values identical; the
    banded plan is the Spark-side scale shape)."""
    return f"""
    SELECT l.{key} AS {key}, l.{id_col} AS id_l, r.{id_col} AS id_r,
           least(l.{end_col}, r.{end_col})
             - greatest(l.{start_col}, r.{start_col}) AS overlap_us
    FROM ({left_sql}) l JOIN ({right_sql}) r
      ON l.{key} = r.{key}
     AND l.{start_col} < r.{end_col} AND r.{start_col} < l.{end_col}
     AND l.{start_col} < l.{end_col} AND r.{start_col} < r.{end_col}
    """


# ---------------------------------------------------------------------------
# Burst detection over the event stream
# ---------------------------------------------------------------------------

BURST_WINDOW = 6     # trailing observed buckets in the baseline
BURST_FACTOR = 3     # burst iff rate > FACTOR x trailing mean
BURST_MIN_HIST = 3   # minimum observed history before flagging


def event_bursts(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    factor: int = BURST_FACTOR,
    window_buckets: int = BURST_WINDOW,
    min_hist: int = BURST_MIN_HIST,
) -> DataFrame:
    """-> (event_type, win_start, n_events, base_n, base_sum, is_burst):
    per-type hourly rate anomalies — a bucket bursts when its count
    exceeds `factor` x the trailing mean of the previous
    `window_buckets` OBSERVED buckets (empty buckets don't appear in the
    series and therefore don't dilute the baseline — the documented
    semantics), with at least `min_hist` observed buckets of history.
    The crawl-ops signal for scrape storms / outage error spikes that a
    recrawl scheduler consumes.

    All-integer: the threshold is the cross-multiplied comparison
    n_events * base_n > factor * base_sum — no division, no floats, so
    the flag is bit-strict across engines and partitionings; is_burst is
    0/1 INT (engine-portable boolean).

    Scale shape: one map-side-combined tumbling-window count (the
    event_window_counts aggregate) + one per-type ROWS-frame window over
    the BUCKET series (|types| x |buckets| rows, not events); at
    streaming scale the same logic runs over the windowed-agg sink."""
    b = (
        events.groupBy(
            F.window(ts_col, "1 hour").getField("start").alias("win_start"),
            F.col(type_col).alias("event_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("win_start")
        .rowsBetween(-window_buckets, -1)
    )
    return b.select(
        "event_type",
        "win_start",
        "n_events",
        F.count("n_events").over(w).cast("long").alias("base_n"),
        F.coalesce(F.sum("n_events").over(w), F.lit(0))
        .cast("long")
        .alias("base_sum"),
    ).withColumn(
        "is_burst",
        F.when(
            (F.col("base_n") >= min_hist)
            & (
                F.col("n_events") * F.col("base_n")
                > F.lit(factor) * F.col("base_sum")
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


def event_bursts_sql(
    table: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    factor: int = BURST_FACTOR,
    window_buckets: int = BURST_WINDOW,
    min_hist: int = BURST_MIN_HIST,
) -> str:
    return f"""
    WITH b AS (
      SELECT time_bucket(INTERVAL '1 hour', {ts_col}) AS win_start,
             {type_col} AS event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM {table} GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, win_start, n_events,
             CAST(count(n_events) OVER tw AS BIGINT) AS base_n,
             CAST(coalesce(sum(n_events) OVER tw, 0) AS BIGINT) AS base_sum
      FROM b
      WINDOW tw AS (PARTITION BY event_type ORDER BY win_start
                    ROWS BETWEEN {window_buckets} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, win_start, n_events, base_n, base_sum,
           CAST(CASE WHEN base_n >= {min_hist}
                      AND n_events * base_n > {factor} * base_sum
                     THEN 1 ELSE 0 END AS INT) AS is_burst
    FROM w
    """


# ---------------------------------------------------------------------------
# Semi-structured property extraction (JSON event payloads)
# ---------------------------------------------------------------------------


def event_props_stats(
    events: DataFrame,
    type_col: str = "event_type",
    props_col: str = "props",
    key: str = "k",
) -> DataFrame:
    """-> (event_type, n_events, n_with_key, k_min, k_max, k_sum,
    k_distinct): typed aggregation over a JSON payload column — the
    semi-structured half of event telemetry (web events carry free-form
    JSON properties; the pipeline projects typed fields OUT of the JSON
    before any aggregation, never aggregates strings).

    Extraction is get_json_object (Spark) / ->> (DuckDB) with an
    explicit BIGINT cast: malformed or missing keys become NULL and are
    counted separately (n_with_key) rather than poisoning the stats.
    All-integer aggregates => order-independent, bit-strict.

    Scale shape: map-side JSON projection + one map-side-combined
    aggregate keyed by type; the JSON column is parsed ONCE per row and
    only the extracted integer rides the shuffle (at 100 TB the raw
    payload never leaves the scan stage — the classic
    project-before-shuffle rule applied to JSON)."""
    # try_cast: ANSI Spark 4 hard-fails a plain cast on 'xx' — malformed
    # values must become NULL (the documented semantics and the oracle's
    # TRY_CAST), not abort the scan
    k = (
        F.get_json_object(F.col(props_col), f"$.{key}")
        .try_cast("long")
        .alias("_k")
    )
    return (
        events.select(F.col(type_col).alias("event_type"), k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("_k").cast("long").alias("n_with_key"),
            F.min("_k").cast("long").alias("k_min"),
            F.max("_k").cast("long").alias("k_max"),
            F.coalesce(F.sum("_k"), F.lit(0)).cast("long").alias("k_sum"),
            F.countDistinct("_k").cast("long").alias("k_distinct"),
        )
    )


def event_props_stats_sql(
    table: str,
    type_col: str = "event_type",
    props_col: str = "props",
    key: str = "k",
) -> str:
    k = f"TRY_CAST({props_col}->>'{key}' AS BIGINT)"
    return f"""
    SELECT {type_col} AS event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count({k}) AS BIGINT) AS n_with_key,
           CAST(min({k}) AS BIGINT) AS k_min,
           CAST(max({k}) AS BIGINT) AS k_max,
           CAST(coalesce(sum({k}), 0) AS BIGINT) AS k_sum,
           CAST(count(DISTINCT {k}) AS BIGINT) AS k_distinct
    FROM {table} GROUP BY {type_col}
    """
