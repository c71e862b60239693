"""Structured Streaming ingest for incremental crawls.

The reference has no streaming (SURVEY.md §2.9); at web scale the pages
table grows continuously, so the engine needs an incremental path:

  readStream(parquet dir) -> extraction + text features (same Catalyst
  expressions as batch — one code path) -> watermarked dedup on url ->
  append to the staging table the batch pipeline consumes.

Stateful operators: fingerprint dedup (dedup_on_fingerprint) and SCD2
page versions (track_page_versions), both applyInPandasWithState with a
processing-time state timeout. Stateless ones: watermarked window stats,
and micro-batch near-dup flagging, which joins each batch's LSH band keys
against the (static, periodically refreshed) corpus band index — a
stream-static join, which Spark executes without state buildup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions import text as T
from ..sources.pages import extract_text

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_page_stream(spark: SparkSession, input_dir: str, max_files: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def enrich(stream: DataFrame) -> DataFrame:
    """Extraction + features — identical expressions to the batch path."""
    return (
        stream.withColumn("text", extract_text(F.col("html")))
        .withColumn("n_tokens", T.token_count(F.col("text")))
        .withColumn("fingerprint", T.doc_fingerprint(F.col("text")))
        .withColumn("simhash", T.simhash(F.col("text")))
    )


def dedup_on_url(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop re-crawls of the same url within the watermark horizon
    (stateful streaming dedup; late data beyond the watermark is admitted
    to the staging table and handled by the batch exact-dedup pass)."""
    return stream.withWatermark("warc_ts", watermark).dropDuplicates(["url"])


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> StreamingQuery:
    enriched = dedup_on_url(enrich(read_page_stream(spark, input_dir)), watermark)
    return (
        enriched.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_on_fingerprint(
    stream: DataFrame,
    watermark: str = "1 hour",
    state_timeout_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): emit
    only the FIRST page seen per content fingerprint — streaming exact
    near-dup suppression by content, beyond what dropDuplicates offers
    (which keys on a column but cannot carry custom per-key state or
    per-key emission logic).

    State per fingerprint: (first_url, n_dups_suppressed). Re-crawls and
    mirrors of already-seen content are counted into state and dropped.
    State expires via processing-time timeout so the store is bounded; the
    batch exact-dedup pass catches anything beyond the horizon (same
    tiered design as dedup_on_url).

    Input must carry (fingerprint, url, warc_ts, text, lang).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "fingerprint string, url string, warc_ts timestamp, "
        "text string, lang string, n_dups long"
    )
    state_schema = "first_url string, n_dups long"

    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _fingerprint_reducer(state_timeout_ms),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def _fingerprint_reducer(state_timeout_ms: int):
    """The applyInPandasWithState handler for dedup_on_fingerprint —
    module-level factory so the timeout path is unit-testable."""
    import pandas as pd

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            # Timeout invocation: Spark passes an empty batch iterator; the
            # only correct move is to expire the state (this is what bounds
            # the store) and emit nothing.
            state.remove()
            return iter(())
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["warc_ts", "url"], ignore_index=True)
        if state.exists:
            first_url, n_dups = state.get
            n_dups += len(rows)
            state.update((first_url, n_dups))
            state.setTimeoutDuration(state_timeout_ms)
            return iter(())  # all duplicates of already-emitted content
        first = rows.iloc[:1].copy()
        first["n_dups"] = len(rows) - 1
        state.update((str(first["url"].iloc[0]), int(len(rows) - 1)))
        state.setTimeoutDuration(state_timeout_ms)
        return iter(
            [first[["fingerprint", "url", "warc_ts", "text", "lang", "n_dups"]]]
        )

    return fn


def windowed_crawl_stats(stream: DataFrame, window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window crawl stats by lang (late data handled)."""
    return (
        stream.withWatermark("warc_ts", window)
        .groupBy(F.window("warc_ts", window).getField("start").alias("win_start"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("n_tokens").alias("n_tokens"))
    )


def corpus_band_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """(corpus_id, band_key) MinHash-band index over the existing corpus —
    the STATIC side of streaming near-dup flagging. Built with the same
    shingle → minhash → band-key expressions as dedup.minhash_lsh_pairs
    (one hash pass per document), so stream and corpus keys are directly
    comparable. At scale this is written to a bucketed table by the batch
    pipeline and refreshed on its cadence; the stream re-reads it per
    micro-batch (stream-static joins re-evaluate the static side)."""
    return docs.select(
        F.col(id_col).alias("corpus_id"),
        T.shingle_hashes(F.col(text_col), shingle_k).alias("_shh"),
    ).select(
        "corpus_id",
        F.explode(
            F.array(
                *[
                    T.band_key_from_hashes(F.col("_shh"), band, rows_per_band)
                    for band in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )


def flag_near_dups(
    stream: DataFrame,
    band_index: DataFrame,
    text_col: str = "text",
    n_bands: int = 4,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Micro-batch near-dup flagging: stream-static equi-join of each
    batch's band keys against the corpus band index (corpus_band_index).

    Emits HIT RECORDS (url, warc_ts, corpus_id, band_key) in append mode —
    one row per (page band, corpus doc) collision. The join is STATELESS
    (stream-static joins keep no state store), so it cannot grow with the
    stream; a page colliding in several bands emits several records, and
    the staging consumer treats any hit as a near-dup candidate for the
    batch verifier (same candidates-then-verify contract as
    dedup.ngram_jaccard_pairs_via_lsh — LSH flags, exact measures decide).
    """
    # two-step projection ON PURPOSE: the shingle-hash pass is an expensive
    # alias referenced by all n_bands band keys, and CollapseProject
    # declines to inline a non-cheap alias used more than once — so the md5
    # pass stays ONE per row (verified: 1 vs 8 md5 nodes in the optimized
    # plan). The explode runs outside whole-stage codegen, so runtime
    # subexpression elimination would NOT have saved an inlined form.
    banded = stream.withColumn(
        "_shh", T.shingle_hashes(F.col(text_col), shingle_k)
    ).select(
        "url",
        "warc_ts",
        F.explode(
            F.array(
                *[
                    T.band_key_from_hashes(F.col("_shh"), band, rows_per_band)
                    for band in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )
    return banded.join(band_index, on="band_key").select(
        "url", "warc_ts", "corpus_id", "band_key"
    )


def track_page_versions(
    stream: DataFrame,
    watermark: str = "1 hour",
    state_timeout_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Streaming SCD2 (the incremental twin of crawl.scd2_intervals): one
    applyInPandasWithState group per canonical url carrying
    (last_fp, version_no); every arriving snapshot whose fingerprint
    differs from the last-seen one OPENS a version and emits a
    version-open event (url, version_no, fp, valid_from) — identical
    re-fetches are absorbed into state and emit nothing. Append-mode
    events are exactly the batch operator's (version_no, fp, valid_from)
    triples when snapshots arrive in (warc_ts, fp) order (the in-batch
    sort; cross-batch order is arrival order, the streaming contract).

    State expires via processing-time timeout to bound the store — after
    a horizon lapse the next fetch reopens a version, and the batch
    SCD2 pass reconciles (the dedup_on_fingerprint tiered design).

    Input must carry (url, warc_ts, fp).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "url string, version_no long, fp long, valid_from timestamp"
    )
    state_schema = "last_fp long, version_no long"

    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy("url")
        .applyInPandasWithState(
            _version_reducer(state_timeout_ms),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def _version_reducer(state_timeout_ms: int):
    """applyInPandasWithState handler for track_page_versions —
    module-level factory so the timeout path is unit-testable."""
    import pandas as pd

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return iter(())
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["warc_ts", "fp"], ignore_index=True)
        if state.exists:
            last_fp, ver = state.get
        else:
            last_fp, ver = None, 0
        events = []
        for r in rows.itertuples(index=False):
            fp = int(r.fp)
            if last_fp is None or fp != last_fp:
                ver += 1
                last_fp = fp
                events.append((key[0], ver, fp, r.warc_ts))
        state.update((int(last_fp), int(ver)))
        state.setTimeoutDuration(state_timeout_ms)
        if not events:
            return iter(())
        return iter(
            [pd.DataFrame(
                events, columns=["url", "version_no", "fp", "valid_from"]
            )]
        )

    return fn
