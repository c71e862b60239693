"""Structured Streaming ingest: availableNow end-to-end over a parquet
staging dir — extraction parity with batch, stateful url dedup, and
watermarked windowed stats (complete-mode memory sink)."""

import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from bayesianrecordlinkage_jl_spark.functions import text as T
from bayesianrecordlinkage_jl_spark.sources.pages import generate_pages
from bayesianrecordlinkage_jl_spark.streaming import ingest


def _await_drained(q, timeout=120):
    """Wait until an availableNow query has committed all its input, then
    stop it. A stateful operator with a processing-time state timeout asks
    for a no-data batch on every trigger, so such a query never terminates
    on its own: the first no-data batch marks the input as drained."""
    deadline = time.monotonic() + timeout
    while q.isActive and time.monotonic() < deadline:
        p = q.lastProgress
        if p is not None and p["numInputRows"] == 0:
            break
        time.sleep(0.2)
    q.stop()


@pytest.fixture(scope="module")
def stream_dirs(spark):
    root = tempfile.mkdtemp(prefix="brl_stream_")
    inp, out, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    pages = generate_pages(spark, n_clusters=40).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    # two file drops to exercise multi-batch reads; duplicate the first
    # drop's urls in the second to exercise streaming dedup
    pages.write.mode("overwrite").parquet(inp)
    pages.limit(10).write.mode("append").parquet(inp)
    yield {"in": inp, "out": out, "ckpt": ckpt, "pages": pages}
    shutil.rmtree(root, ignore_errors=True)


def test_ingest_availablenow(spark, stream_dirs):
    q = ingest.start_ingest(
        spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"]
    )
    q.awaitTermination(120)
    out = spark.read.parquet(stream_dirs["out"])
    n_urls = stream_dirs["pages"].select("url").distinct().count()
    # stateful dropDuplicates removed the re-crawled urls
    assert out.select("url").distinct().count() == n_urls
    assert out.count() == n_urls
    # extraction parity with the batch path: byte-identical text per url
    joined = out.select("url", F.col("text").alias("stream_text")).join(
        stream_dirs["pages"].select("url", "text"), on="url"
    )
    assert joined.where(F.col("stream_text") != F.col("text")).count() == 0
    assert out.where(F.col("n_tokens") <= 0).count() == 0
    assert "simhash" in out.columns and "fingerprint" in out.columns


def test_windowed_crawl_stats(spark, stream_dirs):
    stream = ingest.enrich(
        ingest.read_page_stream(spark, stream_dirs["in"])
    )
    stats = ingest.windowed_crawl_stats(stream, "1 hour")
    q = (
        stats.writeStream.format("memory")
        .queryName("crawl_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM crawl_stats")
    assert got.count() > 0
    assert set(got.columns) == {"win_start", "lang", "n_pages", "n_tokens"}
    # the windowed totals must account for every input row (incl. re-crawls)
    total_rows = spark.read.parquet(stream_dirs["in"]).count()
    assert got.agg(F.sum("n_pages")).collect()[0][0] == total_rows


def test_fingerprint_reducer_timeout_path():
    """On a state timeout Spark invokes the handler with an EMPTY batch
    iterator: it must expire the state (that's what bounds the store) and
    emit nothing — never touch pd.concat on the empty iterator."""

    class FakeState:
        def __init__(self):
            self.hasTimedOut = True
            self.removed = False
            self.exists = True
            self.get = ("u", 3)

        def remove(self):
            self.removed = True

        def update(self, v):  # pragma: no cover - must not be called
            raise AssertionError("update on timed-out state")

        def setTimeoutDuration(self, ms):  # pragma: no cover
            raise AssertionError("timeout reset on timed-out state")

    fn = ingest._fingerprint_reducer(1000)
    state = FakeState()
    out = list(fn(("fp",), iter(()), state))
    assert out == []
    assert state.removed


def test_stateful_fingerprint_dedup(spark, stream_dirs):
    """applyInPandasWithState: exactly one emission per content fingerprint
    across the whole stream (re-crawled urls share fingerprints)."""
    from pyspark.sql import functions as F

    from bayesianrecordlinkage_jl_spark.functions.text import doc_fingerprint

    stream = ingest.read_page_stream(spark, stream_dirs["in"]).withColumn(
        "fingerprint", doc_fingerprint(F.col("text")).cast("string")
    )
    deduped = ingest.dedup_on_fingerprint(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("fp_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    got = spark.sql("SELECT * FROM fp_dedup")
    batch = spark.read.parquet(stream_dirs["in"]).withColumn(
        "fingerprint", doc_fingerprint(F.col("text")).cast("string")
    )
    n_fp = batch.select("fingerprint").distinct().count()
    assert got.count() == n_fp
    assert got.select("fingerprint").distinct().count() == n_fp
    # suppressed-duplicate accounting covers every input row
    total = batch.count()
    assert got.agg(F.sum(F.col("n_dups") + 1)).collect()[0][0] == total


def test_stream_static_near_dup_flagging(spark, stream_dirs):
    """flag_near_dups: pages re-crawled from the corpus collide with the
    static band index (stream-static equi-join, stateless); genuinely new
    text does not. Also pins the hash-once plan shape: exactly one md5
    shingle pass per stream row despite n_bands band keys."""
    pages = stream_dirs["pages"]
    corpus = pages.limit(25).select(
        F.col("url").alias("corpus_url"), "text"
    )
    idx = ingest.corpus_band_index(corpus, "corpus_url", "text")

    stream = ingest.read_page_stream(spark, stream_dirs["in"])
    flags = ingest.flag_near_dups(stream, idx)
    q = (
        flags.writeStream.format("memory")
        .queryName("near_dup_flags")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hits = spark.sql("SELECT * FROM near_dup_flags").toPandas()
    # every corpus page is itself in the stream (the input dir contains the
    # full corpus), so each must collide with its own index entry
    corpus_urls = {r["corpus_url"] for r in corpus.select("corpus_url").collect()}
    hit_urls = set(hits["url"])
    assert corpus_urls <= hit_urls
    # a self-hit must pair the url with its own corpus_id in every band
    self_hits = hits[hits["url"] == hits["corpus_id"]]
    assert set(self_hits["url"]) == corpus_urls
    # hash-once plan shape (batch twin of the same expressions, on clean
    # inputs so the only md5 chains in the plan are the shingle passes —
    # generate_pages' synthesis lambdas would add their own)
    plain = spark.createDataFrame(
        [("u", None, "some text")], "url string, warc_ts timestamp, text string"
    )
    tiny_corpus = spark.createDataFrame(
        [("c", "other text")], "corpus_url string, text string"
    )
    batch = ingest.flag_near_dups(
        plain, ingest.corpus_band_index(tiny_corpus, "corpus_url", "text")
    )
    plan = batch._jdf.queryExecution().optimizedPlan().toString().lower()
    # one md5 chain for the stream side, one for the index side — the
    # n_bands band keys must NOT re-inline the shingle pass
    assert plan.count("md5") <= 2, plan.count("md5")


def test_version_reducer_unit_and_timeout():
    """Handler-level: version opens on first sight and on every fp
    change; identical re-fetches are absorbed; timeout removes state."""
    import pandas as pd

    from bayesianrecordlinkage_jl_spark.streaming.ingest import (
        _version_reducer,
    )

    class FakeState:
        def __init__(self):
            self.exists, self.hasTimedOut, self._v = False, False, None
            self.removed, self.timeout_ms = False, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

        def remove(self):
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    fn = _version_reducer(1000)
    st = FakeState()
    ts = pd.Timestamp("2026-01-01")
    batch = pd.DataFrame(
        {"url": ["u"] * 4, "warc_ts": [ts, ts + pd.Timedelta("1h"),
                                       ts + pd.Timedelta("2h"),
                                       ts + pd.Timedelta("3h")],
         "fp": [5, 5, 7, 7]}
    )
    out = list(fn(("u",), iter([batch]), st))
    ev = out[0]
    assert list(ev["version_no"]) == [1, 2]
    assert list(ev["fp"]) == [5, 7]
    assert st.get == (7, 2)
    # identical re-fetch in a later batch: absorbed, no event
    batch2 = pd.DataFrame(
        {"url": ["u"], "warc_ts": [ts + pd.Timedelta("4h")], "fp": [7]}
    )
    assert list(fn(("u",), iter([batch2]), st)) == []
    assert st.get == (7, 2)
    # change in a later batch: one event, version 3
    batch3 = pd.DataFrame(
        {"url": ["u"], "warc_ts": [ts + pd.Timedelta("5h")], "fp": [9]}
    )
    ev3 = list(fn(("u",), iter([batch3]), st))[0]
    assert list(ev3["version_no"]) == [3]
    # timeout invocation expires state and emits nothing
    st.hasTimedOut = True
    assert list(fn(("u",), iter(()), st)) == []
    assert st.removed


def test_streaming_scd2_matches_batch_twin(spark, stream_dirs):
    """availableNow end-to-end: the streamed version-open events equal
    the batch scd2_intervals (version_no, fp, valid_from) triples —
    the re-crawled duplicate drop collapses in BOTH paths."""
    from bayesianrecordlinkage_jl_spark.operators import crawl

    stream = ingest.read_page_stream(spark, stream_dirs["in"]).select(
        "url", "warc_ts", T.phash(F.col("text")).alias("fp")
    )
    q = (
        ingest.track_page_versions(stream)
        .writeStream.format("memory")
        .queryName("page_versions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    got = {
        (r["url"], r["version_no"], r["fp"], r["valid_from"])
        for r in spark.sql("SELECT * FROM page_versions").collect()
    }
    # same explicit LTZ schema as the stream read — never an NTZ cast
    snaps = (
        spark.read.schema(ingest.PAGES_SCHEMA)
        .parquet(stream_dirs["in"])
        .select(
            "url",
            F.unix_micros(F.col("warc_ts")).alias("ts"),
            T.phash(F.col("text")).alias("fp"),
        )
    )
    # batch twin: fp doubles as the same-ts tiebreak the stream sort uses
    batch = {
        (r["url"], r["version_no"], r["fp"], r["valid_from"])
        for r in crawl.scd2_intervals(
            snaps, "url", "ts", "fp", "fp"
        ).select(
            "url", "version_no", "fp",
            F.timestamp_micros(F.col("valid_from")).alias("valid_from"),
        ).collect()
    }
    assert got and got == batch
