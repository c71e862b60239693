"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md §1).

Schema matches BASELINE.json input_hint exactly:
  (url string, warc_ts timestamp, html binary, text string, lang string)

Planted structure (analog of the reference vignette's perturbed dataB —
/root/reference/vignette/data/dataB.txt:2 "mccartxhy" vs dataA.txt:2
"mccarthy"): pages belong to ground-truth entity clusters of size 1..5
(same logical document mirrored/re-crawled); non-seed members carry
deterministic typo/token perturbations. Hosts are Zipfian so some hosts are
hot (exercises skew handling). Everything is generated from pure Catalyst
expressions seeded by md5 hashes of (seed, cluster, member) — fully
deterministic, distributed (spark.range), no external data, no Python UDFs.

Also provides the html wrapper + extraction contract: extract_text(html)
must reproduce `text` byte-identically per url (pytest-asserted).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.text import phash

VOCAB = [
    "data", "table", "query", "spark", "join", "shuffle", "filter", "scan",
    "merge", "sort", "hash", "group", "window", "stream", "batch", "row",
    "column", "value", "key", "index", "block", "match", "record", "link",
    "cluster", "weight", "score", "field", "level", "count", "page", "host",
    "crawl", "text", "token", "shingle", "band", "bucket", "graph", "node",
]
LANGS = ["en", "en", "en", "en", "de", "fr", "es"]  # en-heavy mix
WORDS_PER_DOC = 40
HTML_PREFIX = "<html><head><title>doc</title></head><body><article>"
HTML_SUFFIX = "</article></body></html>"


def _h(*parts: Column | str) -> Column:
    """Deterministic 60-bit hash of concatenated parts."""
    cols = [p if isinstance(p, Column) else F.lit(p) for p in parts]
    return phash(F.concat_ws(":", *[c.cast("string") for c in cols]))


def generate_pages(
    spark: SparkSession,
    n_clusters: int,
    seed: int = 42,
    max_cluster_size: int = 5,
    n_hosts: int = 200,
) -> DataFrame:
    """-> pages(url, warc_ts, html, text, lang, cluster_id) — cluster_id is
    the ground-truth label (drop it for the pipeline input)."""
    s = str(seed)
    c = spark.range(n_clusters).withColumnRenamed("id", "cid")
    c = c.withColumn(
        "csize", (F.pmod(_h(s, "size", F.col("cid")), max_cluster_size) + 1).cast("int")
    )
    c = c.withColumn("lang", F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.pmod(_h(s, "lang", F.col("cid")), len(LANGS)) + 1).cast("int"),
    ))
    # base text: WORDS_PER_DOC vocab words chosen by hash
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    c = c.withColumn(
        "base_tokens",
        F.transform(
            F.sequence(F.lit(1), F.lit(WORDS_PER_DOC)),
            lambda j: F.element_at(
                vocab, (F.pmod(_h(s, "w", F.col("cid"), j), len(VOCAB)) + 1).cast("int")
            ),
        ),
    )
    pages = c.withColumn("member", F.explode(F.sequence(F.lit(0), F.col("csize") - 1)))
    # perturbation: member 0 = seed copy; member m>0 gets one typo'd token at
    # a hash-chosen position (insert 'x' after 2nd char) and one swapped token.
    typo_pos = (F.pmod(_h(s, "tp", F.col("cid"), F.col("member")), WORDS_PER_DOC) + 1).cast("int")
    swap_pos = (F.pmod(_h(s, "sp", F.col("cid"), F.col("member")), WORDS_PER_DOC) + 1).cast("int")
    swap_word = F.element_at(
        vocab, (F.pmod(_h(s, "sw", F.col("cid"), F.col("member")), len(VOCAB)) + 1).cast("int")
    )
    pages = pages.withColumn(
        "tokens",
        F.when(F.col("member") == 0, F.col("base_tokens")).otherwise(
            F.transform(
                F.col("base_tokens"),
                lambda tok, i: F.when(
                    i + 1 == typo_pos,
                    F.concat(tok.substr(F.lit(1), F.lit(2)), F.lit("x"), tok.substr(F.lit(3), F.length(tok))),
                )
                .when(i + 1 == swap_pos, swap_word)
                .otherwise(tok),
            )
        ),
    )
    pages = pages.withColumn("text", F.array_join(F.col("tokens"), " "))
    # Zipfian host: rank = floor(u^(-0.7)) capped — few hosts get most pages
    u = (F.pmod(_h(s, "host", F.col("cid"), F.col("member")), 1_000_000) + 1) / 1_000_000.0
    host_rank = F.least(F.floor(F.pow(u, F.lit(-0.7))), F.lit(n_hosts)).cast("int")
    pages = pages.withColumn(
        "host", F.concat(F.lit("host"), host_rank.cast("string"), F.lit(".example.org"))
    )
    pages = pages.withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/doc/"),
            F.col("cid").cast("string"), F.lit("/"), F.col("member").cast("string"),
            F.lit(".html"),
        ),
    )
    pages = pages.withColumn(
        "warc_ts",
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(_h(s, "ts", F.col("cid"), F.col("member")), 86400 * 365)
        ),
    )
    pages = pages.withColumn(
        "html",
        F.encode(
            F.concat(F.lit(HTML_PREFIX), F.col("text"), F.lit(HTML_SUFFIX)), "UTF-8"
        ),
    )
    pages = pages.withColumn("cluster_id", F.col("cid"))
    return pages.select("url", "warc_ts", "html", "text", "lang", "host", "cluster_id")


def extract_text(html: Column) -> Column:
    """html binary -> extracted body text, byte-identical to `text`.

    Deterministic extraction of the <article> body; pure Catalyst (decode +
    regexp_extract), the trafilatura-style extraction slot."""
    s = F.decode(html, "UTF-8")
    return F.regexp_extract(s, "<article>(.*)</article>", 1)
