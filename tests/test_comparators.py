"""Comparator semantics (levOrd/boolOrd analogs) incl. NULL -> level 0, plus
cross-engine (Spark vs DuckDB) parity of every dual-emitter function."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bayesianrecordlinkage_jl_spark.functions import comparators as C
from bayesianrecordlinkage_jl_spark.functions import text as T
from bayesianrecordlinkage_jl_spark.functions import weights as W

CASES = pd.DataFrame(
    {
        "a": ["mccarthy", "abc", "abc", None, "", "kitten", "spark sql engine", "x"],
        "b": ["mccartxhy", "abc", "xyz", "abc", "", "sitting", "spark sql motor", "x"],
    }
)


def test_bool_ord_levels(spark):
    df = spark.createDataFrame(CASES)
    out = df.select(C.bool_ord(F.col("a"), F.col("b")).alias("g")).toPandas()["g"].tolist()
    #            typo   eq  neq  null  eq   neq     neq           eq
    assert out == [2,    1,  2,   0,   1,   2,      2,            1]


def test_lev_ord_levels(spark):
    df = spark.createDataFrame(CASES)
    out = df.select(C.lev_ord(F.col("a"), F.col("b")).alias("g")).toPandas()["g"].tolist()
    # mccarthy/mccartxhy: lev=1, max=9, sim=8/9=.889 -> level 2
    # kitten/sitting: lev=3, max=7, sim=4/7=.571 -> level 3
    assert out[0] == 2
    assert out[1] == 1  # identical
    assert out[2] == 4  # abc/xyz sim=0
    assert out[3] == 0  # null
    assert out[4] == 1  # both empty
    assert out[5] == 3
    assert out[7] == 1


def test_missing_level_zero_convention(spark):
    """Level 0 must be emitted for NULLs on either side (reference
    comparisonsummary.jl:11-12 convention)."""
    df = spark.createDataFrame(pd.DataFrame({"a": [None, "x", None], "b": ["y", None, None]}))
    for comp in (C.bool_ord, C.lev_ord, C.token_jaccard_ord):
        out = df.select(comp(F.col("a"), F.col("b")).alias("g")).toPandas()["g"].tolist()
        assert out == [0, 0, 0], comp.__name__


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM '/root/testdata/sf0.01/documents.parquet'"
    )
    return con


def test_cross_engine_parity_text_functions(spark, duck):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(60)
    shh = T.shingle_hashes(F.col("text"), 3)
    shh_sql = T.shingle_hashes_sql("text", 3)
    sdf = (
        docs.select(
            "doc_id",
            T.token_count(F.col("text")).alias("tc"),
            T.simhash(F.col("text")).alias("sh"),
            T.lang_id(F.col("text")).alias("lid"),
            T.quality_score(F.col("text")).alias("q"),
            T.doc_fingerprint(F.col("text")).alias("fp"),
            T.minhash_from_hashes(shh, 0).alias("mh0"),
            T.band_key_from_hashes(shh, 1).alias("band1"),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    ddf = duck.sql(
        f"""SELECT doc_id, {T.token_count_sql('text')} AS tc,
        {T.simhash_sql('text')} AS sh, {T.lang_id_sql('text')} AS lid,
        {T.quality_score_sql('text')} AS q, {T.doc_fingerprint_sql('text')} AS fp,
        {T.minhash_from_hashes_sql(shh_sql, 0)} AS mh0,
        {T.band_key_from_hashes_sql(shh_sql, 1)} AS band1
        FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 60) ORDER BY doc_id"""
    ).df()
    for col in ["tc", "sh", "lid", "q", "fp", "mh0", "band1"]:
        assert (sdf[col].astype(str) == ddf[col].astype(str)).all(), col


def test_cross_engine_parity_comparators_and_weights(spark, duck):
    pairs = spark.sql(
        """SELECT a.doc_id ida, b.doc_id idb, a.text ta, b.text tb
        FROM {d} a JOIN {d} b ON a.lang = b.lang AND a.doc_id < b.doc_id""",
        d=spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(60),
    )
    sp = (
        pairs.select(
            "ida",
            "idb",
            C.lev_ord(F.substring("ta", 1, 64), F.substring("tb", 1, 64)).alias("g1"),
            C.token_jaccard_ord(F.col("ta"), F.col("tb")).alias("g2"),
        )
        .withColumn(
            "w", W.fs_weight([(F.col("g1"), "lev"), (F.col("g2"), "jac")])
        )
        .orderBy("ida", "idb")
        .toPandas()
    )
    wsql = W.fs_weight_sql([("g1", "lev"), ("g2", "jac")])
    dp = duck.sql(
        f"""WITH d60 AS (SELECT * FROM documents ORDER BY doc_id LIMIT 60),
        p AS (SELECT a.doc_id ida, b.doc_id idb,
              {C.lev_ord_sql('substr(a.text,1,64)', 'substr(b.text,1,64)')} AS g1,
              {C.token_jaccard_ord_sql('a.text', 'b.text')} AS g2
              FROM d60 a JOIN d60 b ON a.lang = b.lang AND a.doc_id < b.doc_id)
        SELECT ida, idb, g1, g2, {wsql} AS w FROM p ORDER BY ida, idb"""
    ).df()
    assert len(sp) == len(dp) and len(sp) > 100
    assert (sp["g1"].values == dp["g1"].values).all()
    assert (sp["g2"].values == dp["g2"].values).all()
    # bit-identical doubles (same literals, same association order)
    assert (sp["w"].values == dp["w"].values).all()


def test_phonetic_key_values(spark):
    """Exact code values (both engines evaluate the identical expression
    string — parity is covered by the phonetic_keys oracle row; this pins
    the semantics themselves)."""
    import duckdb

    from bayesianrecordlinkage_jl_spark.functions.comparators import (
        phonetic_key,
        phonetic_key_sql,
    )

    want = {
        "robert": "R163",
        "rupert": "R163",   # classic Soundex pair collapses identically
        "ashcraft": "A226", # documented divergence from classic A261:
                            # vowel-separated repeats collapse here too
        "pfister": "P123",
        "a": "A000",
        "": "0000",
    }
    df = spark.createDataFrame([(n,) for n in want], "gname string")
    got = {
        r["gname"]: r["pk"]
        for r in df.select("gname", phonetic_key("gname").alias("pk")).collect()
    }
    assert got == want
    con = duckdb.connect()
    for n, k in want.items():
        assert con.execute(f"SELECT {phonetic_key_sql(repr(n))}").fetchone()[0] == k
