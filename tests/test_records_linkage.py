"""Two-source bipartite linkage on the vignette-equivalent fixture
(FIXTURES.md §3): record i of A matches record i of B for i < 300; the
one-to-one matching IS the cluster output (direct reference analog)."""

import pytest
from pyspark.sql import functions as F

from bayesianrecordlinkage_jl_spark.functions import comparators as C
from bayesianrecordlinkage_jl_spark.plans.pipeline import link_two_sources
from bayesianrecordlinkage_jl_spark.sources.records import generate_records

def field_exprs():
    return {
        "g_gname": C.lev_ord(F.col("gname_a"), F.col("gname_b")),
        "g_fname": C.lev_ord(F.col("fname_a"), F.col("fname_b")),
        "g_age": C.bool_ord(
            F.nullif(F.col("age_a"), F.lit("NA")), F.nullif(F.col("age_b"), F.lit("NA"))
        ),
        "g_occup": C.bool_ord(
            F.nullif(F.col("occup_a"), F.lit("NA")),
            F.nullif(F.col("occup_b"), F.lit("NA")),
        ),
    }
NLEVELS = {"g_gname": 4, "g_fname": 4, "g_age": 2, "g_occup": 2}


@pytest.fixture(scope="module")
def records(spark):
    a, b = generate_records(spark, n=600, n_match=300, seed=42)
    return a.cache(), b.cache()


def test_fixture_shape(records):
    a, b = records
    assert a.count() == 600 and b.count() == 600
    # NA injection present in B
    assert b.where("age = 'NA' OR occup = 'NA'").count() > 0
    # matched rows share fname; some gnames perturbed
    j = a.join(b, a["i"] == b["i"]).where(a["i"] < 300)
    assert j.where(a["fname"] != b["fname"]).count() == 0
    n_typo = j.where(a["gname"] != b["gname"]).count()
    assert 0 < n_typo < 300


def test_two_source_linkage_f1(spark, records):
    a, b = records
    links, params = link_two_sources(
        spark,
        a.drop("i"),
        b.drop("i"),
        field_exprs(),
        NLEVELS,
        id_col="rec_id",
        penalty=0.0,
    )
    got = links.select("rid_a", "rid_b").toPandas()
    # one-to-one
    assert got["rid_a"].is_unique and got["rid_b"].is_unique
    tp = sum(
        1
        for ra, rb in zip(got["rid_a"], got["rid_b"])
        if ra[1:] == rb[1:] and int(ra[1:]) < 300
    )
    precision = tp / len(got)
    recall = tp / 300
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (precision, recall, f1)


def test_tab_records_roundtrip(spark, records, tmp_path):
    """readdlm-analog scan: header + all-string columns + NA preserved."""
    from bayesianrecordlinkage_jl_spark.sources.records import (
        read_tab_records,
        write_tab_records,
    )

    a, _ = records
    p = str(tmp_path / "dataA")
    write_tab_records(a.drop("i"), p)
    back = read_tab_records(spark, p)
    assert [f.dataType.simpleString() for f in back.schema.fields] == ["string"] * len(back.columns)
    assert set(back.columns) == set(a.drop("i").columns)
    assert back.count() == a.count()
    orig = {r["rec_id"]: r for r in a.drop("i").collect()}
    for r in back.collect():
        o = orig[r["rec_id"]]
        for c in back.columns:
            assert r[c] == o[c], (r["rec_id"], c)
