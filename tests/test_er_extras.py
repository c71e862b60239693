"""Property tests for the round-3 ER-extras: sorted-neighborhood blocking,
meta-blocking, value-specific weights, SemDeDup and Count-Min heavy
hitters. Cross-engine value parity is covered by test_oracle_parity;
these pin the SEMANTICS on hand-built fixtures."""

import pytest
from pyspark.sql import functions as F

from bayesianrecordlinkage_jl_spark.operators import blocking, dedup, sketches
from bayesianrecordlinkage_jl_spark.operators.comparison_summary import (
    value_specific_weights,
)


# --- sorted-neighborhood ----------------------------------------------------


def _snm_brute(rows, window):
    """Expected pair set: global (key, id) sort, sliding window."""
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    out = set()
    for i, (ida, _) in enumerate(ordered):
        for j in range(i + 1, min(i + window, len(ordered))):
            out.add((ida, ordered[j][0], j - i))
    return out


@pytest.mark.parametrize("bucket_len", [1, 2, 4])
def test_snm_matches_global_window(spark, bucket_len):
    rows = [(i, f"k{(i * 7) % 23:02d}x{i}") for i in range(40)]
    df = spark.createDataFrame(rows, ["rid", "k"])
    got = {
        (r["id_a"], r["id_b"], r["gap"])
        for r in blocking.sorted_neighborhood_pairs(
            df, "rid", F.col("k"), window=5, bucket_len=bucket_len
        ).collect()
    }
    assert got == _snm_brute(rows, 5)


def test_snm_pair_count_linear(spark):
    # n rows, window w -> exactly (n - i) pairs per gap i: never quadratic
    n, w = 100, 4
    df = spark.createDataFrame([(i, f"{i:04d}") for i in range(n)], ["rid", "k"])
    cnt = blocking.sorted_neighborhood_pairs(
        df, "rid", F.col("k"), window=w
    ).count()
    assert cnt == sum(n - i for i in range(1, w))


# --- meta-blocking ----------------------------------------------------------


def test_meta_blocking_purge_and_wep(spark):
    # 'stop' appears in every doc (df=6 > max_df=4): contributes no pairs.
    # d0/d1 share 3 rare tokens; d2/d3 share 1 -> WEP mean prunes the weak edge.
    docs = [
        (0, "stop alpha beta gamma"),
        (1, "stop alpha beta gamma"),
        (2, "stop delta unique1 unique2"),
        (3, "stop delta unique3 unique4"),
        (4, "stop solo1 solo2 solo3"),
        (5, "stop solo4 solo5 solo6"),
    ]
    df = spark.createDataFrame(docs, ["rid", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["cbs"]
        for r in blocking.meta_blocking_pairs(
            df, "rid", "text", min_df=2, max_df=4
        ).collect()
    }
    # weights before pruning: (0,1)=3, (2,3)=1 -> mean 2.0 -> only (0,1) survives
    assert got == {(0, 1): 3}


# --- value-specific weights -------------------------------------------------


def test_value_specific_weights_rarity(spark):
    ra = spark.createDataFrame(
        [("a0", "smith"), ("a1", "smith"), ("a2", "smith"), ("a3", "zu")],
        ["rid", "name"],
    )
    rb = spark.createDataFrame(
        [("b0", "smith"), ("b1", "smith"), ("b2", "zu")], ["rid", "name"]
    )
    out = value_specific_weights(
        ra, rb, "rid", "name", m_prob=0.9, n_a=4, n_b=3
    ).collect()
    by_val = {}
    for r in out:
        by_val.setdefault(r["value"], set()).add((r["rid_a"], r["rid_b"]))
        if r["value"] == "smith":
            assert r["f_a"] == 3 and r["f_b"] == 2
            assert r["u_v"] == pytest.approx((3 / 4) * (2 / 3))
        else:
            assert r["u_v"] == pytest.approx((1 / 4) * (1 / 3))
    # all agreeing pairs present; rare value has the larger ratio
    assert len(by_val["smith"]) == 6 and len(by_val["zu"]) == 1
    ratios = {r["value"]: r["ratio"] for r in out}
    assert ratios["zu"] > ratios["smith"]


# --- SemDeDup ----------------------------------------------------------------


def test_semdedup_drops_higher_id_twin(spark):
    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (0, [1.0, 0.05]),
        (1, [1.0, 0.05]),   # twin of 0, same cluster -> dropped
        (2, [0.05, 1.0]),   # other cluster, alone -> kept
        (3, [1.0, 0.0]),    # same cluster as 0 but below threshold? cos ~0.999
    ]
    df = spark.createDataFrame(rows, ["vid", "v"])
    out = {
        r["item_id"]: (r["cid"], r["keep"])
        for r in dedup.semdedup(df, "vid", "v", cents, min_cosine=0.9999).collect()
    }
    assert out[0] == (0, True)
    assert out[1] == (0, False)      # exact twin, higher id
    assert out[2][1] is True
    assert out[3][1] is True         # cos(0,3) ~ 0.99875 < 0.9999
    # stricter threshold keeps everything
    out2 = dedup.semdedup(df, "vid", "v", cents, min_cosine=1.1).collect()
    assert all(r["keep"] for r in out2)


# --- Count-Min ---------------------------------------------------------------


def test_countmin_never_underestimates(spark):
    docs = [(i, f"tok{i % 5} tok{i % 3} common") for i in range(60)]
    df = spark.createDataFrame(docs, ["rid", "text"])
    out = sketches.countmin_heavy_hitters(
        df, "text", depth=4, width=16, hh_min=0
    ).collect()
    toks = {r["token"]: r for r in out}
    assert toks["common"]["n_exact"] == 60
    for r in out:
        assert r["cm_est"] >= r["n_exact"]  # the CM one-sided guarantee
    # every distinct token reported at hh_min=0
    assert set(toks) == {"common"} | {f"tok{i}" for i in range(5)}
