"""HLL/KMV span-cardinality sketches: python md5 replica (exact equality,
doubles bitwise) + estimator-accuracy bounds vs exact distincts."""

import hashlib
import re

import pytest

from bayesianrecordlinkage_jl_spark.operators import sketches as SK

SF = "/root/testdata/sf0.01"


def _ph(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _spans(text: str) -> list[int]:
    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    n = max(len(toks) - (SK.SPAN_K - 1), 1)
    return [_ph(" ".join(toks[i : i + SK.SPAN_K])) for i in range(n)]


def _replica(rows) -> dict:
    groups: dict = {}
    for source, text in rows:
        groups.setdefault(source, []).extend(_spans(text))
    out = {}
    for g, hs in groups.items():
        regs: dict = {}
        for h in hs:
            j = h % SK.M_REG
            w = h // SK.M_REG
            rho = SK.RHO_CAP
            if w:
                z = (w & -w).bit_length() - 1
                rho = min(z + 1, SK.RHO_CAP)
            regs[j] = max(regs.get(j, 0), rho)
        sum_fp = sum(1 << (SK.RHO_CAP - m) for m in regs.values()) + (
            SK.M_REG - len(regs)
        ) * (1 << SK.RHO_CAP)
        dist = sorted(set(hs))
        hk = dist[SK.KMV_K - 1] if len(dist) >= SK.KMV_K else None
        out[g] = {
            "n_spans": len(hs),
            "exact_distinct": len(dist),
            "hll_n_zero": SK.M_REG - len(regs),
            "hll_sum_fp": sum_fp,
            "hll_est": SK.ALPHA_FP / float(sum_fp),
            "kmv_hk": hk,
            "kmv_est": SK.KMV_NUM / float(hk) if hk else None,
        }
    return out


@pytest.fixture(scope="module")
def result(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        r["grp"]: r.asDict()
        for r in SK.span_cardinality_sketches(df, "source", "text").collect()
    }
    rows = [
        (r["source"], r["text"])
        for r in df.select("source", "text").collect()
    ]
    return got, _replica(rows)


def test_matches_replica_bitwise(result):
    got, exp = result
    assert set(got) == set(exp)
    for g in exp:
        for col, v in exp[g].items():
            assert got[g][col] == v, (g, col, got[g][col], v)


def test_estimator_accuracy(result):
    got, _ = result
    hll_err, kmv_err = [], []
    for g, r in got.items():
        exact = r["exact_distinct"]
        assert exact > 2.5 * SK.M_REG  # raw-HLL regime on this fixture
        hll_err.append(abs(r["hll_est"] - exact) / exact)
        kmv_err.append(abs(r["kmv_est"] - exact) / exact)
    # m=256 -> sigma ~6.5%; k=64 -> sigma ~12.5%. Bound per-group at ~4
    # sigma and the mean tighter (20 groups).
    assert max(hll_err) < 0.30 and sum(hll_err) / len(hll_err) < 0.10
    assert max(kmv_err) < 0.50 and sum(kmv_err) / len(kmv_err) < 0.20


def test_short_text_and_missing_kmv(spark):
    # fewer than KMV_K distinct spans -> kmv columns NULL, HLL still sane
    df = spark.createDataFrame(
        [("s", "alpha beta"), ("s", "alpha beta")], "source string, text string"
    )
    row = (
        SK.span_cardinality_sketches(df, "source", "text").collect()[0]
    )
    assert row["n_spans"] == 2 and row["exact_distinct"] == 1
    assert row["kmv_hk"] is None and row["kmv_est"] is None
    assert row["hll_n_zero"] == SK.M_REG - 1
