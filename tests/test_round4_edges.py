"""Degenerate-input probes for the round-4 operators: empty inputs,
single-source claims, pre-convergence rounds — the contract edges the
catalog fixture never hits."""

from bayesianrecordlinkage_jl_spark.operators import crawl
from bayesianrecordlinkage_jl_spark.operators.connected_components import (
    max_spanning_forest, star_clusters,
)
from bayesianrecordlinkage_jl_spark.operators.fusion import (
    TD_SCALE, source_trust, truth_discovery,
)


def test_scd2_empty_input_keeps_schema(spark):
    df = spark.createDataFrame([], "url string, ts long, fp long, sid long")
    out = crawl.scd2_intervals(df, "url", "ts", "fp", "sid")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "url", "version_no", "fp", "valid_from", "valid_to", "n_snaps",
        "is_current",
    ]


def test_truth_discovery_single_source_and_value_tie(spark):
    # one source: it is trivially the max-trust source (trust == SCALE);
    # per entity its single claim wins with score == SCALE
    rows = [(1, "x", "s"), (2, "y", "s")]
    df = spark.createDataFrame(rows, "e long, v string, s string")
    w = {r["entity"]: (r["value"], r["score_fp"])
         for r in truth_discovery(df, "e", "v", "s").collect()}
    assert w == {1: ("x", TD_SCALE), 2: ("y", TD_SCALE)}
    t = source_trust(df, "e", "v", "s").collect()
    assert len(t) == 1 and t[0]["trust_fp"] == TD_SCALE
    # two equally-trusted sources disagree: the LEXICOGRAPHICALLY smaller
    # value wins the tie (total order, partitioning-invariant)
    rows = [(1, "zeta", "s1"), (1, "alpha", "s2")]
    df = spark.createDataFrame(rows, "e long, v string, s string")
    w = truth_discovery(df, "e", "v", "s").collect()
    assert len(w) == 1 and w[0]["value"] == "alpha" and w[0]["n_values"] == 2


def test_star_clusters_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert star_clusters(df).count() == 0


def test_msf_preconvergence_rounds_one(spark):
    # two heavy pairs bridged by a light edge: round 1 pairs (0,1) and
    # (2,3) — nobody's best edge is the bridge — round 2 merges them
    edges = [(0, 1, 10), (2, 3, 10), (1, 2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    r1 = {(r["src"], r["dst"]): r["merge_round"]
          for r in max_spanning_forest(df, rounds=1).collect()}
    full = {(r["src"], r["dst"]): r["merge_round"]
            for r in max_spanning_forest(df, rounds=8).collect()}
    assert r1 == {(0, 1): 1, (2, 3): 1}  # partial forest at rounds=1
    assert full == {(0, 1): 1, (2, 3): 1, (1, 2): 2}
