"""Degenerate-input probes for the round-4 operators: empty inputs,
shorter-than-k documents, single-source claims, pre-convergence rounds —
the contract edges the catalog fixture never hits."""

import pandas as pd

from bayesianrecordlinkage_jl_spark.operators import corpus, crawl
from bayesianrecordlinkage_jl_spark.operators.connected_components import (
    max_spanning_forest, star_clusters,
)
from bayesianrecordlinkage_jl_spark.operators.fusion import (
    TD_SCALE, source_trust, truth_discovery,
)


def test_span_rewrite_short_docs_share_single_shingle(spark):
    # docs shorter than k collapse to ONE shingle covering all tokens:
    # an exact short-doc duplicate is removed entirely, first stays
    pdf = pd.DataFrame({"doc_id": [0, 1, 2],
                        "text": ["tiny doc", "tiny doc", "other words"]})
    out = (
        corpus.span_rewrite(spark.createDataFrame(pdf), "doc_id", "text", k=8)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert out.loc[0, "new_text"] == "tiny doc"
    assert out.loc[1, "new_text"] == "" and out.loc[1, "n_removed"] == 2
    assert out.loc[2, "new_text"] == "other words"


def test_span_rewrite_empty_text_rows_survive(spark):
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": ["", ""]})
    out = (
        corpus.span_rewrite(spark.createDataFrame(pdf), "doc_id", "text", k=3)
        .toPandas().set_index("doc_id").sort_index()
    )
    # zero tokens: nothing to remove, rows still present with empty text
    assert list(out["n_tokens"]) == [0, 0]
    assert list(out["n_removed"]) == [0, 0]
    assert list(out["new_text"]) == ["", ""]


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
