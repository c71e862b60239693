"""Freeze the trained (data-derived) quantities the e2e-pipeline oracles
need, so their DuckDB SQL stays STATIC (repo invariant: oracle SQL never
computes data-derived parameters at query time — same pattern as
plans/ivf_centroids.json).

Frozen per pipeline:
  two_source_links     — the EM-estimated per-comparison-vector FS weights
                         (the record fixture itself is md5-derivable in SQL,
                         so nothing else needs freezing).
  pages_linkage_clusters — the pages fixture rows (url, text, lang; the
                         generator's Zipfian host uses pow(), which is not
                         bit-portable across engines, so inputs are frozen
                         as literals) plus the EM weights.

Also records fixture-size facts the oracles' simplifications rely on
(max component pair count far under the size-cap, so capped-CC reduces to
plain CC on this fixture) and ASSERTS them at freeze time.

Usage: python scripts/freeze_e2e_oracles.py
Writes: bayesianrecordlinkage_jl_spark/plans/e2e_frozen.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {}

    # -- two_source_links: capture dvecs + EM params via the pipeline's own
    # code path (monkeypatched estimate_em), so the frozen weights are
    # exactly what link_two_sources computes at runtime -------------------
    from bayesianrecordlinkage_jl_spark.functions import comparators as C
    from bayesianrecordlinkage_jl_spark.operators import em
    from bayesianrecordlinkage_jl_spark.plans.pipeline import link_two_sources
    from bayesianrecordlinkage_jl_spark.sources.records import generate_records

    captured: dict = {}
    orig_est = em.estimate_em

    def est(dvecs, gcols, nlv, **kw):
        params = orig_est(dvecs, gcols, nlv, **kw)
        captured["dvecs"] = dvecs
        captured["gcols"] = gcols
        captured["params"] = params
        return params

    em.estimate_em = est
    try:
        ra, rb = generate_records(spark, n=600, n_match=300, seed=42)
        fexprs = {
            "g_gname": C.lev_ord(F.col("gname_a"), F.col("gname_b")),
            "g_fname": C.lev_ord(F.col("fname_a"), F.col("fname_b")),
            "g_age": C.bool_ord(
                F.nullif(F.col("age_a"), F.lit("NA")),
                F.nullif(F.col("age_b"), F.lit("NA")),
            ),
            "g_occup": C.bool_ord(
                F.nullif(F.col("occup_a"), F.lit("NA")),
                F.nullif(F.col("occup_b"), F.lit("NA")),
            ),
        }
        nlv = {"g_gname": 4, "g_fname": 4, "g_age": 2, "g_occup": 2}
        links, _params = link_two_sources(
            spark, ra, rb, fexprs, nlv, block_cols=["gender"]
        )
        n_links = links.count()
    finally:
        em.estimate_em = orig_est

    dvecs = captured["dvecs"]
    gcols = captured["gcols"]
    wpd = em.weights_vector(dvecs, gcols, captured["params"])
    merged = dvecs.merge(wpd, on="vec_id")
    out["two_source"] = {
        "gcols": gcols,
        "weights": [
            [int(row[g]) for g in gcols] + [repr(float(row["w"]))]
            for _, row in merged.iterrows()
        ],
        "n_links": int(n_links),
    }

    # -- pages_linkage_clusters ------------------------------------------
    from bayesianrecordlinkage_jl_spark.plans.pipeline import (
        LinkageConfig,
        run_linkage,
    )
    from bayesianrecordlinkage_jl_spark.sources.pages import generate_pages

    pages = generate_pages(spark, n_clusters=150).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    cfg = LinkageConfig()
    res = run_linkage(spark, pages, cfg)
    res.clusters.count()

    # frozen inputs: (url, text, lang) — text is the generated body, which
    # extract_text(html) reproduces byte-identically (pytest-asserted)
    prows = (
        pages.select("url", "text", "lang").orderBy("url").toPandas()
    )
    # EM weights per observed comparison vector, straight off the scored
    # pairs table run_linkage produced
    wmap = (
        res.pairs.select("g_lev", "g_jac", "g_lang", "w")
        .distinct()
        .toPandas()
        .sort_values(["g_lev", "g_jac", "g_lang"])
    )
    # fixture-size facts the oracle's capped-CC simplification relies on:
    # the size cap (cfg.max_block_pairs) must never trigger, i.e. at the
    # initial threshold every component's pair count is far under the cap —
    # then size_capped_components == plain connected components.
    penalty = float(cfg.penalty)
    pos = res.pairs.where(F.col("w") > penalty)
    comp_pairs = (
        pos.join(
            res.comps.withColumnRenamed("node", "id_a").select(
                "id_a", "component"
            ),
            on="id_a",
        )
        .groupBy("component")
        .count()
    )
    max_pairs = comp_pairs.agg(F.max("count")).collect()[0][0] or 0
    assert res.comps.where(F.col("capped")).count() == 0, "cap triggered"
    assert max_pairs * 4 <= cfg.max_block_pairs, (
        f"component pair count {max_pairs} too close to cap "
        f"{cfg.max_block_pairs}; capped-CC != plain CC is possible"
    )

    out["pages"] = {
        "gcols": ["g_lev", "g_jac", "g_lang"],
        "weights": [
            [int(r.g_lev), int(r.g_jac), int(r.g_lang), repr(float(r.w))]
            for r in wmap.itertuples(index=False)
        ],
        "pages": [
            [r.url, r.text, r.lang] for r in prows.itertuples(index=False)
        ],
        "penalty": repr(penalty),
        "max_component_pairs": int(max_pairs),
        "max_block_pairs_cap": int(cfg.max_block_pairs),
        "n_pages": int(len(prows)),
    }

    dst = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bayesianrecordlinkage_jl_spark", "plans", "e2e_frozen.json",
    )
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(
        f"wrote {dst}: two_source {len(out['two_source']['weights'])} vecs, "
        f"{n_links} links; pages {out['pages']['n_pages']} rows, "
        f"{len(out['pages']['weights'])} vecs, max comp pairs {max_pairs}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
