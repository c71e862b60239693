"""End-to-end golden test (SURVEY.md §5 item 3): deterministic synthetic
pages table with planted duplicate clusters -> full pipeline -> pairwise
F1 >= 0.99; extraction byte-identity per url; checkpoint resume."""

import pytest
from pyspark.sql import functions as F

from bayesianrecordlinkage_jl_spark.functions.text import phash
from bayesianrecordlinkage_jl_spark.operators.incremental import cluster_pair_metrics
from bayesianrecordlinkage_jl_spark.plans.pipeline import LinkageConfig, run_linkage
from bayesianrecordlinkage_jl_spark.sources.pages import extract_text, generate_pages


def pair_f1(clusters, pages) -> dict:
    """Pairwise precision/recall/F1 of the predicted clusters vs the
    planted cluster_id (contingency-table form, no pair materialization)."""
    truth = pages.select(phash(F.col("url")).alias("node"), "cluster_id")
    return cluster_pair_metrics(
        clusters.select("node", "cluster_id"), truth,
        pred_col="cluster_id", truth_col="cluster_id",
    ).collect()[0].asDict()


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, n_clusters=400, seed=42).cache()


def test_pages_schema_and_determinism(spark, pages):
    assert dict(pages.dtypes) == {
        "url": "string",
        "warc_ts": "timestamp",
        "html": "binary",
        "text": "string",
        "lang": "string",
        "host": "string",
        "cluster_id": "bigint",
    }
    again = generate_pages(spark, n_clusters=400, seed=42)
    assert pages.exceptAll(again).count() == 0
    assert again.exceptAll(pages).count() == 0
    n = pages.count()
    assert n == pages.select("url").distinct().count()
    sizes = pages.groupBy("cluster_id").count().toPandas()["count"]
    assert sizes.min() >= 1 and sizes.max() <= 5


def test_extraction_byte_identity(pages):
    """BASELINE.json input_hint: extracted text byte-identical per url."""
    bad = pages.where(
        extract_text(F.col("html")).cast("binary") != F.col("text").cast("binary")
    ).count()
    assert bad == 0


def test_zipfian_hosts(pages):
    hosts = pages.groupBy("host").count().orderBy(F.desc("count")).toPandas()
    # hot head: top host much larger than median host
    assert hosts["count"].iloc[0] >= 10 * hosts["count"].median()


def test_pipeline_f1(spark, pages):
    res = run_linkage(spark, pages.drop("cluster_id", "host"), LinkageConfig())
    stats = pair_f1(res.clusters, pages)
    assert stats["f1"] >= 0.99, stats
    # one-to-one invariant on the links artifact
    from bayesianrecordlinkage_jl_spark.operators.assignment import assert_one_to_one

    assert assert_one_to_one(res.links)
    # EM found a high-m agreement signal
    assert res.params is not None and res.params.converged
    # no unsplittable hot blocks on this corpus; the counter is present
    assert res.counters.get("capped_nodes") == 0


def test_checkpoint_resume(spark, pages, tmp_path):
    cfg = LinkageConfig(checkpoint_dir=str(tmp_path / "ckpt"))
    inp = pages.drop("cluster_id", "host").limit(300)
    r1 = run_linkage(spark, inp, cfg)
    n1 = r1.clusters.count()
    c1 = r1.counters
    assert set(c1) >= {"docs", "candidates", "components", "links", "clusters"}
    stage_entries = {k: v for k, v in c1.items() if isinstance(v, dict)}
    assert all("partition_rows" in v for v in stage_entries.values())
    # second run resumes from checkpoints (counters unchanged, same output)
    r2 = run_linkage(spark, inp, cfg)
    assert r2.clusters.count() == n1
    assert r2.counters["links"]["completed_at"] == c1["links"]["completed_at"]


def test_checkpoint_resume_after_midpipeline_kill(spark, pages, tmp_path, monkeypatch):
    """VERDICT r3 #8: resume must survive a FAILURE, not just a re-run.
    Injected crash mid-pipeline (while the 'links' stage parquet is
    half-written: some part files exist, no manifest entry) -> resuming
    reuses every completed upstream stage untouched (completed_at
    identical), recomputes the interrupted stage over the orphaned
    directory, and converges to clusters identical to an uncheckpointed
    run. This pins the atomicity contract: the manifest swap (os.replace)
    is the commit point, so a stage directory without a manifest entry is
    garbage to be overwritten, never trusted."""
    import os

    from bayesianrecordlinkage_jl_spark.sources import checkpoint as ckpt

    ckpt_dir = tmp_path / "ckpt_kill"
    cfg = LinkageConfig(checkpoint_dir=str(ckpt_dir))
    inp = pages.drop("cluster_id", "host").limit(300)

    real_write = ckpt.StageStore.write

    def dying_write(self, stage, df, cfg_d):
        if stage == "links":
            # simulate a kill mid-write: data lands (possibly partially),
            # the process dies BEFORE the manifest commit point
            path = self.table_path(stage)
            df.write.mode("overwrite").parquet(path)
            parts = sorted(
                f for f in os.listdir(path) if f.endswith(".parquet")
            )
            if parts:  # half-complete: drop the last part file
                os.remove(os.path.join(path, parts[-1]))
            raise RuntimeError("injected mid-pipeline kill")
        return real_write(self, stage, df, cfg_d)

    monkeypatch.setattr(ckpt.StageStore, "write", dying_write)
    with pytest.raises(RuntimeError, match="injected mid-pipeline kill"):
        run_linkage(spark, inp, cfg)
    monkeypatch.setattr(ckpt.StageStore, "write", real_write)

    store = ckpt.StageStore(str(ckpt_dir))
    counters_after_crash = store.counters()
    assert "links" not in counters_after_crash  # no manifest commit
    assert os.path.isdir(store.table_path("links"))  # orphaned directory
    for st in ("docs", "candidates", "components"):
        assert st in counters_after_crash, st

    r2 = run_linkage(spark, inp, cfg)
    # completed upstream stages were REUSED, not recomputed
    for st in ("docs", "candidates", "components"):
        assert (
            r2.counters[st]["completed_at"]
            == counters_after_crash[st]["completed_at"]
        ), st
    # the interrupted stage was recomputed and committed
    assert "links" in store.counters()
    # ... and the final result is identical to an uncheckpointed run
    ref = run_linkage(spark, inp, LinkageConfig())
    got = r2.clusters.select("node", "cluster_id")
    want = ref.clusters.select("node", "cluster_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_pipeline_f1_at_5x_scale(spark):
    """Same pipeline, 5x the document count (~6000 pages, comparable to the
    sf0.1 corpus): F1 target and the one-to-one invariant must hold
    unchanged — no knob retuning with scale."""
    pages = generate_pages(spark, n_clusters=2000, seed=7).cache()
    res = run_linkage(spark, pages.drop("cluster_id", "host"), LinkageConfig())
    stats = pair_f1(res.clusters, pages)
    assert stats["f1"] >= 0.99, stats
    from bayesianrecordlinkage_jl_spark.operators.assignment import assert_one_to_one

    assert assert_one_to_one(res.links)
    pages.unpersist()


def test_pipeline_empty_and_single_inputs(spark):
    """Degenerate inputs flow through every stage without error: empty
    table -> empty clusters; single page -> one singleton cluster."""
    base = generate_pages(spark, n_clusters=5, seed=3).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    empty = base.limit(0)
    res = run_linkage(spark, empty, LinkageConfig())
    assert res.clusters.count() == 0
    assert res.links.count() == 0

    one = base.limit(1)
    res1 = run_linkage(spark, one, LinkageConfig())
    rows = res1.clusters.collect()
    assert len(rows) == 1
    assert rows[0]["cluster_id"] == rows[0]["node"]  # own-id singleton
    assert res1.links.count() == 0


def test_pipeline_exact_posterior_method(spark, pages):
    """method="exact_posterior": the Bayes-estimate resolution (exact
    marginal > 1/2 on enumerable blocks, Hungarian MAP fallback) preserves
    pipeline F1 and the one-to-one invariant."""
    from bayesianrecordlinkage_jl_spark.operators.assignment import assert_one_to_one

    res = run_linkage(
        spark,
        pages.drop("cluster_id", "host"),
        LinkageConfig(method="exact_posterior"),
    )
    stats = pair_f1(res.clusters, pages)
    assert stats["f1"] >= 0.99, stats
    assert assert_one_to_one(res.links)
