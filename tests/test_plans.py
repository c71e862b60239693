"""Physical-plan regression tests: the optimizations the engine depends on
must stay visible in explain output — broadcast blocking joins, parquet
column pruning + filter pushdown, and the single-Exchange scoring barrier.
A plan regression here silently multiplies comparator cost at scale even
though results stay correct."""

from bayesianrecordlinkage_jl_spark.plans import oracle_queries as oq

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_blocking_join_is_broadcast(spark):
    plan = _plan(oq._pairs_spark(spark, SF).select("id_a", "id_b"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_blocking_broadcast_gated_on_corpus_size(spark):
    """Above the row knob the forced broadcast hint must disappear (AQE
    decides at runtime) — an unconditional hint OOMs at web scale."""
    d = oq.load(spark, SF, "documents")
    df = oq._pairs_from_docs(spark, d, broadcast_max_rows=0).select("id_a", "id_b")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in opt and "broadcast" not in opt.lower()
    # and the gated path still returns identical pairs
    hinted = oq._pairs_from_docs(spark, d).select("id_a", "id_b")
    assert df.exceptAll(hinted).count() == 0 and hinted.exceptAll(df).count() == 0


def test_candidate_pairs_prunes_text(spark):
    """id-only projection must not read text/toks from parquet."""
    df = oq._pairs_spark(spark, SF).select("id_a", "id_b")
    plan = _plan(df)
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for s in scans:
        assert "text" not in s, s


def test_scoring_reads_only_needed_columns(spark):
    plan = _plan(oq._scored_pairs_spark(spark, SF))
    for line in plan.splitlines():
        if "ReadSchema" in line:
            # full text is needed (prefix+tokens derive from it) but the
            # unused columns must be pruned
            assert "doc_id" in line
    assert "PushedFilters: [IsNotNull" in plan


def test_scoring_has_single_pair_barrier(spark):
    """Exactly one pair-key aggregate barrier in the scoring plan (the
    mechanism that keeps comparator kernels single-evaluation)."""
    plan = _plan(oq._scored_pairs_spark(spark, SF))
    assert plan.count("first(_lev") >= 1
    # levenshtein appears exactly once in the optimized plan (not inlined
    # into multiple CASE branches)
    opt = _optimized(oq._scored_pairs_spark(spark, SF))
    assert opt.count("levenshtein") == 1, opt


def test_weight_filter_does_not_reinline_comparators(spark):
    """Filtering on w must stay above the barrier: levenshtein still appears
    exactly once in the optimized plan."""
    from pyspark.sql import functions as F

    df = oq._scored_pairs_spark(spark, SF).where(F.col("w") > 0)
    opt = _optimized(df)
    assert opt.count("levenshtein") == 1, opt


def test_run_linkage_comparators_run_on_every_core(spark, monkeypatch):
    """run_linkage's comparator projection sits directly above a
    round-robin exchange of defaultParallelism * 2 partitions (AQE
    coalesces the post-join shuffle of the byte-small pairs to one task
    otherwise), and levenshtein still appears exactly once. The plan is
    captured at the score-vector localCheckpoint and the run stops there."""
    from bayesianrecordlinkage_jl_spark.plans.pipeline import run_linkage
    from bayesianrecordlinkage_jl_spark.sources.pages import generate_pages

    pages = generate_pages(spark, n_clusters=30, seed=5).drop("cluster_id", "host")
    frame_cls = type(pages)
    orig = frame_cls.localCheckpoint
    plans = []

    class _Captured(Exception):
        pass

    def spy(self, *a, **kw):
        plan = _plan(self)
        if "levenshtein" in plan:
            plans.append(plan)
            raise _Captured
        return orig(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    try:
        run_linkage(spark, pages)
    except _Captured:
        pass
    assert len(plans) == 1
    lines = plans[0].splitlines()
    lev = [i for i, line in enumerate(lines) if "levenshtein" in line]
    assert len(lev) == 1, plans[0]
    assert "Project" in lines[lev[0]]
    below = next(line for line in lines[lev[0] + 1:] if "Exchange" in line)
    n_part = spark.sparkContext.defaultParallelism * 2
    assert f"Exchange RoundRobinPartitioning({n_part})" in below, plans[0]


def test_mutual_best_aggregates_before_shuffle(spark):
    """mutual_best must shuffle |ids|, not |pairs|: the per-side argmax is
    a struct-MAX groupBy with a partial (map-side) aggregation, and no
    per-pair row_number window (which would sort the full pair graph
    twice) appears in the plan."""
    plan = _plan(oq.build_catalog()["mutual_best_match"]["spark"](spark, SF))
    assert "partial" in plan.lower()
    assert "row_number" not in plan.lower()


def test_mutual_best_structural_checkpoint_guards_naive_caller(spark):
    """mutual_best consumes its input twice (one argmax per side). The
    consume-twice contract is STRUCTURAL: by default the function
    localCheckpoints its input, so a naive caller handing it a raw
    comparator subtree cannot double-run scoring (the sf1 82s-vs-43s
    trap) — the optimized plan must contain ZERO levenshtein occurrences
    (the comparators ran once, at checkpoint time). materialized=True
    opts out, leaving the upstream inline (and therefore duplicated)."""
    from pyspark.sql import functions as F

    from bayesianrecordlinkage_jl_spark.operators.assignment import mutual_best

    raw = oq._scored_pairs_spark(spark, SF).select("id_a", "id_b", "w")

    guarded = _optimized(mutual_best(raw))
    assert guarded.count("levenshtein") == 0, guarded

    opted_out = _optimized(mutual_best(raw, materialized=True))
    assert opted_out.count("levenshtein") == 2, opted_out


def test_event_window_agg_partial(spark):
    """Tumbling-window agg must have a partial (map-side) aggregation."""
    plan = _plan(oq.build_catalog()["event_window_counts"]["spark"](spark, SF))
    assert "partial" in plan.lower()


def test_column_pruning_reaches_parquet_scan(spark):
    """The projection must reach the parquet ReadSchema: key-count queries
    read ONLY the key columns and text queries ONLY (id, text) — never the
    full documents row. A scan reading all columns for a 2-column
    projection is the classic 100-TB regression."""
    import re

    def read_schema(name):
        q = oq.build_catalog()[name]["spark"](spark, SF)
        plan = q._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, f"no parquet ReadSchema in {name}"
        return {c.split(":")[0] for c in m.group(1).split(",") if c}

    assert read_schema("blocking_key_counts") == {"lang", "source"}
    assert read_schema("text_stats") == {"doc_id", "text"}


def test_lsh_band_join_is_narrow(spark):
    """The sign-LSH band explode must carry only (id, band-key) rows —
    the vector payload must NOT ride the n_band_sets explode (a payload
    regression multiplies shuffle bytes by n_band_sets at scale). The
    Generate (explode) node's output must therefore never include the
    embedding column alongside the key."""
    from pyspark.sql import functions as F

    from bayesianrecordlinkage_jl_spark.operators import similarity

    emb = oq.load(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    df = similarity.lsh_bucketed_topk(emb, "vec_id", "embedding", q, dim=64, k=3)
    opt = _optimized(df)
    gen_lines = [l for l in opt.splitlines() if "Generate explode" in l]
    assert len(gen_lines) == 2  # corpus side + query side
    for line in gen_lines:
        # the Generate node neither requires nor emits the vector column —
        # only the UDF key array in, (id, _bk) out
        assert "embedding#" not in line, line
        assert "_bk#" in line, line


def test_review_queue_take_ordered_not_global_sort(spark):
    """The clerical-review top-K must compile to TakeOrderedAndProject
    (per-partition K-heaps merged at the driver), NOT a global Sort +
    single-partition WindowExec — the band can hold millions of pairs at
    scale and only K survive. The ranking window is allowed only AFTER
    the limit, where its input is K rows by construction."""
    df = oq.build_catalog()["fs_review_queue"]["spark"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # no global (non-window) sort of the full band feeds the limit
    head = plan.split("TakeOrderedAndProject")[-1]
    assert "Sort " not in head.replace("Sort [", "Sort ["), head[:400]


def test_monge_elkan_jw_evaluates_once_behind_checkpoint(spark):
    """The JW pandas UDF must never appear in the consuming plan: it runs
    exactly once, eagerly, inside the localCheckpoint'ed distinct-token-
    pair dim; both directional aggregates then consume it via BROADCAST
    joins (no Python eval per cross row, no sort-merge on the cross)."""
    from bayesianrecordlinkage_jl_spark.operators.simjoin import (
        monge_elkan_pairs,
    )

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(monge_elkan_pairs(df, "doc_id", "text"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_progressive_er_budget_cut_is_take_ordered(spark):
    """The progressive-ER budget cut must compile to
    TakeOrderedAndProject (per-partition K-heaps), not a global sort —
    the candidate set is millions of pairs at scale and only
    PROG_BUDGET survive into the closure."""
    df = oq._progressive_budget_cut(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    head = plan.split("TakeOrderedAndProject")[-1]
    assert "Sort " not in head, head[:400]


def test_cdc_boundary_hash_single_evaluation(spark):
    """cdc_chunks must show exactly TWO md5 passes in the optimized plan:
    the boundary detection (once, pinned by the hash-once aggregate
    barrier — without it CollapseProject inlines the rolling-hash array
    into both the starts and ends references) and the chunk hashing."""
    from bayesianrecordlinkage_jl_spark.operators.dedup import cdc_chunks

    df = cdc_chunks(oq.load(spark, SF, "documents"), "doc_id", "text")
    opt = _optimized(df)
    assert opt.count("md5") == 2, opt


def test_phonetic_blocking_is_equi_join(spark):
    """Phonetic blocking must compile to an equi-join on the composite
    key (hash/sort-merge), never a theta join; the key expression is
    evaluated per record below the join."""
    from bayesianrecordlinkage_jl_spark.operators import blocking
    from pyspark.sql import functions as F

    df = blocking.phonetic_blocking_pairs(
        oq.load(spark, SF, "documents"), "doc_id",
        F.regexp_extract(F.col("text"), "^[^ ]+", 0), ["lang", "source"],
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_stable_links_shuffles_pairs_once(spark):
    """stable_links is one repartition(block_id) + one applyInPandas —
    no extra exchanges, no driver round trips in the plan."""
    from bayesianrecordlinkage_jl_spark.operators.assignment import stable_links

    pairs = spark.createDataFrame(
        [(1, 2, 1.0, 1.0, 0)],
        "id_a long, id_b long, w_a double, w_b double, block_id long",
    )
    plan = _plan(stable_links(pairs))
    assert plan.count("Exchange") <= 1, plan
    assert "FlatMapGroupsInPandas" in plan


def test_pq_scan_is_broadcast_over_codes(spark):
    """The PQ ADC scan must broadcast the (small) query-side ADC tables
    over the coded corpus — one BroadcastExchange, no CartesianProduct/
    SortMergeJoin on the scan — and the corpus vector column must not
    survive past the encode projection (the scan side carries codes only;
    shipping raw vectors would undo the 64x compression that makes the
    scan viable at 100 TB)."""
    import json
    import os

    from pyspark.sql import functions as F

    from bayesianrecordlinkage_jl_spark.operators import similarity

    books_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bayesianrecordlinkage_jl_spark", "plans", "pq_codebooks.json",
    )
    with open(books_path) as f:
        books = json.load(f)
    emb = oq.load(spark, SF, "embeddings")
    df = similarity.pq_topk(
        emb, "vec_id", "embedding", emb.where(F.col("vec_id") < 10), books, k=5
    )
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # BroadcastNestedLoopJoin IS the crossJoin's physical form (there is
    # no equi key); what must not appear is the vector column on the
    # streamed (corpus) side after encode: the join node's output schema
    # must reference codes (_c0.., from _code) but never _v.
    import re

    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines and all("_v#" not in ln for ln in join_lines), plan


def test_jaccard_prefix_tokenize_once_behind_checkpoint(spark):
    """dedup_jaccard_prefix: the tokenize/sort/df-count pipeline lives
    entirely BELOW the ordered-array localCheckpoint, so the optimized
    plan above it contains no tokenization (no regexp split) and no
    sort_array — the prefix join and both verify re-attach joins consume
    the materialized arrays. Also pins equi-join shape (no cartesian)."""
    from bayesianrecordlinkage_jl_spark.operators import dedup

    df = dedup.jaccard_prefix_filter_pairs(
        oq.load(spark, SF, "documents"), "doc_id", "text", 80
    )
    opt = _optimized(df)
    assert "split(" not in opt and "sort_array" not in opt
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
