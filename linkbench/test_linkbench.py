"""Tests of the benchmark itself: span arithmetic, engine counters, tiny
smoke runs of each workload kind, and seed-stable workload shapes.

    python3 -m pytest linkbench -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
import spans as sp  # noqa: E402
import workloads as wl  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _span(name, start, end, parent=None):
    return sp.Span(name, start, end, parent, "r", {})


def test_self_times_subtract_children():
    spans = [
        _span("run_linkage", 0.0, 10.0),
        _span("blocking:a", 1.0, 3.0, 0),
        _span("blocking:b", 2.5, 4.0, 0),  # overlaps a: union counted once
        _span("cc", 5.0, 9.0, 0),
        _span("cc:inner", 6.0, 7.0, 3),
        _span("sink", 11.0, 12.0),
    ]
    assert sp.self_times(spans) == pytest.approx([3.0, 2.0, 1.5, 3.0, 1.0, 1.0])
    assert sp.layer_self_times(spans) == pytest.approx(
        {"run_linkage": 3.0, "blocking": 3.5, "cc": 4.0, "sink": 1.0})
    # wall 0..13: top-level spans cover 11 s, so 2 s are unspanned
    assert sp.unspanned(spans, 0.0, 13.0) == pytest.approx(2.0)


def test_self_times_partition_wall_time():
    spans = [
        _span("increment", 0.5, 2.0),
        _span("increment.link", 0.7, 1.2, 0),
        _span("increment.load_state", 0.55, 0.6, 0),
        _span("increment", 2.5, 3.0),
    ]
    assert abs(sp.check_partition(spans, 0.0, 3.2)) < 1e-9
    with pytest.raises(ValueError):
        # a child outside its parent breaks the partition
        sp.check_partition(spans + [_span("x", 5.0, 9.0, 0)], 0.0, 3.2)


def test_layer_counters_are_self_deltas():
    one = dict.fromkeys(sp.COUNTER_KEYS, 1)
    spans = [
        sp.Span("increment", 0, 4, None, "r", {k: 5 for k in sp.COUNTER_KEYS}),
        sp.Span("increment.link", 1, 2, 0, "r", dict(one)),
    ]
    c = sp.layer_counters(spans)
    assert c["increment"]["tasks"] == 4 and c["increment.link"]["tasks"] == 1


@pytest.fixture(scope="module")
def spark():
    from bayesianrecordlinkage_jl_spark.session import get_spark

    s = get_spark("linkbench-test", cpus=2,
                  extra_conf={"spark.driver.memory": "1g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_counter_deltas_non_negative(spark):
    from pyspark.sql import functions as F

    counters = sp.EngineCounters(spark)
    c0 = counters.snapshot()
    df = spark.range(20_000).withColumn("k", F.col("id") % 97)
    df.groupBy("k").count().collect()
    d = sp.delta(counters.snapshot(), c0)
    assert set(d) == set(sp.COUNTER_KEYS)
    assert all(v >= 0 for v in d.values())
    assert d["tasks"] > 0 and d["shuffle_write_bytes"] > 0


TINY = {
    "mirror_hot_blocks": dataclasses.replace(
        wl.WORKLOADS["mirror_hot_blocks"], pages=60, max_cluster_size=10,
        max_block_pairs=10),
    "recrawl_stream": dataclasses.replace(
        wl.WORKLOADS["recrawl_stream"], pages=60),
}


@pytest.mark.parametrize("name", sorted(TINY))
def test_tiny_smoke_run(spark, tmp_path, name):
    b = bench.Bench(spark, name, TINY[name], 11, str(tmp_path))
    setup = b.setup()
    assert len(setup) == bench.SETUP_REPS and b.inp.n_pages >= 60
    ref = b.warm_up()
    timed = b.timed(0.0, t_start=0.0)
    checks = b.verify(timed["runs"], ref)
    assert b.failed == 0 and not b.problems
    e2e = b.end_to_end(timed, checks, setup_s=1.0)
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in e2e.values())
    layers, spans = bench.traced_run(b, e2e["batch_p50_s"]["value"])
    assert spans and all(s["run_id"] == spans[0]["run_id"] for s in spans)
    assert set(layers) == {m["name"] for m in SPEC["per_layer"]}
    if name == "recrawl_stream":
        assert layers["increment.link.s"]["value"] > 0
        assert layers["increment.candidates"]["value"] > 0
        assert layers["blocking.s"]["value"] == 0
    else:
        assert layers["cc.capped_nodes"]["value"] > 0
        assert layers["assignment.links"]["value"] > 0
        assert layers["increment.link.s"]["value"] == 0


@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_second_seed_same_shape(spark, name):
    w = wl.WORKLOADS[name]
    a, b = wl.make_inputs(spark, w, 1), wl.make_inputs(spark, w, 2)
    for inp in (a, b):
        assert w.pages <= inp.n_pages < w.pages + w.max_cluster_size
    assert a.pages.schema == b.pages.schema
    assert len(a.batches) == len(b.batches) == w.batches
    if w.batches:
        assert sum(a.batch_sizes) == a.n_pages
