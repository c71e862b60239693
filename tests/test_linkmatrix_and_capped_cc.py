"""LinkMatrix diff set-ops, drop_outside, size-capped clustering
(iterative_bipartite_cluster2 analog), threshold sensitivity, and the small
driver helpers (minimum_margin, one-hot counts, get_mids)."""

import numpy as np
import pandas as pd
import pytest

from bayesianrecordlinkage_jl_spark.operators import em, linkmatrix
from bayesianrecordlinkage_jl_spark.operators.connected_components import (
    get_mids,
    size_capped_components,
    threshold_sensitivity,
)


def test_link_diffs(spark):
    old = spark.createDataFrame(pd.DataFrame({"id_a": [1, 2, 3], "id_b": [11, 12, 13]}))
    new = spark.createDataFrame(pd.DataFrame({"id_a": [2, 3, 4], "id_b": [12, 14, 14]}))
    rem = linkmatrix.links_removed(old, new).toPandas()
    assert set(zip(rem["id_a"], rem["id_b"])) == {(1, 11), (3, 13)}
    add = linkmatrix.links_added(old, new).toPandas()
    assert set(zip(add["id_a"], add["id_b"])) == {(3, 14), (4, 14)}
    diff = linkmatrix.links_difference(old, new).toPandas()
    got = {(r.id_a, r.id_b): r.status for r in diff.itertuples()}
    assert got[(2, 12)] == "kept"
    assert got[(1, 11)] == "removed"
    assert got[(4, 14)] == "added"


def test_drop_outside(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 1, 2], "id_b": [11, 12, 11], "w": [1.0, 1.0, 1.0]})
    )
    comps = spark.createDataFrame(
        pd.DataFrame({"node": [1, 2, 11, 12], "component": [1, 2, 1, 2]})
    )
    kept = linkmatrix.drop_outside(pairs, comps).toPandas()
    assert set(zip(kept["id_a"], kept["id_b"])) == {(1, 11)}
    assert list(kept["block_id"]) == [1]


def test_matched_comparisons(spark):
    dv = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2, 3], "g1": [1, 2, 1], "n_pairs": [5, 5, 5]})
    )
    links = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2], "id_b": [11, 12], "vec_id": [1, 1]})
    )
    got = linkmatrix.matched_comparisons(dv, links).toPandas()
    assert list(got["vec_id"]) == [1]


def test_size_capped_components_splits_hot_block(spark):
    """A 12-node hub component (66 edges at w=1.0, intra-core edges at
    w=2.0) must be split once the cap forces the threshold above 1.0."""
    rows = []
    nodes = list(range(12))
    for i in nodes:
        for j in nodes:
            if i < j:
                w = 2.0 if (i < 4 and j < 4) or (i >= 8 and j >= 8) else 1.0
                rows.append((i, j, w))
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    out = size_capped_components(edges, max_pairs=10, threshold=0.0, incr=1.0).toPandas()
    comp = dict(zip(out["node"], out["component"]))
    # after raising the threshold, the two w=2.0 cores separate
    assert comp[0] == comp[1] == comp[2] == comp[3]
    assert comp[8] == comp[9] == comp[10] == comp[11]
    assert comp[0] != comp[8]
    sizes = out.groupby("component").size()
    assert (sizes <= 5).all()


def test_size_capped_flags_unsplittable(spark):
    """All-equal weights on an oversized clique cannot be split -> flagged."""
    rows = [(i, j, 1.0) for i in range(10) for j in range(10) if i < j]
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    out = size_capped_components(edges, max_pairs=5, threshold=0.0, incr=0.5).toPandas()
    assert out["capped"].any()


def test_size_capped_no_node_loss_on_round_exhaustion(spark):
    """max_rounds=1 on an unsplittable oversized clique: every node must
    still appear in the output, flagged capped=true (previously they
    silently vanished)."""
    rows = [(i, j, 1.0) for i in range(10) for j in range(10) if i < j]
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    out = size_capped_components(
        edges, max_pairs=5, threshold=0.0, incr=0.25, max_rounds=1
    ).toPandas()
    assert set(out["node"]) == set(range(10))
    assert out["capped"].all()
    assert len(out) == 10  # exactly once each


def test_size_capped_emits_isolated_nodes_as_singletons(spark):
    """Nodes whose every edge drops below the raised threshold must come
    back as singleton components, not disappear: star hub 0 with w=1.0
    spokes (oversized at cap 3) + a w=2.0 core pair."""
    rows = [(0, i, 1.0) for i in range(1, 8)] + [(0, 100, 2.0), (100, 101, 2.0)]
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    out = size_capped_components(
        edges, max_pairs=3, threshold=0.0, incr=1.0
    ).toPandas()
    expect = set(range(8)) | {100, 101}
    assert set(out["node"]) == expect
    assert len(out) == len(expect)  # exactly once each
    comp = dict(zip(out["node"], out["component"]))
    # spokes 1..7 end as singletons once the threshold passes 1.0
    for i in range(1, 8):
        assert comp[i] == i
    assert comp[100] == comp[101]


def test_threshold_sensitivity(spark):
    rows = [(1, 2, 0.9), (2, 3, 0.5), (4, 5, 0.2)]
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    stats = threshold_sensitivity(edges, [0.1, 0.4, 0.8])
    assert stats[0]["n_components"] == 2  # {1,2,3}, {4,5}
    assert stats[1]["n_components"] == 1  # {1,2,3}
    assert stats[2]["n_components"] == 1  # {1,2}
    assert [s["threshold"] for s in stats] == [0.1, 0.4, 0.8]


def test_driver_helpers():
    assert get_mids([1.0, 2.0, 4.0]) == [1.5, 3.0]
    assert em.minimum_margin([1.0, 1.5, 3.0]) == pytest.approx(0.5)
    dv = pd.DataFrame({"vec_id": [1, 2], "g1": [1, 0], "g2": [2, 1], "n_pairs": [1, 1]})
    oh = em.one_hot_counts(dv, ["g1", "g2"], {"g1": 2, "g2": 2})
    assert oh.tolist() == [[1, 0, 0, 1], [0, 0, 1, 0]]
    assert em.observed_mask(dv, ["g1", "g2"]).tolist() == [[1, 1], [0, 1]]


def test_size_capped_exhaustion_flushes_at_measured_threshold(spark):
    """On max_rounds exhaustion the capped flush must run at the threshold
    the final oversized-check MEASURED, not one incr above it (which would
    fragment the component and mislabel sub-cap pieces as capped).

    Chain 1-2(.005) 2-3(.015) 3-4(.025) 4-5(.035), cap 1, incr .01,
    max_rounds=2: round 1 measures at t=0 (drops nothing yet), round 2
    measures at t=.01 where {2,3,4,5} is one oversized component. The buggy
    flush at t=.02 would split off node 2 as a singleton."""
    rows = [(1, 2, 0.005), (2, 3, 0.015), (3, 4, 0.025), (4, 5, 0.035)]
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    out = size_capped_components(
        edges, max_pairs=1, threshold=0.0, incr=0.01, max_rounds=2
    ).toPandas()
    assert set(out["node"]) == {1, 2, 3, 4, 5}
    assert len(out) == 5
    comp = dict(zip(out["node"], out["component"]))
    capped = dict(zip(out["node"], out["capped"]))
    # node 1 dropped out at t=.01 as an uncapped singleton
    assert comp[1] == 1 and not capped[1]
    # {2,3,4,5} stays ONE capped component (measured state at t=.01)
    assert comp[2] == comp[3] == comp[4] == comp[5]
    assert capped[2] and capped[3] and capped[4] and capped[5]


def test_size_capped_stuck_round_runs_one_cc_pass(spark, monkeypatch):
    """An oversized clique that is unsplittable at round 1 costs exactly
    one CC pass: its flagged leftovers reuse the round's labels instead of
    re-clustering the restricted edges."""
    from bayesianrecordlinkage_jl_spark.operators import connected_components as ccm

    calls = []
    orig = ccm.connected_components

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(ccm, "connected_components", counting)
    rows = [(i, j, 1.0) for i in range(6) for j in range(6) if i < j]
    rows.append((10, 11, 1.0))
    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    out = size_capped_components(
        edges, max_pairs=5, threshold=0.0, incr=0.5
    ).toPandas()
    assert len(calls) == 1
    got = {(int(r.node), int(r.component), bool(r.capped)) for r in out.itertuples()}
    assert got == {(i, 0, True) for i in range(6)} | {(10, 10, False), (11, 10, False)}


def test_size_capped_rejects_max_rounds_below_one(spark):
    edges = spark.createDataFrame(
        pd.DataFrame([(1, 2, 1.0)], columns=["src", "dst", "w"])
    )
    with pytest.raises(ValueError, match="max_rounds"):
        size_capped_components(edges, max_pairs=5, max_rounds=0)


# --- threshold-split replica; cannot-link components (cluster repair) -----


def _replica_split(edges, to_split, t0, incr, max_rounds):
    """Pure-Python replica of the threshold-split round loop shared by
    size_capped_components and cannot_link_components, union-find CC with
    min-id labels. edges: [(u,v,w)]; to_split(es, comp) -> the component
    ids still to split, given the round's above-threshold edges es [(u,v)]
    and node -> component map comp. Returns set of (node, component, flag)."""

    def cc_of(es, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in es:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        groups = {}
        for n in nodes:
            groups.setdefault(find(n), []).append(n)
        return {n: min(g) for g in groups.values() for n in g}

    out = []

    def flush(active, t):
        nodes = sorted({u for u, v, w in active} | {v for u, v, w in active})
        es = [(u, v) for u, v, w in active if w > t]
        comp = cc_of(es, nodes)
        for n in nodes:
            out.append((n, comp[n], True))

    active = list(edges)
    t = t0
    measured = t
    for r in range(max_rounds):
        measured = t
        nodes_active = sorted(
            {u for u, v, w in active} | {v for u, v, w in active}
        )
        es = [(u, v) for u, v, w in active if w > t]
        eb = {x for e in es for x in e}
        comp = cc_of(es, nodes_active)
        for n in nodes_active:
            if n not in eb:
                out.append((n, n, False))
        dirty = to_split(es, comp)
        for n in eb:
            if comp[n] not in dirty:
                out.append((n, comp[n], False))
        over = {n for n in eb if comp[n] in dirty}
        if not over:
            return set(out)
        active = [(u, v, w) for u, v, w in active if u in over and v in over]
        nt = t + incr
        if not any(t < w <= nt for u, v, w in active) and not any(
            w <= t for u, v, w in active
        ):
            flush(active, t)
            return set(out)
        t = nt
    flush(active, measured)
    return set(out)


def _replica_cannot_link(edges, constraints, t0, incr, max_rounds):
    """Replica of cannot_link_components: a component is still to split
    while it holds both ends of a distinct-node constraint pair.
    constraints: iterable of (a,b). Returns set of (node, component,
    violated)."""
    cons = {tuple(sorted((a, b))) for a, b in constraints if a != b}

    def dirty(es, comp):
        return {
            comp[a] for a, b in cons
            if a in comp and b in comp and comp[a] == comp[b]
        }

    return _replica_split(edges, dirty, t0, incr, max_rounds)


def _replica_size_capped(edges, max_pairs, t0, incr, max_rounds):
    """Replica of size_capped_components: a component is still to split
    while it holds more than max_pairs above-threshold edges. Returns set
    of (node, component, capped)."""

    def over(es, comp):
        n = {}
        for u, _v in es:
            n[comp[u]] = n.get(comp[u], 0) + 1
        return {c for c, k in n.items() if k > max_pairs}

    return _replica_split(edges, over, t0, incr, max_rounds)


def _random_weighted_graph(rng):
    """Random simple graph on <= 12 nodes, weights on a 0.2 grid."""
    n_nodes = int(rng.integers(5, 12))
    n_edges = int(rng.integers(4, 20))
    rows = []
    seen = set()
    for _ in range(n_edges):
        u, v = rng.integers(0, n_nodes, size=2)
        if u == v:
            continue
        u, v = int(min(u, v)), int(max(u, v))
        if (u, v) in seen:
            continue
        seen.add((u, v))
        rows.append((u, v, float(rng.choice([0.2, 0.4, 0.6, 0.8, 1.0]))))
    return (rows or [(0, 1, 0.4)]), n_nodes


@pytest.mark.parametrize("seed", range(6))
def test_size_capped_matches_python_replica(spark, seed):
    """Randomized graphs, caps and round budgets (round exhaustion
    included) vs the pure-Python replica of the round loop (exact
    tuple-set equality)."""
    rng = np.random.default_rng(9000 + seed)
    rows, _ = _random_weighted_graph(rng)
    max_pairs = int(rng.integers(1, 5))
    max_rounds = int(rng.integers(1, 6))
    edges = spark.createDataFrame(
        pd.DataFrame(rows, columns=["src", "dst", "w"]),
        "src long, dst long, w double",
    )
    got = size_capped_components(
        edges, max_pairs, threshold=0.1, incr=0.2, max_rounds=max_rounds
    ).toPandas()
    got_set = {
        (int(r.node), int(r.component), bool(r.capped))
        for r in got.itertuples(index=False)
    }
    want = _replica_size_capped(rows, max_pairs, 0.1, 0.2, max_rounds)
    assert got_set == want, (rows, max_pairs, max_rounds)


def _clc(spark, rows, cons, **kw):
    from bayesianrecordlinkage_jl_spark.operators.connected_components import (
        cannot_link_components,
    )

    e = spark.createDataFrame(
        pd.DataFrame(rows, columns=["src", "dst", "w"]),
        "src long, dst long, w double",
    )
    k = spark.createDataFrame(
        pd.DataFrame(cons, columns=["id_a", "id_b"]),
        "id_a long, id_b long",
    )
    return cannot_link_components(e, k, **kw).toPandas()


def test_cannot_link_splits_on_raised_threshold(spark):
    """Constraint (1,3) inside a cluster held together by w=.5 edges:
    raising the bar to .6 keeps the strong (1,2) edge, separates 3."""
    rows = [(1, 2, 0.9), (2, 3, 0.5), (1, 3, 0.5), (8, 9, 0.7)]
    out = _clc(spark, rows, [(1, 3)], threshold=0.45, incr=0.15, max_rounds=10)
    got = dict(zip(out["node"], out["component"]))
    assert got[1] == got[2] and got[3] != got[1]
    assert got[8] == got[9]  # untouched clean component
    assert not out["violated"].any()
    assert len(out) == 5


def test_cannot_link_flags_unsplittable_clique(spark):
    """Equal-weight triangle with an internal constraint cannot separate:
    flushed flagged violated=true, nothing lost."""
    rows = [(1, 2, 0.9), (2, 3, 0.9), (1, 3, 0.9)]
    out = _clc(spark, rows, [(1, 3)], threshold=0.0, incr=0.3, max_rounds=10)
    assert set(out["node"]) == {1, 2, 3}
    assert out["violated"].all()
    assert out["component"].nunique() == 1


def test_cannot_link_empty_constraints_is_plain_cc(spark):
    rows = [(1, 2, 0.9), (2, 3, 0.5), (8, 9, 0.7)]
    out = _clc(spark, rows, [], threshold=0.0, incr=1.0, max_rounds=5)
    got = dict(zip(out["node"], out["component"]))
    assert got[1] == got[2] == got[3] and got[8] == got[9]
    assert not out["violated"].any()


def test_cannot_link_self_and_duplicate_constraints_ignored(spark):
    rows = [(1, 2, 0.9)]
    out = _clc(
        spark, rows, [(1, 1), (2, 2)], threshold=0.0, incr=1.0, max_rounds=5
    )
    got = dict(zip(out["node"], out["component"]))
    assert got[1] == got[2] and not out["violated"].any()


def test_cannot_link_round_exhaustion_flushes_measured(spark):
    """max_rounds=1 with a still-violated component: flush at the measured
    threshold, every node present exactly once, flagged."""
    rows = [(1, 2, 0.5), (2, 3, 0.9)]
    out = _clc(spark, rows, [(1, 3)], threshold=0.0, incr=0.4, max_rounds=1)
    assert set(out["node"]) == {1, 2, 3}
    assert len(out) == 3
    assert out["violated"].all()


@pytest.mark.parametrize("seed", range(6))
def test_cannot_link_matches_python_replica(spark, seed):
    """Randomized graphs + random constraint sets vs the pure-Python
    replica of the round loop (exact tuple-set equality)."""
    rng = np.random.default_rng(7000 + seed)
    n_nodes = int(rng.integers(5, 12))
    n_edges = int(rng.integers(4, 20))
    rows = []
    seen = set()
    for _ in range(n_edges):
        u, v = rng.integers(0, n_nodes, size=2)
        if u == v:
            continue
        u, v = int(min(u, v)), int(max(u, v))
        if (u, v) in seen:
            continue
        seen.add((u, v))
        rows.append((u, v, float(rng.choice([0.2, 0.4, 0.6, 0.8, 1.0]))))
    if not rows:
        rows = [(0, 1, 0.4)]
    n_cons = int(rng.integers(1, 5))
    cons = []
    for _ in range(n_cons):
        a, b = rng.integers(0, n_nodes, size=2)
        cons.append((int(a), int(b)))
    kw = dict(threshold=0.1, incr=0.2, max_rounds=8)
    got = _clc(spark, rows, cons, **kw)
    got_set = {
        (int(r.node), int(r.component), bool(r.violated))
        for r in got.itertuples(index=False)
    }
    want = _replica_cannot_link(rows, cons, 0.1, 0.2, 8)
    assert got_set == want, (rows, cons)
