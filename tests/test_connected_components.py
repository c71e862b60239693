"""Connected components: hand-checked 2x2 adjacency cases and randomized
property tests vs a driver-side union-find oracle — direct analog of the
reference's only real unit tests (/root/reference/test/runtests.jl:41-57)."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bayesianrecordlinkage_jl_spark.operators.connected_components import (
    components_with_isolated,
    connected_components,
    summarize_components,
)


def _uf_oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-id labeling
    lab = {}
    for n in nodes:
        r = find(n)
        lab.setdefault(r, min(m for m in nodes if find(m) == r))
    return {n: lab[find(n)] for n in nodes}


def _run_cc(spark, edges):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    out = connected_components(df).toPandas()
    return dict(zip(out["node"], out["component"]))


def test_hand_checked_cases(spark):
    # 2x2 bipartite adjacency cases (runtests.jl:41-48 analog): rows {0,1},
    # cols encoded as {10,11}
    cases = [
        ([(0, 10)], {0: 0, 10: 0}),
        ([(0, 10), (1, 11)], {0: 0, 1: 1, 10: 0, 11: 1}),
        ([(0, 10), (0, 11), (1, 11)], {0: 0, 1: 0, 10: 0, 11: 0}),
        ([(0, 10), (1, 10)], {0: 0, 1: 0, 10: 0}),
    ]
    for edges, expect in cases:
        assert _run_cc(spark, edges) == expect, edges


def test_chain_and_star(spark):
    chain = [(i, i + 1) for i in range(20)]
    got = _run_cc(spark, chain)
    assert set(got.values()) == {0}
    star = [(0, i) for i in range(1, 15)]
    assert set(_run_cc(spark, star).values()) == {0}


def test_cc_raises_when_max_iter_runs_out(spark):
    """A 40-node chain is not a star forest after one large-star +
    small-star iteration: max_iter=1 must fail loudly, not return
    unconverged labels."""
    chain = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(40)], columns=["src", "dst"])
    )
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(chain, max_iter=1)
    out = connected_components(chain).toPandas()
    assert set(out["component"]) == {0} and len(out) == 41


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_property_vs_union_find(spark, seed):
    rng = random.Random(seed)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(u, v) for u, v in edges if u != v]
    nodes = sorted({x for e in edges for x in e})
    got = _run_cc(spark, edges)
    want = _uf_oracle(edges, nodes)
    assert got == want


def test_threshold_equivalence(spark):
    """bipartite_cluster(float, t) == bipartite_cluster(bool on w>t)
    (runtests.jl:51-57 analog): thresholding before CC is the only place
    weights enter."""
    rng = random.Random(7)
    rows = [
        (rng.randrange(50), 100 + rng.randrange(50), rng.random())
        for _ in range(200)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst", "w"]))
    for t in [0.2, 0.5, 0.8]:
        e_float = df.where(F.col("w") > t).select("src", "dst")
        kept = [(u, v) for u, v, w in rows if w > t]
        nodes = sorted({x for e in kept for x in e})
        got = dict(
            zip(*(lambda p: (p["node"], p["component"]))(connected_components(e_float).toPandas()))
        )
        assert got == _uf_oracle(kept, nodes)


def test_isolated_nodes_and_summary(spark):
    edges = spark.createDataFrame(pd.DataFrame([(1, 2)], columns=["src", "dst"]))
    nodes = spark.createDataFrame(pd.DataFrame({"node": [1, 2, 3, 4]}))
    cc = components_with_isolated(edges, nodes).toPandas()
    got = dict(zip(cc["node"], cc["component"]))
    assert got == {1: 1, 2: 1, 3: 3, 4: 4}
    s = summarize_components(
        spark.createDataFrame(cc)
    ).collect()[0]
    assert s["n_components"] == 3
    assert s["n_singletons"] == 2
    assert s["max_nodes"] == 2
    assert s["total_nodes"] == 4


# --- KwikCluster ----------------------------------------------------------------


def _brute_kwik(edges, rounds=10):
    """Python replica of the synchronous parallel-pivot rounds."""
    import hashlib
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    key = {
        v: hashlib.md5(f"kc|{v}".encode()).hexdigest()[:15]
        + "|" + str(v).zfill(19)
        for v in adj
    }
    active = set(adj)
    out = {}
    for r in range(1, rounds + 1):
        if not active:
            break
        piv = {
            v for v in active
            if all(key[v] < key[u] for u in adj[v] if u in active)
        }
        asg = {}
        for u in active - piv:
            pnb = [key[p] for p in adj[u] if p in active and p in piv]
            if pnb:
                asg[u] = int(min(pnb)[16:])
        for v in piv:
            out[v] = (v, r)
        for u, c in asg.items():
            out[u] = (c, r)
        active -= piv | set(asg)
    for v in active:
        out[v] = (v, -1)
    return out


def _kwik_rows(spark, edges, rounds=10):
    from bayesianrecordlinkage_jl_spark.operators.connected_components import (
        kwikcluster,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: (r["cluster"], r["assigned_round"])
        for r in kwikcluster(df, rounds=rounds).collect()
    }


def test_kwikcluster_matches_replica_and_is_star_valid(spark):
    rng = random.Random(17)
    edges = sorted({
        (min(a, b), max(a, b))
        for a, b in ((rng.randrange(60), rng.randrange(60)) for _ in range(120))
        if a != b
    })
    got = _kwik_rows(spark, edges)
    assert got == _brute_kwik(edges)
    # star validity: every non-pivot member is a VERIFIED neighbor of its
    # pivot, and pivots are mutually non-adjacent
    nbr = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    pivots = {v for v, (c, r) in got.items() if c == v and r != -1}
    for v, (c, r) in got.items():
        if v != c:
            assert c in nbr[v]
    for a, b in edges:
        assert not (a in pivots and b in pivots)
    assert all(r != -1 for _, r in got.values())  # converged in 10 rounds


def test_kwikcluster_does_not_chain_transitively(spark):
    # a 31-node path: CC gives ONE component; KwikCluster clusters are
    # pivot stars (diameter <= 2), so a path needs >= ceil(31/3) clusters
    edges = [(i, i + 1) for i in range(30)]
    got = _kwik_rows(spark, edges)
    assert got == _brute_kwik(edges)
    n_clusters = len({c for c, _ in got.values()})
    assert n_clusters >= 11
    cc = connected_components(
        spark.createDataFrame(edges, "src long, dst long")
    )
    assert cc.select("component").distinct().count() == 1


def test_kwikcluster_preconvergence_and_early_exit(spark):
    # monotone-decreasing-key worst case can't finish in 1 round; the
    # fixed-round contract still yields a total, replica-exact output
    rng = random.Random(5)
    edges = sorted({
        (min(a, b), max(a, b))
        for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(70))
        if a != b
    })
    got1 = _kwik_rows(spark, edges, rounds=1)
    assert got1 == _brute_kwik(edges, rounds=1)
    # isolated pair far from the rest: pivot + member in round 1
    got = _kwik_rows(spark, [(1000, 1001)] + edges)
    assert got[1000][1] == 1 and got[1001][1] == 1
    assert {got[1000][0], got[1001][0]} == {min(
        1000, 1001, key=lambda v: __import__("hashlib").md5(
            f"kc|{v}".encode()).hexdigest()[:15] + "|" + str(v).zfill(19)
    )}


# --- star clustering (degree-greedy pivots) --------------------------------------


def _brute_star(edges, rounds=10):
    """Python replica of star_clusters' synchronous rounds (static
    (degree DESC, node ASC) priority; cluster id at key offset 15)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    key = {
        v: str(10_000_000_000_000 - len(adj[v])).zfill(14)
        + "|" + str(v).zfill(19)
        for v in adj
    }
    active = set(adj)
    out = {}
    for r in range(1, rounds + 1):
        if not active:
            break
        piv = {
            v for v in active
            if all(key[v] < key[u] for u in adj[v] if u in active)
        }
        asg = {}
        for u in active - piv:
            pnb = [key[p] for p in adj[u] if p in active and p in piv]
            if pnb:
                asg[u] = int(min(pnb)[15:])
        for v in piv:
            out[v] = (v, r)
        for u, c in asg.items():
            out[u] = (c, r)
        active -= piv | set(asg)
    for v in active:
        out[v] = (v, -1)
    return out


def _star_rows(spark, edges, rounds=10):
    from bayesianrecordlinkage_jl_spark.operators.connected_components import (
        star_clusters,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: (r["cluster"], r["assigned_round"])
        for r in star_clusters(df, rounds=rounds).collect()
    }


def test_star_clusters_matches_replica_and_is_star_valid(spark):
    rng = random.Random(23)
    edges = sorted({
        (min(a, b), max(a, b))
        for a, b in ((rng.randrange(60), rng.randrange(60)) for _ in range(120))
        if a != b
    })
    got = _star_rows(spark, edges)
    assert got == _brute_star(edges)
    nbr = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    centers = {v for v, (c, r) in got.items() if c == v and r != -1}
    for v, (c, _r) in got.items():
        if v != c:
            assert c in nbr[v]  # member is a VERIFIED neighbor of its hub
    for a, b in edges:
        assert not (a in centers and b in centers)
    assert all(r != -1 for _, r in got.values())


def test_star_clusters_elects_the_hub(spark):
    # hub has the LARGEST id — hash order (kwikcluster) would almost
    # surely not pick it, degree order must
    edges = [(9, i) for i in range(5)]
    got = _star_rows(spark, edges)
    assert got[9] == (9, 1)
    assert all(got[i] == (9, 1) for i in range(5))
    # two hubs sharing a satellite: both centers, satellite joins the
    # higher-degree one (hub 20, degree 4 > hub 30, degree 3)
    edges = [(20, 1), (20, 2), (20, 3), (20, 99), (30, 4), (30, 5), (30, 99)]
    got = _star_rows(spark, edges)
    assert got == _brute_star(edges)
    assert got[99][0] == 20 and got[20][0] == 20 and got[30][0] == 30


def test_star_clusters_does_not_chain_transitively(spark):
    edges = [(i, i + 1) for i in range(30)]
    got = _star_rows(spark, edges)
    assert got == _brute_star(edges)
    assert len({c for c, _ in got.values()}) >= 11


# --- maximum spanning forest (Boruvka) --------------------------------------------


def _brute_boruvka(edges, rounds=8):
    """Python replica of the synchronous rounds. edges: (a, b, w) with
    a < b after canonicalization; returns {(a, b): (w, round)}."""
    from collections import defaultdict

    ew = {}
    for s, d, w in edges:
        a, b = min(s, d), max(s, d)
        if a != b:
            ew[(a, b)] = max(ew.get((a, b), w), w)
    comp = {v: v for ab in ew for v in ab}
    out = {}
    for r in range(1, rounds + 1):
        ce = [
            (a, b, w, comp[a], comp[b])
            for (a, b), w in ew.items()
            if comp[a] != comp[b]
        ]
        if not ce:
            break
        best = {}
        for a, b, w, ca, cb in ce:
            for c in (ca, cb):
                k = (-w, a, b)
                if c not in best or k < best[c][0]:
                    best[c] = (k, (a, b, w, ca, cb))
        sel = {}
        for _k, (a, b, w, ca, cb) in best.values():
            sel[(a, b)] = (w, ca, cb)
        for (a, b), (w, _ca, _cb) in sel.items():
            out[(a, b)] = (w, r)
        # contract: CC over selected component pairs, min label
        adj = defaultdict(set)
        for (_a, _b), (_w, ca, cb) in sel.items():
            adj[ca].add(cb)
            adj[cb].add(ca)
        newc = {}
        for start in adj:
            if start in newc:
                continue
            stack, seen = [start], {start}
            while stack:
                u = stack.pop()
                for v in adj[u]:
                    if v not in seen:
                        seen.add(v)
                        stack.append(v)
            root = min(seen)
            for u in seen:
                newc[u] = root
        comp = {v: newc.get(c, c) for v, c in comp.items()}
    return out


def _kruskal_weight(edges):
    ew = {}
    for s, d, w in edges:
        a, b = min(s, d), max(s, d)
        if a != b:
            ew[(a, b)] = max(ew.get((a, b), w), w)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    total = 0
    for (a, b), w in sorted(ew.items(), key=lambda kv: (-kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            total += w
    return total


def _msf_rows(spark, edges, rounds=8):
    from bayesianrecordlinkage_jl_spark.operators.connected_components import (
        max_spanning_forest,
    )

    df = spark.createDataFrame(edges, "src long, dst long, w long")
    return {
        (r["src"], r["dst"]): (r["w"], r["merge_round"])
        for r in max_spanning_forest(df, rounds=rounds).collect()
    }


def test_msf_matches_replica_and_is_max_forest(spark):
    rng = random.Random(31)
    edges = sorted({
        (min(a, b), max(a, b))
        for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(90))
        if a != b
    })
    wedges = [(a, b, rng.randrange(1, 15)) for a, b in edges]  # many w ties
    got = _msf_rows(spark, wedges)
    assert got == _brute_boruvka(wedges)
    # forest: |edges| = |nodes| - |components|
    nodes = {v for a, b, _ in wedges for v in (a, b)}
    cc = connected_components(
        spark.createDataFrame(wedges, "src long, dst long, w long")
    )
    n_comp = cc.select("component").distinct().count()
    assert len(got) == len(nodes) - n_comp
    # forest spans the same components as the full graph
    fcc = connected_components(
        spark.createDataFrame(
            [(a, b) for a, b in got], "src long, dst long"
        )
    )
    assert fcc.select("component").distinct().count() == n_comp
    # maximum: total weight equals Kruskal's (all MSFs tie on total w)
    assert sum(w for w, _ in got.values()) == _kruskal_weight(wedges)


def test_msf_multi_edge_collapse_and_empty(spark):
    # parallel edges keep the max weight; reversed orientation canonicalizes
    wedges = [(2, 1, 5), (1, 2, 9), (2, 3, 9), (3, 2, 1)]
    got = _msf_rows(spark, wedges)
    assert got == {(1, 2): (9, 1), (2, 3): (9, 1)}
    # self-loop-only input -> empty forest with the contract schema
    df = spark.createDataFrame([(7, 7, 3)], "src long, dst long, w long")
    from bayesianrecordlinkage_jl_spark.operators.connected_components import (
        max_spanning_forest,
    )

    out = max_spanning_forest(df)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "src", "dst", "w", "merge_round"
    ]


def test_msf_single_linkage_cut_equals_full_cc(spark):
    # the MSF property the catalog sells: CC over forest edges with
    # w >= t == CC over ALL edges with w >= t, for every t
    rng = random.Random(41)
    edges = sorted({
        (min(a, b), max(a, b))
        for a, b in ((rng.randrange(30), rng.randrange(30)) for _ in range(70))
        if a != b
    })
    wedges = [(a, b, rng.randrange(1, 10)) for a, b in edges]
    forest = _msf_rows(spark, wedges)

    def _cc_sets(pairs):
        if not pairs:
            return set()
        cc = connected_components(
            spark.createDataFrame(pairs, "src long, dst long")
        ).collect()
        bycomp = {}
        for r in cc:
            bycomp.setdefault(r["component"], set()).add(r["node"])
        return {frozenset(v) for v in bycomp.values()}

    for t in range(1, 11):
        full = _cc_sets([(a, b) for a, b, w in wedges if w >= t])
        cut = _cc_sets(
            [(a, b) for (a, b), (w, _r) in forest.items() if w >= t]
        )
        assert full == cut, t


def test_single_linkage_profile_consistent_with_cc(spark):
    """The catalog's dendrogram profile must equal a direct per-threshold
    CC count over the full near-dup graph at sf0.001 (the forest
    property, checked against the independent implementation)."""
    from bayesianrecordlinkage_jl_spark.plans import oracle_queries as oq

    sf = "/root/testdata/sf0.001"
    cat = oq.build_catalog()
    prof = {
        r["threshold"]: r["n_clusters"]
        for r in cat["single_linkage_profile"]["spark"](spark, sf).collect()
    }
    edges = oq._jaccard_edges_cached(spark, sf).select(
        "id_a", "id_b",
        (F.floor(F.col("jac_pct") * 100.0 + 0.5)).cast("long").alias("w"),
    ).collect()
    nodes = {r["id_a"] for r in edges} | {r["id_b"] for r in edges}
    # a CC job per threshold is the expensive independent check — sample
    # the sweep (ends + every 7th) to keep the suite inside its budget
    ts = sorted(prof)
    for t in {ts[0], ts[-1], *ts[::7]}:
        sub = [(r["id_a"], r["id_b"]) for r in edges if r["w"] >= t]
        cc = connected_components(
            spark.createDataFrame(sub, "src long, dst long")
        )
        n_linked = cc.select("node").count()
        n_comp = cc.select("component").distinct().count()
        # clusters over the GRAPH's node universe: linked components plus
        # nodes isolated at this threshold as singletons
        assert prof[t] == n_comp + (len(nodes) - n_linked), t
