"""Connected components by iterative large-star / small-star DataFrame joins.

Reference analog: bipartite_cluster BFS over the thresholded weight graph
(/root/reference/src/clustering_functions.jl:15-280) and the size-capped
iterative variants (:294-489). The reference BFS is single-machine and
queue-based; here we use the Kiveris et al. (2014) alternating large-star /
small-star algorithm — O(log n) rounds of shuffle joins, the standard
distributed formulation — with localCheckpoint per round to truncate
lineage and convergence detected by a star-forest test (every leaf has one
centre, no centre is a leaf), which stops at the first iteration whose
output no further iteration would change.

Node ids are bigint. For bipartite graphs callers encode sides disjointly
(the two-source pipeline hashes ids with side-distinct prefixes —
plans/pipeline.py:link_two_sources). Component label = min node id in the
component.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Canonicalize: (u > v) ordered pairs, no self-loops, distinct."""
    u, v = F.col("src"), F.col("dst")
    return (
        edges.select(
            F.greatest(u, v).alias("src"), F.least(u, v).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: connect every strictly-larger neighbor of u to u's
    min(neighborhood ∪ {u}).

    No output distinct: duplicates are tolerated under bag semantics (the
    downstream small-star groupBy/min is duplicate-insensitive) and the
    round ends with one distinct — one shuffle per round instead of three.
    """
    bidir = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = bidir.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("mnn")
    )
    # join neighbor lists back; emit (v, mnn(u)) for v > u
    return (
        bidir.join(m, on="src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mnn").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: for each u, connect all neighbors <= u (and u) to the min.

    Output is canonical (src > dst, no self-loops) and distinct — callers
    need no extra _canon pass."""
    # orientation-only canonicalization (no distinct — groupBy dedups)
    u, v = F.col("src"), F.col("dst")
    e = edges.select(
        F.greatest(u, v).alias("src"), F.least(u, v).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    m = e.groupBy("src").agg(F.min("dst").alias("mnn"))
    out = (
        e.join(m, on="src")
        .select(F.col("dst").alias("src"), F.col("mnn").alias("dst"))
        .union(m.select("src", F.col("mnn").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return out


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the canonical edge set (src > dst, distinct) is a star
    forest: every leaf (src) has exactly one centre (dst) and no centre is
    itself a leaf. ONE aggregate job. At that state a centre is the min of
    its star, and a further large-star + small-star iteration returns the
    same edges, so the labels are final."""
    roles = edges.select(
        F.col("src").alias("node"), F.lit(1).alias("leaf"), F.lit(0).alias("centre")
    ).unionByName(
        edges.select(
            F.col("dst").alias("node"), F.lit(0).alias("leaf"), F.lit(1).alias("centre")
        )
    )
    per = roles.groupBy("node").agg(
        F.sum("leaf").alias("leaf"), F.max("centre").alias("centre")
    )
    bad = per.agg(
        F.count(
            F.when((F.col("leaf") > 1) | ((F.col("leaf") > 0) & (F.col("centre") > 0)), 1)
        ).alias("bad")
    ).collect()[0]["bad"]
    return bad == 0


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """-> DataFrame(node bigint, component bigint); component = min node id.

    Iterates large-star + small-star until the edges form a star forest
    (_is_star_forest, one aggregate per iteration); raises RuntimeError
    when max_iter iterations do not get there, rather than returning
    unconverged labels.

    Isolated nodes don't appear (no edges) — callers union them back with
    component = own id (matching the reference's label-0-isolated
    convention, /root/reference/src/clustering_functions.jl:30).
    """
    e = _canon(
        edges.select(F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst"))
    ).localCheckpoint()
    for _ in range(max_iter):
        # small-star output is already canonical + distinct
        e = _small_star(_large_star(e)).localCheckpoint()
        if _is_star_forest(e):
            break
    else:
        raise RuntimeError(
            f"connected_components: no star forest after max_iter={max_iter} iterations"
        )
    # at a star forest every edge is (leaf, centre), centre = min node of
    # the component, and no node is both: each node appears exactly once
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.unionByName(roots)


def components_with_isolated(
    edges: DataFrame, nodes: DataFrame, node_col: str = "node",
    cc: DataFrame | None = None,
) -> DataFrame:
    """CC plus isolated nodes labeled by their own id.

    `cc` lets a caller that already materialized connected_components(edges)
    (e.g. the catalog's session memo) reuse it instead of re-iterating."""
    if cc is None:
        cc = connected_components(edges)
    allnodes = nodes.select(F.col(node_col).cast("long").alias("node")).distinct()
    return (
        allnodes.join(cc, on="node", how="left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def _nodes(edges: DataFrame) -> DataFrame:
    """Distinct endpoints of an edge table, as (node)."""
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _threshold_split(
    weighted_edges: DataFrame,
    to_split,
    flag: str,
    threshold: float,
    incr: float,
    max_rounds: int,
) -> DataFrame:
    """The iterative_bipartite_cluster2 round loop (reference
    src/clustering_functions.jl:390-489): cluster the active edges above
    the threshold, emit every component that passes, keep only the edges
    inside the components `to_split` names, raise the threshold by incr and
    repeat — until nothing is left to split, the remaining blocks are
    unsplittable (no active edge would drop at the next threshold), or
    max_rounds runs out. Leftovers are returned with `flag` = true (the
    reference warns, :465).

    to_split(above, cc) -> DataFrame(component): the component ids of cc
    that must split again, given the round's above-threshold edges.
    Returns (node, component, flag). max_rounds must be >= 1.

    The leftovers are the last round's components still to split, with the
    labels that round's CC already computed: the restricted edges above
    the MEASURED threshold are exactly that round's above-threshold edges
    inside those components, so re-clustering them would return the same
    labels (and clustering one incr higher would fragment components that
    already pass the check).

    incr granularity contract: a raise that would drop NO active edge
    declares the block unsplittable and emits it flagged — pick incr fine
    enough that each raise crosses at least one remaining edge weight, or
    accept the flag as "no progress at this schedule".

    Per round: one CC pass plus six Spark actions (the cc, to-split and
    isolated-plus-ok checkpoints, the emptiness probe, the restricted-edge
    checkpoint and one scalar aggregate).
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    active = weighted_edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long"), F.col("w")
    ).localCheckpoint()
    done_parts: list[DataFrame] = []
    cur_t = threshold
    for _ in range(max_rounds):
        above = active.where(F.col("w") > cur_t)
        # consumed by isolated / to_split / ok / over
        cc = connected_components(above).localCheckpoint()
        # tiny (<= #components rows); consumed by ok / over / the probe
        dirty = to_split(above, cc).localCheckpoint()
        # nodes whose every edge fell below the raised threshold become
        # singletons NOW — without this they appear in no component and
        # vanish from the output
        isolated = _nodes(active).join(cc, on="node", how="left_anti").select(
            "node", F.col("node").alias("component")
        )
        ok = cc.join(dirty, on="component", how="left_anti").select(
            "node", "component"
        )
        done_parts.append(
            isolated.unionByName(ok)
            .withColumn(flag, F.lit(False))
            .localCheckpoint()
        )
        # a dirty component always has nodes, so probing the checkpointed
        # component set replaces a node-level probe
        if dirty.limit(1).count() == 0:
            return functools.reduce(DataFrame.unionByName, done_parts)
        over = cc.join(dirty, on="component", how="left_semi")
        # restrict to edges with BOTH endpoints inside dirty components
        # (a src-only restriction leaks below-threshold edges into nodes
        # already emitted, double-counting them next round)
        nodes_over = over.select("node")
        active = (
            active.join(
                nodes_over.withColumnRenamed("node", "src"), on="src", how="left_semi"
            )
            .join(nodes_over.withColumnRenamed("node", "dst"), on="dst", how="left_semi")
            .localCheckpoint()
        )
        new_t = cur_t + incr
        # unsplittable: no edge would be dropped by the higher threshold —
        # ONE aggregate over the (just-checkpointed) restricted edges
        # supplies both emptiness signals
        row = active.agg(
            F.count(
                F.when((F.col("w") > cur_t) & (F.col("w") <= new_t), 1)
            ).alias("drop_next"),
            F.count(F.when(F.col("w") <= cur_t, 1)).alias("below"),
        ).collect()[0]
        if row["drop_next"] == 0 and row["below"] == 0:
            break
        cur_t = new_t
    # stuck, or max_rounds exhausted: the components still to split leave
    # flagged, labeled at the threshold their split check was measured at
    done_parts.append(over.select("node", "component", F.lit(True).alias(flag)))
    return functools.reduce(DataFrame.unionByName, done_parts)


def size_capped_components(
    weighted_edges: DataFrame,
    max_pairs: int,
    threshold: float = 0.0,
    incr: float = 0.01,
    max_rounds: int = 50,
) -> DataFrame:
    """iterative_bipartite_cluster2 analog (reference
    src/clustering_functions.jl:390-489): cluster at the base threshold,
    then re-cluster every oversized component (pair count > max_pairs) at
    progressively higher thresholds until all components fit or an
    unsplittable hot block remains (the reference warns, :465 — we return
    it flagged with `capped = true` so callers can salt/prune it).

    This IS the skew-splitting stage: at web scale a boilerplate-heavy hot
    block would otherwise blow up the per-block solver.

    weighted_edges: (src, dst, w). Returns (node, component, capped).
    """

    def oversized(above: DataFrame, cc: DataFrame) -> DataFrame:
        # pair count per component = edges above threshold per component
        return (
            above.join(cc.withColumnRenamed("node", "src"), on="src")
            .groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .where(F.col("n_pairs") > max_pairs)
            .select("component")
        )

    return _threshold_split(
        weighted_edges, oversized, "capped", threshold, incr, max_rounds
    )


def cannot_link_components(
    weighted_edges: DataFrame,
    cannot_link: DataFrame,
    threshold: float = 0.0,
    incr: float = 0.01,
    max_rounds: int = 50,
) -> DataFrame:
    """Constraint-aware cluster repair: connected components under
    cannot-link constraints, resolved by threshold raising.

    Same round loop as size_capped_components (the reference's
    iterative_bipartite_cluster2 shape,
    /root/reference/src/clustering_functions.jl:390-489) with the
    oversize predicate replaced by a constraint-violation predicate: a
    component is DIRTY while it contains both endpoints of any cannot-link
    pair. Clean components emit immediately; dirty ones are re-clustered at
    progressively higher similarity thresholds until every constraint pair
    separates or the block is unsplittable (no edge would drop at the next
    threshold — returned flagged `violated = true`, mirroring the
    reference's warn branch for unsplittable hot blocks).

    This models negative rules in web-scale ER (distinct canonical URLs,
    conflicting registrant countries, editorial do-not-merge lists):
    rather than deleting constraint edges — which does NOT guarantee
    separation when other paths exist — the repair raises the evidence bar
    inside the offending cluster only, so the rest of the graph's
    clustering is untouched and each round's work shrinks to the dirty
    node set.

    weighted_edges: (src, dst, w). cannot_link: (id_a, id_b) pairs that
    must not share a component (canonicalized + deduped here; self-pairs
    dropped — they are unsatisfiable and meaningless).
    Returns (node, component, violated). The incr granularity contract of
    _threshold_split applies.
    """
    kl = (
        cannot_link.select(
            F.greatest(F.col("id_a").cast("long"), F.col("id_b").cast("long")).alias("id_a"),
            F.least(F.col("id_a").cast("long"), F.col("id_b").cast("long")).alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
        .localCheckpoint()  # consumed once per round
    )

    def violated(_above: DataFrame, cc: DataFrame) -> DataFrame:
        # singletons can never hold a distinct-node constraint pair
        return (
            kl.join(cc.select(F.col("node").alias("id_a"), "component"), on="id_a")
            .join(
                cc.select(
                    F.col("node").alias("id_b"),
                    F.col("component").alias("component_b"),
                ),
                on="id_b",
            )
            .where(F.col("component") == F.col("component_b"))
            .select("component")
            .distinct()
        )

    return _threshold_split(
        weighted_edges, violated, "violated", threshold, incr, max_rounds
    )


def threshold_sensitivity(
    weighted_edges: DataFrame, thresholds: list[float]
) -> list[dict]:
    """threshold_sensitivity analog
    (/root/reference/src/weight_functions.jl:471-484): component-size
    statistics at each candidate blocking threshold (driver diagnostic).

    Cost model: one CC fixpoint (several Spark jobs) PER threshold — O(len
    (thresholds)) sequential jobs by design, matching the reference's loop.
    Fine as a diagnostic over a shortlist of candidate thresholds; for a
    dense grid, prefer one size_capped_components run (single pass,
    thresholds discovered adaptively) or localCheckpoint the edge table
    before calling so each round starts from materialized edges."""
    out = []
    for t in thresholds:
        cc = connected_components(weighted_edges.where(F.col("w") > t))
        row = summarize_components(cc).collect()[0]
        out.append({"threshold": t, **row.asDict()})
    return out


def get_mids(values: list[float]) -> list[float]:
    """Midpoints between sorted distinct values (threshold grid,
    /root/reference/src/connectedcomponents.jl:116-119). Driver-side."""
    s = sorted(set(values))
    return [(a + b) / 2.0 for a, b in zip(s, s[1:])]


def summarize_components(components: DataFrame) -> DataFrame:
    """Component-size statistics (summarize_components / count_pairs /
    maxcomponent_pairs / count_singleton analogs,
    /root/reference/src/connectedcomponents.jl:63-186)."""
    sizes = components.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum(F.when(F.col("n_nodes") == 1, 1).otherwise(0)).alias("n_singletons"),
        F.max("n_nodes").alias("max_nodes"),
        F.sum("n_nodes").alias("total_nodes"),
    )


# ---------------------------------------------------------------------------
# KwikCluster: correlation clustering by parallel pivots
# ---------------------------------------------------------------------------

# Total pivot order: 60-bit portable hash (15 lowercase hex chars of md5 —
# lexicographic == numeric on fixed width) salted with 'kc|', then '|' and
# the zero-padded node id as an unconditional tie-break; the node id is
# recovered from the key tail (substr 17, 19). Requires non-negative ids
# (zero-pad keeps numeric order only then) — true repo-wide.
_KC_KEY_SPARK = (
    "substring(md5(concat('kc|', CAST(node AS STRING))), 1, 15) || '|' "
    "|| lpad(CAST(node AS STRING), 19, '0')"
)
_KC_KEY_DUCK = (
    "substr(md5('kc|' || CAST(node AS VARCHAR)), 1, 15) || '|' "
    "|| lpad(CAST(node AS VARCHAR), 19, '0')"
)


def kwikcluster(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 10,
) -> DataFrame:
    """-> (node, cluster, assigned_round): correlation clustering of a
    positive-edge similarity graph by KwikCluster pivots (Ailon, Charikar
    & Newman, JACM 2008) run in synchronous parallel rounds (the
    MapReduce formulation of Chierichetti, Dalvi & Kumar, KDD 2014) —
    the ER clustering that does NOT transitively chain: connected
    components merge "a~b, b~c, c~d" into one entity even when a and d
    share nothing (the classic over-merge on webtext boilerplate chains);
    KwikCluster clusters are pivot stars, so every member is a VERIFIED
    neighbor of its pivot, and inter-cluster positive edges are the
    disagreements the 3-approximation bounds.

    Determinism (the repo contract, over the randomized original): the
    pivot permutation is the portable 60-bit hash order above — fixed,
    replayable, identical in both engines — rather than a fresh random
    permutation; the expectation guarantee becomes a fixed-permutation
    heuristic, which is the price of bit-strict replay (same disposition
    as the frozen IVF centroids). Per round, every active node that
    precedes ALL its active neighbors in key order becomes a pivot
    (adjacent pivots are impossible: each would need the smaller key);
    every active node with a pivot neighbor joins its MINIMUM-key pivot
    neighbor; both deactivate. Rounds are synchronous and fixed-count, so
    the DuckDB twin replays them as chained CTEs (the kcore pattern) and
    the output is well-defined even pre-convergence: nodes still active
    after `rounds` rounds exit as singletons with assigned_round = -1.
    Every round clusters at least the globally-minimum active node, and
    under the hash order the expected round count is O(log n); the
    catalog pins convergence on its fixture (no -1 rows) in pytest.

    Isolated nodes (no edges) never appear — callers union them back as
    singletons, the components_with_isolated convention.

    100-TB notes: per round = two node-keyed semi-joins + one map-side
    MIN per endpoint + one anti-join — state is |active| rows and only
    shrinks; the symmetric adjacency is localCheckpoint'ed ONCE and
    reused every round (never re-derived); per-round outputs are
    node-keyed (the pair graph is never sorted or windowed). Early-exit
    when the active set empties keeps the Spark side from paying empty
    rounds (the SQL twin's remaining CTEs are empty no-ops, same result).

    Reference analog: none — the reference clusters by thresholded CC
    (src/clustering_functions.jl); this is the standard correction its
    users need when transitive closure over-merges."""
    e = _canon(
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
    )
    adj = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint()  # reused every round
    )
    act = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("k", F.expr(_KC_KEY_SPARK))
        .localCheckpoint()
    )
    return _pivot_rounds(adj, act, rounds, cl_sub_start=17)


def _pivot_rounds(
    adj: DataFrame, act: DataFrame, rounds: int, cl_sub_start: int
) -> DataFrame:
    """Shared synchronous pivot-star loop: per round, an active node whose
    key precedes every active neighbor's becomes a pivot; active nodes
    with a pivot neighbor join their MIN-key pivot; both deactivate.
    With a STATIC key this reproduces the sequential greedy over key
    order exactly. `act` carries (node, k) where k is a string whose
    19-char zero-padded node id starts at `cl_sub_start` (1-based)."""
    cl_expr = f"CAST(substring(mpk, {cl_sub_start}, 19) AS BIGINT)"
    parts = []
    for r in range(1, rounds + 1):
        if act.count() == 0:
            break
        a_s = act.select(F.col("node").alias("src"))
        a_d = act.select(F.col("node").alias("dst"), F.col("k").alias("k_dst"))
        actadj = adj.join(a_s, "src").join(a_d, "dst")
        minnb = actadj.groupBy("src").agg(F.min("k_dst").alias("mk"))
        piv = (
            act.join(minnb.withColumnRenamed("src", "node"), "node", "left")
            .where(F.col("mk").isNull() | (F.col("k") < F.col("mk")))
            .select("node", "k")
        )
        asg = (
            actadj.join(
                piv.select(F.col("node").alias("dst"), F.col("k").alias("pk")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("pk").alias("mpk"))
            .select(
                F.col("src").alias("node"),
                F.expr(cl_expr).alias("cluster"),
                F.lit(r).cast("long").alias("assigned_round"),
            )
        )
        clustered = (
            piv.select(
                "node",
                F.col("node").alias("cluster"),
                F.lit(r).cast("long").alias("assigned_round"),
            )
            .unionByName(asg)
            .localCheckpoint()  # consumed by output + the anti-join
        )
        parts.append(clustered)
        act = act.join(
            clustered.select("node"), "node", "left_anti"
        ).localCheckpoint()
    leftover = act.select(
        "node",
        F.col("node").alias("cluster"),
        F.lit(-1).cast("long").alias("assigned_round"),
    )
    out = leftover
    for p in parts:
        out = out.unionByName(p)
    return out


def kwikcluster_sql(edges_expr: str, rounds: int = 10) -> str:
    """Twin of kwikcluster: the fixed-round synchronous replay as chained
    CTEs (DuckDB recursive CTEs can reference the recursive relation only
    once; each round here consumes the active set three times — the kcore
    peel-replay pattern)."""
    ctes = [
        f"""eraw AS (
      SELECT greatest(src, dst) AS src, least(src, dst) AS dst
      FROM (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
            FROM ({edges_expr}))
      WHERE src <> dst
    )""",
        """adj AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM eraw
        UNION ALL SELECT dst AS src, src AS dst FROM eraw)
    )""",
        f"""act0 AS MATERIALIZED (
      SELECT node, {_KC_KEY_DUCK} AS k
      FROM (SELECT DISTINCT src AS node FROM adj)
    )""",
    ]
    return "WITH " + ",\n    ".join(
        ctes + _pivot_rounds_ctes(rounds, cl_sub_start=17)
    ) + _pivot_rounds_final_sql(rounds)


def _pivot_rounds_ctes(rounds: int, cl_sub_start: int) -> list[str]:
    """Per-round CTEs of the shared pivot-star replay; expects `adj`
    (symmetric, distinct) and `act0` (node, k) to be defined upstream."""
    ctes: list[str] = []
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""mnb{r} AS (
      SELECT e.src AS node, min(d.k) AS mk
      FROM adj e JOIN act{p} s ON e.src = s.node
                 JOIN act{p} d ON e.dst = d.node
      GROUP BY e.src
    )""")
        ctes.append(f"""piv{r} AS MATERIALIZED (
      SELECT a.node, a.k
      FROM act{p} a LEFT JOIN mnb{r} m USING (node)
      WHERE m.mk IS NULL OR a.k < m.mk
    )""")
        ctes.append(f"""asg{r} AS (
      SELECT s.node AS node,
             CAST(substr(min(p.k), {cl_sub_start}, 19) AS BIGINT)
               AS cluster,
             CAST({r} AS BIGINT) AS assigned_round
      FROM adj e JOIN act{p} s ON e.src = s.node
                 JOIN piv{r} p ON e.dst = p.node
      GROUP BY s.node
    )""")
        ctes.append(f"""clu{r} AS MATERIALIZED (
      SELECT node, node AS cluster, CAST({r} AS BIGINT) AS assigned_round
      FROM piv{r}
      UNION ALL SELECT node, cluster, assigned_round FROM asg{r}
    )""")
        ctes.append(f"""act{r} AS MATERIALIZED (
      SELECT a.node, a.k
      FROM act{p} a LEFT JOIN clu{r} c USING (node)
      WHERE c.node IS NULL
    )""")
    return ctes


def _pivot_rounds_final_sql(rounds: int) -> str:
    unions = "\n      UNION ALL ".join(
        f"SELECT node, cluster, assigned_round FROM clu{r}"
        for r in range(1, rounds + 1)
    )
    return f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(cluster AS BIGINT) AS cluster,
           assigned_round
    FROM (
      {unions}
      UNION ALL SELECT node, node AS cluster, CAST(-1 AS BIGINT)
        AS assigned_round FROM act{rounds}
    )
    """


# ---------------------------------------------------------------------------
# star clustering: degree-greedy pivot stars (Aslam, Pelekhov & Rus 2004,
# disjoint variant) — same synchronous-rounds machinery as kwikcluster,
# but the pivot order is (degree DESC, node ASC) instead of the hash
# permutation: hubs become centers, so cluster representatives are the
# best-connected members rather than hash-arbitrary ones
# ---------------------------------------------------------------------------

# MIN-ordered key: inverted degree (14 digits covers deg < 10^13), then
# node id — lexicographic min == (max degree, then min node)
_STAR_DEG_CAP = 10_000_000_000_000


def star_clusters(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 10,
) -> DataFrame:
    """-> (node, cluster, assigned_round): disjoint star clustering of a
    positive-edge similarity graph. Priority is STATIC full-graph degree
    (ties: smaller node id — total order), so the synchronous rounds
    reproduce the sequential greedy exactly: highest-degree unassigned
    node becomes a center, its unassigned neighbors attach, repeat.
    Versus kwikcluster (hash-ordered pivots), centers here are hubs —
    every member is a verified neighbor of the best-connected
    representative, the shape wanted for canonical-record election.

    Same non-chaining guarantee as kwikcluster: clusters are pivot stars,
    never transitive chains. Nodes still active after `rounds` rounds
    exit as singletons with assigned_round = -1 (the catalog fixture pins
    convergence); isolated nodes never appear (callers union them back).

    100-TB notes: identical loop shape to kwikcluster (state only
    shrinks, adjacency checkpointed once, node-keyed aggregates only)
    plus ONE extra map-side degree aggregate up front."""
    e = _canon(
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
    )
    adj = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint()  # reused every round + the degree aggregate
    )
    act = (
        adj.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("_deg"))
        .select(
            "node",
            F.expr(
                f"lpad(CAST({_STAR_DEG_CAP} - _deg AS STRING), 14, '0') "
                "|| '|' || lpad(CAST(node AS STRING), 19, '0')"
            ).alias("k"),
        )
        .localCheckpoint()
    )
    return _pivot_rounds(adj, act, rounds, cl_sub_start=16)


def star_clusters_sql(edges_expr: str, rounds: int = 10) -> str:
    """Twin of star_clusters (same degree key, same chained-CTE replay)."""
    ctes = [
        f"""eraw AS (
      SELECT greatest(src, dst) AS src, least(src, dst) AS dst
      FROM (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
            FROM ({edges_expr}))
      WHERE src <> dst
    )""",
        """adj AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM eraw
        UNION ALL SELECT dst AS src, src AS dst FROM eraw)
    )""",
        f"""act0 AS MATERIALIZED (
      SELECT node,
             lpad(CAST({_STAR_DEG_CAP} - _deg AS VARCHAR), 14, '0')
               || '|' || lpad(CAST(node AS VARCHAR), 19, '0') AS k
      FROM (SELECT src AS node, CAST(count(*) AS BIGINT) AS _deg
            FROM adj GROUP BY src)
    )""",
    ]
    return "WITH " + ",\n    ".join(
        ctes + _pivot_rounds_ctes(rounds, cl_sub_start=16)
    ) + _pivot_rounds_final_sql(rounds)


# ---------------------------------------------------------------------------
# Boruvka maximum spanning forest: the exact single-linkage backbone.
# threshold_sensitivity re-runs CC per threshold over the FULL edge set;
# the MSF is the |V|-1-edge summary that answers every threshold cut at
# once (single-linkage clusters at ANY t = CC over forest edges with
# w >= t), so dendrogram-style analyses touch |V| edges, not |E|.
# ---------------------------------------------------------------------------


def max_spanning_forest(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    rounds: int = 8,
) -> DataFrame:
    """edges(src, dst, w BIGINT) -> (src, dst, w, merge_round): the
    maximum spanning forest by synchronous Boruvka rounds. Priorities are
    the STRICT total order (w DESC, src ASC, dst ASC) — (src,dst) is
    unique after the max-w multi-edge collapse — so per-component best
    edges are deterministic, the selection graph is acyclic apart from
    mutual picks of the SAME edge (deduped), and the result is a true
    maximum spanning forest of the integer weights (the lexicographic
    perturbation argument). Weights must be BIGINT (the repo's
    quantize-to-integer convention) so cross-engine compare is exact.

    Per round every component's best incident edge joins the forest and
    components contract (CC over the selected component graph), so the
    component count at least halves: `rounds` = 8 completes any forest
    whose trees need <= 2^8 Boruvka merges; unconverged rounds would
    leave the forest partial (the catalog fixture pins convergence —
    the final round selects nothing).

    100-TB notes: the weighted edge list is canonicalized + max-collapsed
    once and localCheckpoint'ed (consumed 2x per round: label join +
    nothing else — incidence/best/selection all derive from that join);
    per round the shuffles are edge-keyed label joins and a component-
    keyed struct-MAX (map-side combined); the contraction CC runs on the
    SELECTED edges only (<= #components rows, halving each round) —
    the full edge set is never sorted, windowed, or self-joined."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"),
            F.col(w).cast("long").alias("w"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
        .localCheckpoint()
    )
    lbl = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    parts: list[DataFrame] = []
    for r in range(1, rounds + 1):
        ce = (
            e.join(
                lbl.select(F.col("node").alias("a"), F.col("comp").alias("ca")),
                on="a",
            )
            .join(
                lbl.select(F.col("node").alias("b"), F.col("comp").alias("cb")),
                on="b",
            )
            .where(F.col("ca") != F.col("cb"))
            .localCheckpoint()  # consumed by the emptiness probe + both
            # incidence directions
        )
        if ce.count() == 0:
            break
        inc = ce.select(
            F.col("ca").alias("c"), "a", "b", "w", "ca", "cb"
        ).unionByName(
            ce.select(F.col("cb").alias("c"), "a", "b", "w", "ca", "cb")
        )
        best = inc.groupBy("c").agg(
            F.max(
                F.struct(
                    F.col("w"),
                    (-F.col("a")).alias("_na"),
                    (-F.col("b")).alias("_nb"),
                    F.col("a"),
                    F.col("b"),
                    F.col("ca"),
                    F.col("cb"),
                )
            ).alias("_e")
        )
        sel = (
            best.select(
                F.col("_e.a").alias("a"),
                F.col("_e.b").alias("b"),
                F.col("_e.w").alias("w"),
                F.least("_e.ca", "_e.cb").alias("x"),
                F.greatest("_e.ca", "_e.cb").alias("y"),
            )
            .distinct()
            .localCheckpoint()  # consumed by output + the contraction CC
        )
        parts.append(
            sel.select(
                F.col("a").alias("src"), F.col("b").alias("dst"), "w",
                F.lit(r).cast("long").alias("merge_round"),
            )
        )
        cmap = connected_components(
            sel.select(F.col("x").alias("src"), F.col("y").alias("dst"))
        ).select(F.col("node").alias("_oldc"), F.col("component").alias("_newc"))
        lbl = (
            lbl.join(cmap, lbl["comp"] == cmap["_oldc"], "left")
            .select(
                "node", F.coalesce("_newc", F.col("comp")).alias("comp")
            )
            .localCheckpoint()
        )
    if not parts:
        schema = "src long, dst long, w long, merge_round long"
        return edges.sparkSession.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def max_spanning_forest_sql(edges_expr: str, rounds: int = 8) -> str:
    """Twin of max_spanning_forest: chained recursive-CTE blocks (the
    capped-CC pattern — DISTINCT over UNION ALL inside WITH RECURSIVE,
    one recursive contraction walk per round over the selected edges)."""
    ctes = [
        f"""msfe AS MATERIALIZED (
      SELECT a, b, max(w) AS w FROM (
        SELECT least(src, dst) AS a, greatest(src, dst) AS b,
               CAST(w AS BIGINT) AS w
        FROM ({edges_expr})
        WHERE src <> dst)
      GROUP BY a, b
    )""",
        """lbl_0 AS MATERIALIZED (
      SELECT node, node AS comp FROM (SELECT DISTINCT n AS node FROM (
        SELECT a AS n FROM msfe UNION ALL SELECT b AS n FROM msfe))
    )""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""ce_{r} AS MATERIALIZED (
      SELECT e.a, e.b, e.w, la.comp AS ca, lb.comp AS cb
      FROM msfe e JOIN lbl_{p} la ON e.a = la.node
                  JOIN lbl_{p} lb ON e.b = lb.node
      WHERE la.comp <> lb.comp
    )""")
        ctes.append(f"""best_{r} AS MATERIALIZED (
      SELECT c, a, b, w, ca, cb FROM (
        SELECT *, row_number() OVER (
          PARTITION BY c ORDER BY w DESC, a ASC, b ASC) AS _r
        FROM (SELECT ca AS c, a, b, w, ca, cb FROM ce_{r}
              UNION ALL SELECT cb AS c, a, b, w, ca, cb FROM ce_{r})
      ) WHERE _r = 1
    )""")
        ctes.append(f"""sel_{r} AS MATERIALIZED (
      SELECT DISTINCT a, b, w, least(ca, cb) AS x, greatest(ca, cb) AS y
      FROM best_{r}
    )""")
        ctes.append(f"""selbi_{r} AS MATERIALIZED (
      SELECT x AS p, y AS q FROM sel_{r}
      UNION ALL SELECT y AS p, x AS q FROM sel_{r}
    )""")
        ctes.append(f"""cwalk_{r}(node, comp) AS (
      SELECT p, p FROM (SELECT DISTINCT p FROM selbi_{r})
      UNION
      SELECT s.q, cw.comp FROM cwalk_{r} cw JOIN selbi_{r} s ON s.p = cw.node
      WHERE cw.comp < s.q
    )""")
        ctes.append(f"""cmap_{r} AS MATERIALIZED (
      SELECT node AS oldc, min(comp) AS newc FROM cwalk_{r} GROUP BY node
    )""")
        ctes.append(f"""lbl_{r} AS MATERIALIZED (
      SELECT l.node, coalesce(m.newc, l.comp) AS comp
      FROM lbl_{p} l LEFT JOIN cmap_{r} m ON l.comp = m.oldc
    )""")
    unions = "\n      UNION ALL ".join(
        f"SELECT a AS src, b AS dst, w, CAST({r} AS BIGINT) AS merge_round"
        f" FROM sel_{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH RECURSIVE " + ",\n    ".join(ctes) + f"""
    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
           CAST(w AS BIGINT) AS w, merge_round
    FROM ({unions})
    """
    )
