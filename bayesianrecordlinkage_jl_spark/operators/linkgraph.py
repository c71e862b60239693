"""Web link-graph operators: href extraction, host-graph aggregation, and
fixed-point integer PageRank.

The crawl-side complement to the record-linkage pipeline: a Common-Crawl
style corpus is a *graph* (pages link to hosts), and host-level authority
scores (PageRank) are a standard quality / crawl-prioritization signal in
web-scale training-data pipelines (cf. the host ranks shipped with Common
Crawl's public crawl metadata). The reference has no graph operators beyond
connected components (src/clustering_functions.jl); PageRank extends the
same iterative-join family to a weighted, damped recurrence.

Because the sandbox testdata has no hyperlink column, the html wrap is
derived deterministically from the `documents` table in BOTH engines (the
same trick `pages_extract_text` uses): each doc gets a <nav> block of
1..MAX_OUT hrefs whose target hosts are md5-derived (skewed toward low host
ids via a modulus-of-modulus draw, so hot hosts exist and the aggregation
sees real skew). Extraction itself is the honest operator: a pure-Catalyst
`regexp_extract_all` over the html string, mirrored by DuckDB's RE2
`regexp_extract_all` (Java/RE2 common-subset pattern, same discipline as
the PII regexes).

PageRank is computed in FIXED-POINT INTEGER arithmetic so the oracle is
bit-strict and the result is partitioning-invariant:

  r0(h)  = RANK_SCALE                       (one million, per host)
  c(e)   = (r(src) * w(e)) div outw(src)    (integer floor division)
  r'(h)  = BASE_FP + (85 * sum c) div 100   (damping 0.85, integer)

Integer sums are order-independent, so no float-association pinning is
needed anywhere. Divergence from textbook PageRank (documented semantics):
dangling-host mass is dropped, not redistributed — total mass is therefore
not conserved, but ordering/magnitudes behave normally and every value is
reproducible to the last bit in both engines.

Scale shape (100 TB / 10^8 hosts): `extract_links` is a pure projection
(no shuffle). `host_link_graph` is one map-side-combined aggregation keyed
by (src_host, dst_host). PageRank iterations join edges→ranks on src_host
then aggregate on dst_host: edges are materialized ONCE (localCheckpoint —
they are consumed 2×iterations times) and stay hash-partitioned by
src_host so every iteration reuses the same exchange; the per-iteration
shuffle moves only |hosts| rank rows plus the dst-keyed partial sums,
never the corpus. At 10^8 hosts the rank table is a normal shuffle join
(too big to broadcast); AQE handles hot dst hosts (the skew is on the
aggregate side, which partial-aggregates map-side first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.text import phash, phash_sql

N_HOSTS = 40      # host-universe cap (modulus-of-modulus skews toward 0)
MAX_OUT = 3       # 1..MAX_OUT outlinks per document
RANK_SCALE = 1_000_000
BASE_FP = 150_000          # RANK_SCALE * (1 - damping)
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact integer ratio
PAGERANK_ITERS = 4

HREF_RE = '<a href="([^"]+)"'
HOST_RE = "https://([^/]+)/"

_NAV_OPEN = '<html><head><title>d</title></head><body><nav>'
_NAV_CLOSE = "</nav><article>"
_TAIL = "</article></body></html>"


# --- shared deterministic derivations (Spark Column + SQL string twins) ----


def _hp(salt: str, *cols: Column) -> Column:
    return phash(F.concat_ws(":", F.lit(salt), *[c.cast("string") for c in cols]))


def _hp_sql(salt: str, *exprs: str) -> str:
    joined = " || ':' || ".join(f"CAST({e} AS VARCHAR)" for e in exprs)
    return phash_sql(f"'{salt}:' || {joined}")


def _skewed_host(salt: str, *keys) -> Column:
    """Host id in [0, N_HOSTS], harmonically skewed toward low ids."""
    cols = [k if isinstance(k, Column) else F.lit(k) for k in keys]
    h1 = _hp(f"lg:{salt}:a", *cols)
    h2 = _hp(f"lg:{salt}:b", *cols)
    return h1 % (1 + (h2 % N_HOSTS))


def _skewed_host_sql(salt: str, *keys: str) -> str:
    h1 = _hp_sql(f"lg:{salt}:a", *keys)
    h2 = _hp_sql(f"lg:{salt}:b", *keys)
    return f"(({h1}) % (1 + (({h2}) % {N_HOSTS})))"


def page_host(id_col: str) -> Column:
    """Deterministic host of the page itself (skewed like the targets)."""
    hid = _skewed_host("self", F.col(id_col))
    return F.concat(F.lit("host"), hid.cast("string"), F.lit(".example.org"))


def page_host_sql(id_col: str) -> str:
    hid = _skewed_host_sql("self", id_col)
    return f"('host' || CAST({hid} AS VARCHAR) || '.example.org')"


def wrapped_html(id_col: str, text_col: str) -> Column:
    """documents row -> html string with a deterministic <nav> of hrefs.

    Unrolled per-slot CASEs (MAX_OUT is a compile-time constant), per the
    repo's Catalyst lore: literal unrolled expressions beat lambda forms."""
    idc = F.col(id_col)
    n_out = 1 + (_hp("lg:n", idc) % MAX_OUT)
    parts = [F.lit(_NAV_OPEN)]
    for i in range(1, MAX_OUT + 1):
        tgt = _skewed_host("t", idc, F.lit(i))
        anchor = F.concat(
            F.lit('<a href="https://host'),
            tgt.cast("string"),
            F.lit(".example.org/p/"),
            idc.cast("string"),
            F.lit('">x</a>'),
        )
        parts.append(F.when(F.lit(i) <= n_out, anchor).otherwise(F.lit("")))
    parts += [F.lit(_NAV_CLOSE), F.col(text_col), F.lit(_TAIL)]
    return F.concat(*parts)


def wrapped_html_sql(id_col: str, text_col: str) -> str:
    n_out = f"(1 + (({_hp_sql('lg:n', id_col)}) % {MAX_OUT}))"
    parts = [f"'{_NAV_OPEN}'"]
    for i in range(1, MAX_OUT + 1):
        tgt = _skewed_host_sql("t", id_col, str(i))
        anchor = (
            f"('<a href=\"https://host' || CAST({tgt} AS VARCHAR)"
            f" || '.example.org/p/' || CAST({id_col} AS VARCHAR)"
            f" || '\">x</a>')"
        )
        parts.append(f"CASE WHEN {i} <= {n_out} THEN {anchor} ELSE '' END")
    parts += [f"'{_NAV_CLOSE}'", text_col, f"'{_TAIL}'"]
    return "(" + " || ".join(parts) + ")"


# --- operators -------------------------------------------------------------


def extract_links(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> (doc_id bigint, pos int, src_host, href): every outbound href of
    every document, in document order. Pure projection + posexplode — no
    shuffle; the regex runs once per document inside codegen."""
    d = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        page_host(id_col).alias("src_host"),
        F.regexp_extract_all(
            wrapped_html(id_col, text_col), F.lit(HREF_RE), F.lit(1)
        ).alias("hrefs"),
    )
    return d.select(
        "doc_id",
        F.posexplode("hrefs").alias("pos", "href"),
        "src_host",
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "src_host", "href")


def extract_links_sql(table: str, id_col: str, text_col: str) -> str:
    html = wrapped_html_sql(id_col, text_col)
    return f"""
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, src_host, hrefs[i] AS href
    FROM (
      SELECT CAST({id_col} AS BIGINT) AS doc_id,
             {page_host_sql(id_col)} AS src_host,
             regexp_extract_all({html}, '{HREF_RE}', 1) AS hrefs
      FROM {table}
    ), unnest(range(1, len(hrefs) + 1)) AS u(i)
    """


def host_link_graph(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> (src_host, dst_host, n_links bigint): the host-level link graph.
    One map-side-combined aggregation; self-loop edges are kept (a host
    linking to itself is a normal edge for the PageRank recurrence)."""
    links = extract_links(df, id_col, text_col)
    return (
        links.withColumn(
            "dst_host", F.regexp_extract(F.col("href"), HOST_RE, 1)
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


def host_link_graph_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
    SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
    FROM (
      SELECT src_host, regexp_extract(href, '{HOST_RE}', 1) AS dst_host
      FROM ({extract_links_sql(table, id_col, text_col)})
    ) GROUP BY src_host, dst_host
    """


def pagerank_hosts(
    edges: DataFrame, iterations: int = PAGERANK_ITERS
) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, rank_fp bigint).

    Fixed-point integer PageRank (see module docstring for the exact
    recurrence and the dangling-mass semantics). `div` on positive longs
    truncates == floors, matching DuckDB's `//`. Edges are materialized
    once and consumed 2x per iteration (contribution join + nothing else —
    nodes/outw are derived from the same checkpoint)."""
    edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    outw = edges.groupBy("src_host").agg(
        F.sum("n_links").cast("long").alias("outw")
    )
    wedges = edges.join(outw, "src_host")
    ranks = nodes.withColumn("rank_fp", F.lit(RANK_SCALE).cast("long"))
    for _ in range(iterations):
        contrib = (
            wedges.join(ranks, wedges["src_host"] == ranks["host"])
            .select(
                F.col("dst_host").alias("host"),
                F.expr("(rank_fp * n_links) div outw").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = nodes.join(contrib, "host", "left").select(
            "host",
            (
                F.lit(BASE_FP)
                + F.expr(
                    f"({DAMP_NUM} * coalesce(s, CAST(0 AS BIGINT))) div {DAMP_DEN}"
                )
            ).cast("long").alias("rank_fp"),
        )
    return ranks


MAX_FANOUT = 30  # co-citation super-spreader cap (distinct dsts per src)


def host_cocitation(
    edges: DataFrame, max_fanout: int = MAX_FANOUT
) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host_a, host_b, n_common,
    deg_a, deg_b, jaccard): hosts co-cited by the same sources, with the
    Jaccard of their distinct-citer sets (host_a < host_b — total order).

    The quadratic blow-up of a co-occurrence self-join lives entirely in
    super-spreader sources (a src citing f hosts emits C(f,2) pairs), so
    srcs with distinct fan-out > max_fanout are EXCLUDED before pairing —
    the standard stop-word cap of co-occurrence mining: per-src work is
    bounded at C(max_fanout, 2) regardless of skew, and a near-universal
    citer carries no similarity signal anyway. Degrees (and therefore the
    Jaccard denominator) are computed over the SAME capped citer set, so
    the score stays a true Jaccard of the sets actually paired. The score
    is one exact-integer IEEE division — bit-portable."""
    cites = edges.select("src_host", "dst_host").distinct()
    fan = cites.groupBy("src_host").agg(
        F.count(F.lit(1)).alias("_fan")
    )
    kept = cites.join(
        fan.where(F.col("_fan") <= max_fanout).select("src_host"),
        on="src_host",
        how="left_semi",
    ).localCheckpoint()  # consumed 3x: pair join (2 sides) + degrees
    deg = kept.groupBy("dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    a = kept.select("src_host", F.col("dst_host").alias("host_a"))
    b = kept.select("src_host", F.col("dst_host").alias("host_b"))
    pairs = (
        a.join(b, on="src_host")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        pairs.join(deg.withColumnRenamed("dst_host", "host_a")
                      .withColumnRenamed("deg", "deg_a"), on="host_a")
        .join(deg.withColumnRenamed("dst_host", "host_b")
                 .withColumnRenamed("deg", "deg_b"), on="host_b")
        .select(
            "host_a", "host_b", "n_common", "deg_a", "deg_b",
            (
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def host_cocitation_sql(
    table: str, id_col: str, text_col: str, max_fanout: int = MAX_FANOUT
) -> str:
    return f"""
    WITH edges AS ({host_link_graph_sql(table, id_col, text_col)}),
    cites AS (SELECT DISTINCT src_host, dst_host FROM edges),
    kept AS (
      SELECT src_host, dst_host FROM cites
      WHERE src_host IN (
        SELECT src_host FROM cites GROUP BY src_host
        HAVING count(*) <= {max_fanout})
    ),
    deg AS (SELECT dst_host, CAST(count(*) AS BIGINT) AS deg
            FROM kept GROUP BY dst_host),
    pairs AS (
      SELECT a.dst_host AS host_a, b.dst_host AS host_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM kept a JOIN kept b ON a.src_host = b.src_host
      WHERE a.dst_host < b.dst_host
      GROUP BY a.dst_host, b.dst_host
    )
    SELECT host_a, host_b, n_common, da.deg AS deg_a, db.deg AS deg_b,
           CAST(n_common AS DOUBLE)
             / CAST(da.deg + db.deg - n_common AS DOUBLE) AS jaccard
    FROM pairs
    JOIN deg da ON pairs.host_a = da.dst_host
    JOIN deg db ON pairs.host_b = db.dst_host
    """


def pagerank_hosts_sql(
    table: str, id_col: str, text_col: str, iterations: int = PAGERANK_ITERS
) -> str:
    """Chained-CTE oracle: r0 -> r1 -> ... -> r<iterations>, same integer
    recurrence (DuckDB `//` floors; all values positive)."""
    ctes = [
        f"""edges AS ({host_link_graph_sql(table, id_col, text_col)})""",
        """nodes AS (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM edges
            UNION ALL SELECT dst_host AS host FROM edges))""",
        """outw AS (
          SELECT src_host, CAST(sum(n_links) AS BIGINT) AS outw
          FROM edges GROUP BY src_host)""",
        f"""r0 AS (SELECT host, CAST({RANK_SCALE} AS BIGINT) AS rank_fp
                   FROM nodes)""",
    ]
    for it in range(1, iterations + 1):
        prev = f"r{it - 1}"
        ctes.append(f"""r{it} AS (
          SELECT n.host,
                 CAST({BASE_FP} + ({DAMP_NUM} * COALESCE(c.s, 0)) // {DAMP_DEN}
                      AS BIGINT) AS rank_fp
          FROM nodes n LEFT JOIN (
            SELECT e.dst_host AS host,
                   CAST(sum((r.rank_fp * e.n_links) // o.outw) AS BIGINT) AS s
            FROM edges e
            JOIN {prev} r ON e.src_host = r.host
            JOIN outw o ON e.src_host = o.src_host
            GROUP BY e.dst_host) c ON n.host = c.host)""")
    body = ",\n    ".join(ctes)
    return f"WITH {body}\n    SELECT host, rank_fp FROM r{iterations}"


# --- seeded trust propagation ----------------------------------------------

# low host ids are the skew-hot hosts, so they exist at every SF
SEED_HOSTS = ["host0.example.org", "host1.example.org", "host2.example.org"]
TRUST_ITERS = 4
MAX_HOPS = 4


def _seed_list_sql(seed_hosts: list[str]) -> str:
    return ", ".join(f"'{h}'" for h in sorted(seed_hosts))


def trustrank_hosts(
    edges: DataFrame,
    seed_hosts: list[str] = SEED_HOSTS,
    iterations: int = TRUST_ITERS,
) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, trust_fp bigint).

    TrustRank (Gyongyi et al. 2004): PageRank whose restart mass goes ONLY
    to a literal whitelist of seed hosts — the standard web-spam signal
    (trust decays with link distance from the seeds). Same fixed-point
    integer recurrence as `pagerank_hosts` (bit-strict, order-independent
    sums), differing only in the base term:

      t0(h)  = RANK_SCALE if h in seeds else 0
      t'(h)  = (BASE_FP if h in seeds else 0) + (85 * sum c) div 100

    Hosts unreachable from any seed report trust_fp = 0 (every node is
    emitted, matching the SQL twin). Scale shape identical to PageRank:
    edges materialized once, per-iteration shuffle moves only rank rows."""
    edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    outw = edges.groupBy("src_host").agg(
        F.sum("n_links").cast("long").alias("outw")
    )
    wedges = edges.join(outw, "src_host")
    seeds = sorted(seed_hosts)
    is_seed = F.col("host").isin(seeds)
    ranks = nodes.withColumn(
        "trust_fp",
        F.when(is_seed, F.lit(RANK_SCALE)).otherwise(F.lit(0)).cast("long"),
    )
    for _ in range(iterations):
        contrib = (
            wedges.join(ranks, wedges["src_host"] == ranks["host"])
            .select(
                F.col("dst_host").alias("host"),
                F.expr("(trust_fp * n_links) div outw").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = nodes.join(contrib, "host", "left").select(
            "host",
            (
                F.when(is_seed, F.lit(BASE_FP)).otherwise(F.lit(0)).cast("long")
                + F.expr(
                    f"({DAMP_NUM} * coalesce(s, CAST(0 AS BIGINT))) div {DAMP_DEN}"
                )
            ).cast("long").alias("trust_fp"),
        )
    return ranks


def trustrank_hosts_sql(
    table: str,
    id_col: str,
    text_col: str,
    seed_hosts: list[str] = SEED_HOSTS,
    iterations: int = TRUST_ITERS,
) -> str:
    seeds = _seed_list_sql(seed_hosts)
    base = f"CASE WHEN n.host IN ({seeds}) THEN {BASE_FP} ELSE 0 END"
    ctes = [
        f"""edges AS ({host_link_graph_sql(table, id_col, text_col)})""",
        """nodes AS (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM edges
            UNION ALL SELECT dst_host AS host FROM edges))""",
        """outw AS (
          SELECT src_host, CAST(sum(n_links) AS BIGINT) AS outw
          FROM edges GROUP BY src_host)""",
        f"""r0 AS (SELECT host,
                   CAST(CASE WHEN host IN ({seeds})
                        THEN {RANK_SCALE} ELSE 0 END AS BIGINT) AS trust_fp
                   FROM nodes)""",
    ]
    for it in range(1, iterations + 1):
        prev = f"r{it - 1}"
        ctes.append(f"""r{it} AS (
          SELECT n.host,
                 CAST(({base})
                      + ({DAMP_NUM} * COALESCE(c.s, 0)) // {DAMP_DEN}
                      AS BIGINT) AS trust_fp
          FROM nodes n LEFT JOIN (
            SELECT e.dst_host AS host,
                   CAST(sum((r.trust_fp * e.n_links) // o.outw) AS BIGINT) AS s
            FROM edges e
            JOIN {prev} r ON e.src_host = r.host
            JOIN outw o ON e.src_host = o.src_host
            GROUP BY e.dst_host) c ON n.host = c.host)""")
    body = ",\n    ".join(ctes)
    return f"WITH {body}\n    SELECT host, trust_fp FROM r{iterations}"


def host_seed_distance(
    edges: DataFrame,
    seed_hosts: list[str] = SEED_HOSTS,
    max_hops: int = MAX_HOPS,
) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, dist int): minimum
    link-hop distance from any seed host, for hosts reachable within
    `max_hops` (unreachable hosts are absent — matching the SQL twin).

    Min-plus label propagation (BFS frontier as iterative joins) — the
    unweighted companion to trustrank: `dist` is the integer "how many
    clicks from a trusted source" signal. Each round joins the distinct
    edge set to the current distance table on src and folds with a MIN
    aggregate; the edge set is materialized once (consumed every round)
    and the per-round shuffle moves only |hosts| distance rows."""
    cites = (
        edges.select("src_host", "dst_host").distinct().localCheckpoint()
    )
    nodes = (
        cites.select(F.col("src_host").alias("host"))
        .unionByName(cites.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    seeds = sorted(seed_hosts)
    dist = nodes.where(F.col("host").isin(seeds)).select(
        "host", F.lit(0).cast("int").alias("dist")
    )
    for _ in range(max_hops):
        nxt = cites.join(
            dist, cites["src_host"] == dist["host"]
        ).select(
            F.col("dst_host").alias("host"),
            (F.col("dist") + 1).cast("int").alias("dist"),
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("host")
            .agg(F.min("dist").cast("int").alias("dist"))
        )
    return dist


def host_seed_distance_sql(
    table: str,
    id_col: str,
    text_col: str,
    seed_hosts: list[str] = SEED_HOSTS,
    max_hops: int = MAX_HOPS,
) -> str:
    seeds = _seed_list_sql(seed_hosts)
    ctes = [
        f"""edges AS ({host_link_graph_sql(table, id_col, text_col)})""",
        """cites AS (SELECT DISTINCT src_host, dst_host FROM edges)""",
        """nodes AS (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM cites
            UNION ALL SELECT dst_host AS host FROM cites))""",
        f"""d0 AS (SELECT host, CAST(0 AS INT) AS dist
                   FROM nodes WHERE host IN ({seeds}))""",
    ]
    for it in range(1, max_hops + 1):
        prev = f"d{it - 1}"
        ctes.append(f"""d{it} AS (
          SELECT host, CAST(min(dist) AS INT) AS dist FROM (
            SELECT host, dist FROM {prev}
            UNION ALL
            SELECT e.dst_host AS host, d.dist + 1 AS dist
            FROM cites e JOIN {prev} d ON e.src_host = d.host
          ) GROUP BY host)""")
    body = ",\n    ".join(ctes)
    return f"WITH {body}\n    SELECT host, dist FROM d{max_hops}"


# --- SALSA hub/authority scores ---------------------------------------------

SALSA_ITERS = 3


def salsa_hosts(
    edges: DataFrame, iterations: int = SALSA_ITERS
) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, hub_fp bigint,
    auth_fp bigint).

    SALSA (Lempel & Moran 2001): HITS' mutual hub/authority recursion
    with random-walk normalization — each step divides by the node's own
    out-/in-weight, so (unlike raw HITS) scores never grow and the whole
    recurrence stays in bounded FIXED-POINT INTEGERS (the pagerank_hosts
    discipline: order-independent sums, floor division identical to
    DuckDB `//` on non-negative longs, bit-strict oracle):

      h0(x)  = RANK_SCALE
      a_i(y) = sum over edges x->y of (h_{i-1}(x) * w) div outw(x)
      h_i(x) = sum over edges x->y of (a_i(y)     * w) div inw(y)

    Total mass can only shrink (floor drops), so no overflow at any graph
    size. Nodes with no in-edges report auth_fp = 0; no out-edges ->
    hub_fp = 0. Scale shape: edges materialized once; each half-step is
    one join (rank rows only) + one map-side-combined aggregate."""
    edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    outw = edges.groupBy("src_host").agg(
        F.sum("n_links").cast("long").alias("outw")
    )
    inw = edges.groupBy("dst_host").agg(
        F.sum("n_links").cast("long").alias("inw")
    )
    wedges = edges.join(outw, "src_host").join(inw, "dst_host")
    hubs = nodes.withColumn("hub_fp", F.lit(RANK_SCALE).cast("long"))
    auths = None
    for _ in range(iterations):
        auths = (
            wedges.join(hubs, wedges["src_host"] == hubs["host"])
            .select(
                F.col("dst_host").alias("host"),
                F.expr("(hub_fp * n_links) div outw").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        auths = nodes.join(auths, "host", "left").select(
            "host",
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("auth_fp"),
        )
        hubs = (
            wedges.join(auths, wedges["dst_host"] == auths["host"])
            .select(
                F.col("src_host").alias("host"),
                F.expr("(auth_fp * n_links) div inw").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        hubs = nodes.join(hubs, "host", "left").select(
            "host",
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("hub_fp"),
        )
    # hubs and auths each already carry every node (0-defaulted)
    return hubs.join(auths, "host").select("host", "hub_fp", "auth_fp")


def salsa_hosts_sql(
    table: str, id_col: str, text_col: str, iterations: int = SALSA_ITERS
) -> str:
    ctes = [
        f"""edges AS ({host_link_graph_sql(table, id_col, text_col)})""",
        """nodes AS (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM edges
            UNION ALL SELECT dst_host AS host FROM edges))""",
        """outw AS (
          SELECT src_host, CAST(sum(n_links) AS BIGINT) AS outw
          FROM edges GROUP BY src_host)""",
        """inw AS (
          SELECT dst_host, CAST(sum(n_links) AS BIGINT) AS inw
          FROM edges GROUP BY dst_host)""",
        f"""h0 AS (SELECT host, CAST({RANK_SCALE} AS BIGINT) AS hub_fp
                   FROM nodes)""",
    ]
    for it in range(1, iterations + 1):
        ctes.append(f"""a{it} AS MATERIALIZED (
          SELECT n.host,
                 CAST(COALESCE(c.s, 0) AS BIGINT) AS auth_fp
          FROM nodes n LEFT JOIN (
            SELECT e.dst_host AS host,
                   CAST(sum((h.hub_fp * e.n_links) // o.outw) AS BIGINT) AS s
            FROM edges e
            JOIN h{it - 1} h ON e.src_host = h.host
            JOIN outw o ON e.src_host = o.src_host
            GROUP BY e.dst_host) c ON n.host = c.host)""")
        ctes.append(f"""h{it} AS MATERIALIZED (
          SELECT n.host,
                 CAST(COALESCE(c.s, 0) AS BIGINT) AS hub_fp
          FROM nodes n LEFT JOIN (
            SELECT e.src_host AS host,
                   CAST(sum((a.auth_fp * e.n_links) // i.inw) AS BIGINT) AS s
            FROM edges e
            JOIN a{it} a ON e.dst_host = a.host
            JOIN inw i ON e.dst_host = i.dst_host
            GROUP BY e.src_host) c ON n.host = c.host)""")
    body = ",\n    ".join(ctes)
    return (
        f"WITH {body}\n    "
        f"SELECT n.host, COALESCE(h.hub_fp, 0) AS hub_fp, "
        f"COALESCE(a.auth_fp, 0) AS auth_fp\n    "
        f"FROM nodes n LEFT JOIN h{iterations} h ON n.host = h.host\n    "
        f"LEFT JOIN a{iterations} a ON n.host = a.host"
    )


# --- triangle counting / local clustering coefficient -----------------------


def host_triangles(edges: DataFrame) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, deg bigint,
    n_tri bigint, clustering double): per-host triangle count and local
    clustering coefficient over the UNDIRECTED simple host graph
    (self-loops dropped, direction/weights collapsed).

    Degree-ordered orientation (the standard scale trick — Schank &
    Wagner 2005 / Cohen's MapReduce formulation): orient every edge from
    the endpoint with the smaller (deg, host) total-order key to the
    larger, then count wedges u->v1, u->v2 (k(v1) < k(v2)) closed by an
    oriented edge v1->v2. Each triangle is generated EXACTLY once, and
    per-node wedge fan-out is bounded by the oriented out-degree, which
    the orientation caps at O(sqrt(|E|)) even for skew-hot hosts — the
    reason this survives a power-law 10^8-host graph where naive
    neighbor-set intersection on the hot host explodes. clustering =
    2*tri / (deg*(deg-1)) is one exact-integer IEEE division.

    Shuffles: the undirected edge set is materialized once
    (localCheckpoint — consumed by degree, orientation, and the closing
    join); wedge and closure joins key on host ids (near-uniform after
    orientation)."""
    und = (
        edges.where(F.col("src_host") != F.col("dst_host"))
        .select(
            F.least("src_host", "dst_host").alias("a"),
            F.greatest("src_host", "dst_host").alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("host"))
        .unionByName(und.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    d2 = (
        und.join(deg.withColumnRenamed("host", "a")
                    .withColumnRenamed("deg", "deg_a"), on="a")
        .join(deg.withColumnRenamed("host", "b")
                 .withColumnRenamed("deg", "deg_b"), on="b")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = d2.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
    ).localCheckpoint()
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("deg_v").alias("k1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("deg_v").alias("k2"))
    wedges = o1.join(o2, on="u").where(
        (F.col("k1") < F.col("k2"))
        | ((F.col("k1") == F.col("k2")) & (F.col("v1") < F.col("v2")))
    )
    tris = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        on=["v1", "v2"],
    ).select("u", "v1", "v2")
    per_node = (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return deg.join(per_node, on="host", how="left").select(
        "host",
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        F.when(
            F.col("deg") >= 2,
            (F.lit(2) * F.coalesce(F.col("n_tri"), F.lit(0))).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def host_triangles_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
    WITH edges AS ({host_link_graph_sql(table, id_col, text_col)}),
    und AS MATERIALIZED (
      SELECT DISTINCT least(src_host, dst_host) AS a,
                      greatest(src_host, dst_host) AS b
      FROM edges WHERE src_host != dst_host
    ),
    deg AS (
      SELECT host, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS host FROM und UNION ALL SELECT b AS host FROM und
      ) GROUP BY host
    ),
    oriented AS MATERIALIZED (
      SELECT CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND und.a < und.b)
                  THEN und.a ELSE und.b END AS u,
             CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND und.a < und.b)
                  THEN und.b ELSE und.a END AS v,
             CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND und.a < und.b)
                  THEN db.deg ELSE da.deg END AS deg_v
      FROM und
      JOIN deg da ON und.a = da.host
      JOIN deg db ON und.b = db.host
    ),
    tris AS (
      SELECT o1.u, o1.v1, o1.v2 FROM (
        SELECT x.u, x.v AS v1, y.v AS v2
        FROM oriented x JOIN oriented y ON x.u = y.u
        WHERE (x.deg_v < y.deg_v)
           OR (x.deg_v = y.deg_v AND x.v < y.v)
      ) o1
      JOIN oriented c ON o1.v1 = c.u AND o1.v2 = c.v
    ),
    per_node AS (
      SELECT host, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT u AS host FROM tris
        UNION ALL SELECT v1 AS host FROM tris
        UNION ALL SELECT v2 AS host FROM tris
      ) GROUP BY host
    )
    SELECT deg.host, deg.deg,
           CAST(coalesce(per_node.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN deg.deg >= 2
                THEN CAST(2 * coalesce(per_node.n_tri, 0) AS DOUBLE)
                     / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
                ELSE 0.0e0 END AS clustering
    FROM deg LEFT JOIN per_node ON deg.host = per_node.host
    """


# --- label-propagation communities ------------------------------------------

LPA_ITERS = 3


def lpa_communities(edges: DataFrame, iterations: int = LPA_ITERS) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, label): synchronous
    label propagation (Raghavan et al. 2007) on the UNDIRECTED host graph,
    run a FIXED `iterations` rounds with a total-order vote tie-break.

    Each round every node adopts the label with the highest link-weighted
    vote among its neighbors (votes DESC, label ASC on ties — the
    determinism knob the async/random-order textbook variant lacks);
    isolated nodes and nodes whose neighbors cast no votes keep their
    label. Self-loops are excluded (a node never votes for itself).
    Integer vote sums => order-independent => bit-strict across engines
    and partitionings.

    Scale shape: the undirected edge list is materialized once
    (localCheckpoint — consumed every round); a round is one equi-join of
    edges to the |hosts|-row label table plus one map-side-combined vote
    aggregate; the argmax is a per-host window over the vote table (keyed
    by host — the same shuffle key as the aggregate, so AQE reuses the
    exchange). Nothing driver-side; rounds are fixed, not data-dependent
    (community detection plateaus in a few sweeps — Raghavan's stopping
    rule is replaced by a constant for replayability)."""
    und = (
        edges.where(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host", "n_links")
        .unionByName(
            edges.where(F.col("src_host") != F.col("dst_host")).select(
                F.col("dst_host").alias("src_host"),
                F.col("src_host").alias("dst_host"),
                "n_links",
            )
        )
        .groupBy("src_host", "dst_host")
        .agg(F.sum("n_links").cast("long").alias("w"))
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("host"))
    w_arg = Window.partitionBy("host").orderBy(
        F.desc("votes"), F.asc("label")
    )
    for _ in range(iterations):
        votes = (
            und.join(
                labels.select(
                    F.col("host").alias("dst_host"),
                    F.col("label").alias("_nl"),
                ),
                on="dst_host",
            )
            .groupBy(F.col("src_host").alias("host"), F.col("_nl").alias("label"))
            .agg(F.sum("w").cast("long").alias("votes"))
        )
        best = (
            votes.withColumn("_r", F.row_number().over(w_arg))
            .where(F.col("_r") == 1)
            .select("host", F.col("label").alias("_best"))
        )
        labels = (
            labels.join(best, on="host", how="left")
            .select(
                "host",
                F.coalesce(F.col("_best"), F.col("label")).alias("label"),
            )
        )
    return labels


def lpa_communities_sql(
    table: str, id_col: str, text_col: str, iterations: int = LPA_ITERS
) -> str:
    """Chained-CTE oracle: l0 -> l1 -> ... -> l<iterations>, same
    synchronous recurrence and (votes DESC, label ASC) tie-break."""
    ctes = [
        f"""edges AS ({host_link_graph_sql(table, id_col, text_col)})""",
        """und AS (
          SELECT src_host, dst_host, CAST(sum(n_links) AS BIGINT) AS w
          FROM (
            SELECT src_host, dst_host, n_links FROM edges
            WHERE src_host != dst_host
            UNION ALL
            SELECT dst_host AS src_host, src_host AS dst_host, n_links
            FROM edges WHERE src_host != dst_host)
          GROUP BY src_host, dst_host)""",
        """nodes AS (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM edges
            UNION ALL SELECT dst_host AS host FROM edges))""",
        """l0 AS (SELECT host, host AS label FROM nodes)""",
    ]
    for it in range(1, iterations + 1):
        prev = f"l{it - 1}"
        ctes.append(f"""v{it} AS (
          SELECT e.src_host AS host, l.label,
                 CAST(sum(e.w) AS BIGINT) AS votes
          FROM und e JOIN {prev} l ON e.dst_host = l.host
          GROUP BY e.src_host, l.label)""")
        ctes.append(f"""l{it} AS (
          SELECT p.host, COALESCE(b.label, p.label) AS label
          FROM {prev} p LEFT JOIN (
            SELECT host, label FROM (
              SELECT *, row_number() OVER (
                PARTITION BY host ORDER BY votes DESC, label ASC) AS _r
              FROM v{it}) WHERE _r = 1) b ON p.host = b.host)""")
    body = ",\n    ".join(ctes)
    return f"WITH {body}\n    SELECT host, label FROM l{iterations}"


# --- k-core decomposition (fixed-round peel) ---------------------------------

KCORE_K = 2
KCORE_ROUNDS = 6


def kcore_hosts(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, core_degree): the
    k-core of the UNDIRECTED host graph — hosts surviving `rounds`
    synchronous peel sweeps (each sweep removes every host whose degree
    among still-alive hosts is < k), with the final within-core degree.

    The k-core is the standard spam/boilerplate-farm signal (Seidman
    1983; Batagelj-Zaversnik peel): link farms sit in dense cores, leaf
    hosts peel off. Like LPA above, the data-dependent stopping rule is
    replaced by a FIXED round count for replayability — both engines run
    exactly `rounds` sweeps, so results are identical even on inputs
    where the peel has not converged (tests assert convergence on the
    fixture: one extra sweep removes nothing). Self-loops are excluded
    (a self-link contributes no peer degree).

    Scale shape: the distinct undirected edge set is materialized once
    (localCheckpoint — every sweep consumes it); a sweep is two semi-joins
    of edges against the |hosts|-row alive set plus one map-side-combined
    degree count. All state is (host) rows; nothing is quadratic and no
    window touches the edge set. Degree counts are integers — bit-strict."""
    und = (
        edges.where(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
        .unionByName(
            edges.where(F.col("src_host") != F.col("dst_host")).select(
                F.col("dst_host").alias("src_host"),
                F.col("src_host").alias("dst_host"),
            )
        )
        .distinct()
        .localCheckpoint()
    )
    alive = und.select(F.col("src_host").alias("host")).distinct()
    for _ in range(rounds):
        deg = (
            und.join(
                alive.select(F.col("host").alias("src_host")),
                on="src_host", how="left_semi",
            )
            .join(
                alive.select(F.col("host").alias("dst_host")),
                on="dst_host", how="left_semi",
            )
            .groupBy("src_host")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        alive = (
            deg.where(F.col("deg") >= k)
            .select(F.col("src_host").alias("host"))
            .localCheckpoint()
        )
    return (
        und.join(
            alive.select(F.col("host").alias("src_host")),
            on="src_host", how="left_semi",
        )
        .join(
            alive.select(F.col("host").alias("dst_host")),
            on="dst_host", how="left_semi",
        )
        .groupBy(F.col("src_host").alias("host"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def kcore_hosts_sql(
    table: str,
    id_col: str,
    text_col: str,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> str:
    """Chained-CTE oracle: a0 -> a1 -> ... -> a<rounds>, same synchronous
    peel (degree among the previous round's survivors, keep deg >= k)."""
    ctes = [
        f"""edges AS ({host_link_graph_sql(table, id_col, text_col)})""",
        """und AS MATERIALIZED (
          SELECT DISTINCT src_host, dst_host FROM (
            SELECT src_host, dst_host FROM edges
            WHERE src_host != dst_host
            UNION ALL
            SELECT dst_host AS src_host, src_host AS dst_host
            FROM edges WHERE src_host != dst_host))""",
        """a0 AS (SELECT DISTINCT src_host AS host FROM und)""",
    ]
    for it in range(1, rounds + 1):
        prev = f"a{it - 1}"
        ctes.append(f"""a{it} AS MATERIALIZED (
          SELECT e.src_host AS host
          FROM und e
          SEMI JOIN {prev} x ON e.src_host = x.host
          SEMI JOIN {prev} y ON e.dst_host = y.host
          GROUP BY e.src_host HAVING count(*) >= {k})""")
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT e.src_host AS host, CAST(count(*) AS BIGINT) AS core_degree
    FROM und e
    SEMI JOIN a{rounds} x ON e.src_host = x.host
    SEMI JOIN a{rounds} y ON e.dst_host = y.host
    GROUP BY e.src_host"""


# --- HITS hubs & authorities (Kleinberg 1999) -------------------------------

HITS_ITERS = 4


def hits_hosts(edges: DataFrame, iterations: int = HITS_ITERS) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, hub_fp, auth_fp).

    Fixed-point integer HITS (Kleinberg 1999, the link-weighted form):

      h0(x)     = RANK_SCALE
      araw(y)   = sum over edges (x->y) of h(x) * w          (longs)
      a(y)      = araw(y) div (1 + max(araw) div RANK_SCALE)
      hraw(x)   = sum over edges (x->y) of a(y) * w
      h(x)      = hraw(x) div (1 + max(hraw) div RANK_SCALE)

    Integer sums/max are partitioning-invariant, so the result is
    bit-strict across engines and shuffle layouts (same discipline as
    pagerank_hosts; divergence from the textbook L2 normalization is
    documented — max-normalization preserves the ranking fixpoint the
    same way power iteration does, and needs no sqrt).

    Scale shape: edges are localCheckpoint'ed once (consumed 2x per
    iteration); each iteration shuffles |hosts| score rows keyed by the
    join host — never the corpus; the max is a 1-row aggregate joined
    back by broadcast. Hosts with no in-links carry auth 0, no
    out-links hub 0 (left joins + coalesce)."""
    edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint()  # consumed 2x per iteration + final join
    )
    hubs = nodes.withColumn("h", F.lit(RANK_SCALE).cast("long"))
    auths = None
    for _ in range(iterations):
        araw = (
            edges.join(hubs, edges["src_host"] == hubs["host"])
            .select(
                F.col("dst_host").alias("host"),
                (F.col("h") * F.col("n_links")).cast("long").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").cast("long").alias("araw"))
            .localCheckpoint()  # consumed 2x: max agg + normalize join
        )
        amax = araw.agg(F.max("araw").alias("_mx"))
        auths = (
            nodes.join(araw, "host", "left")
            .crossJoin(F.broadcast(amax))
            .select(
                "host",
                F.expr(
                    f"coalesce(araw, CAST(0 AS BIGINT)) div "
                    f"(1 + _mx div {RANK_SCALE})"
                ).cast("long").alias("a"),
            )
        )
        hraw = (
            edges.join(auths, edges["dst_host"] == auths["host"])
            .select(
                F.col("src_host").alias("host"),
                (F.col("a") * F.col("n_links")).cast("long").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").cast("long").alias("hraw"))
            .localCheckpoint()  # consumed 2x: max agg + normalize join
        )
        hmax = hraw.agg(F.max("hraw").alias("_mx"))
        hubs = (
            nodes.join(hraw, "host", "left")
            .crossJoin(F.broadcast(hmax))
            .select(
                "host",
                F.expr(
                    f"coalesce(hraw, CAST(0 AS BIGINT)) div "
                    f"(1 + _mx div {RANK_SCALE})"
                ).cast("long").alias("h"),
            )
        )
    return (
        nodes.join(hubs, "host", "left")
        .join(auths.withColumnRenamed("a", "auth_fp"), "host", "left")
        .select(
            "host",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub_fp"),
            F.coalesce(F.col("auth_fp"), F.lit(0)).cast("long").alias("auth_fp"),
        )
    )


def hits_hosts_sql(
    table: str, id_col: str, text_col: str, iterations: int = HITS_ITERS
) -> str:
    """Chained-CTE DuckDB twin (h0 -> a1 -> h1 -> ...), same integer
    recurrence; the max is a scalar subquery."""
    ctes = [
        f"edges AS MATERIALIZED ({host_link_graph_sql(table, id_col, text_col)})",
        """nodes AS MATERIALIZED (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM edges
            UNION ALL SELECT dst_host AS host FROM edges))""",
        f"h0 AS MATERIALIZED (SELECT host, CAST({RANK_SCALE} AS BIGINT) AS h FROM nodes)",
    ]
    for it in range(1, iterations + 1):
        prev = f"h{it - 1}"
        ctes.append(f"""ar{it} AS MATERIALIZED (
          SELECT e.dst_host AS host,
                 CAST(sum(r.h * e.n_links) AS BIGINT) AS araw
          FROM edges e JOIN {prev} r ON e.src_host = r.host
          GROUP BY e.dst_host)""")
        ctes.append(f"""a{it} AS MATERIALIZED (
          SELECT n.host,
                 CAST(COALESCE(c.araw, 0) //
                      (1 + (SELECT max(araw) FROM ar{it}) // {RANK_SCALE})
                      AS BIGINT) AS a
          FROM nodes n LEFT JOIN ar{it} c ON n.host = c.host)""")
        ctes.append(f"""hr{it} AS MATERIALIZED (
          SELECT e.src_host AS host,
                 CAST(sum(r.a * e.n_links) AS BIGINT) AS hraw
          FROM edges e JOIN a{it} r ON e.dst_host = r.host
          GROUP BY e.src_host)""")
        ctes.append(f"""h{it} AS MATERIALIZED (
          SELECT n.host,
                 CAST(COALESCE(c.hraw, 0) //
                      (1 + (SELECT max(hraw) FROM hr{it}) // {RANK_SCALE})
                      AS BIGINT) AS h
          FROM nodes n LEFT JOIN hr{it} c ON n.host = c.host)""")
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT n.host, CAST(COALESCE(h.h, 0) AS BIGINT) AS hub_fp,
           CAST(COALESCE(a.a, 0) AS BIGINT) AS auth_fp
    FROM nodes n
    LEFT JOIN h{iterations} h ON n.host = h.host
    LEFT JOIN a{iterations} a ON n.host = a.host"""


# ---------------------------------------------------------------------------
# Strongly connected components (directed host graph)
# ---------------------------------------------------------------------------


def _scc_sig(df: DataFrame) -> tuple:
    """Label-table signature in one map-side aggregate (count + order-
    insensitive hash sum) — the connected_components convergence idiom."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(F.col("host"), F.col("lbl")).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _min_label_fixpoint(
    e: DataFrame, nodes: DataFrame, src: str, dst: str, max_inner: int
) -> DataFrame:
    """-> (host, lbl): lbl = min node id in the set reachable from host
    along src->dst edges (including host itself), by synchronous min-label
    propagation to fixpoint. Each round is one edge->label equi-join plus
    one map-side-combined min aggregate keyed by the propagating node —
    the LPA/PageRank shuffle shape; labels are checkpointed per round so
    lineage stays flat.

    Round bound: a min-label fixpoint needs at most n rounds (the min of
    each reachable set moves >= 1 hop per round), so the loop is bounded
    by max(max_inner, n_active + 1) — deep chains/cycles (diameter >
    max_inner) converge instead of silently returning partial labels —
    and raises if the bound is ever exhausted (never mislabels)."""
    labels = nodes.select("host", F.col("host").alias("lbl")).localCheckpoint()
    sig = _scc_sig(labels)
    rounds = max(int(max_inner), int(sig[0] or 0) + 1)
    for _ in range(rounds):
        nb = (
            e.join(
                labels.select(F.col("host").alias(dst), F.col("lbl").alias("_nl")),
                on=dst,
            )
            .groupBy(F.col(src).alias("host"))
            .agg(F.min("_nl").alias("_mn"))
        )
        labels = (
            labels.join(nb, on="host", how="left")
            .select("host", F.least(F.col("lbl"), F.col("_mn")).alias("lbl"))
            .localCheckpoint()
        )
        sig2 = _scc_sig(labels)
        if sig2 == sig:
            break
        sig = sig2
    else:
        raise RuntimeError(
            f"_min_label_fixpoint: labels not converged in {rounds} rounds"
        )
    return labels


def scc_hosts(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """edges(src_host, dst_host, ...) -> (host, scc_id): strongly
    connected components of the DIRECTED host graph; scc_id = min member
    (the canonical min-id rule shared with connected_components). The
    directed complement of the undirected CC operator: mutual-reachability
    host clusters (link farms / mirror rings) are a crawl-quality signal
    the undirected components conflate with mere co-linking.

    Algorithm (relational forward-backward coloring with trimming — the
    Pregel-style SCC of Slota et al. / FW-BW without recursion):

      1. TRIM: peel sources/sinks (no in- resp. out-edges among the
         remaining nodes) iteratively — each is a singleton SCC; this
         removes the DAG periphery that pure min-label coloring resolves
         only one node per round (a descending chain is its adversarial
         case).
      2. COLOR: g(v) = min id reachable FROM v (forward min-label
         fixpoint). Every SCC has uniform g, so edges whose endpoints
         disagree on g can be cut for this round.
      3. RESOLVE: f(v) = min id reaching v, computed on the color-cut
         subgraph. v is in the pivot's SCC iff f(v) = g(v) (v reaches
         pivot g(v) and is reached by it). At least the global-min
         node's SCC resolves every round => termination; raises if
         max_rounds is hit (never silently mislabels).

    Scale shape: every primitive is a node-keyed equi-join or map-side-
    combined min aggregate over (host, label) rows — edges never carry
    payload, nothing driver-side but convergence signatures (the
    connected_components idiom). Rounds are data-dependent, as for any
    iterative graph fixpoint (documented cap, same caveat as
    connected_components' max_iter).

    Cost on deep graphs: each COLOR/RESOLVE pass (_min_label_fixpoint)
    takes O(diameter) rounds — one edge->label join plus one label
    checkpoint per round, i.e. one Spark job pair per hop — and its bound
    grows to n_active + 1, not max_rounds, so it converges instead of
    failing. TRIM peels only the DAG periphery, not cycles: a long cycle
    over millions of hosts runs millions of rounds (hours of wall clock)
    before it converges or raises. Bound the input (e.g. drop low-weight
    links) before calling this on adversarial graphs.

    Reference analog: clustering_functions.jl's components are
    undirected; SCC extends the family to the directed crawl graph."""
    e = (
        edges.where(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint()
    )
    parts: list[DataFrame] = []
    remaining = nodes
    for _ in range(max_rounds):
        if remaining.limit(1).count() == 0:
            break
        # 1. trim the DAG periphery (iterated source/sink peel)
        for _t in range(max_rounds):
            has_in = e.select(F.col("dst_host").alias("host")).distinct()
            has_out = e.select(F.col("src_host").alias("host")).distinct()
            trimmed = remaining.join(has_in, on="host", how="left_anti").unionByName(
                remaining.join(has_out, on="host", how="left_anti")
            ).distinct().localCheckpoint()
            if trimmed.limit(1).count() == 0:
                break
            parts.append(trimmed.select("host", F.col("host").alias("scc_id")))
            remaining = remaining.join(trimmed, on="host", how="left_anti").localCheckpoint()
            e = (
                e.join(trimmed.select(F.col("host").alias("src_host")), on="src_host", how="left_anti")
                .join(trimmed.select(F.col("host").alias("dst_host")), on="dst_host", how="left_anti")
                .localCheckpoint()
            )
        if remaining.limit(1).count() == 0:
            break
        # 2. forward color, 3. backward within color
        g = _min_label_fixpoint(e, remaining, "src_host", "dst_host", 3 * max_rounds)
        ecol = (
            e.join(g.select(F.col("host").alias("src_host"), F.col("lbl").alias("_gs")), on="src_host")
            .join(g.select(F.col("host").alias("dst_host"), F.col("lbl").alias("_gd")), on="dst_host")
            .where(F.col("_gs") == F.col("_gd"))
            .select("src_host", "dst_host")
        )
        f = _min_label_fixpoint(ecol, remaining, "dst_host", "src_host", 3 * max_rounds)
        res = (
            g.join(f.select("host", F.col("lbl").alias("_f")), on="host")
            .where(F.col("lbl") == F.col("_f"))
            .select("host", F.col("lbl").alias("scc_id"))
            .localCheckpoint()
        )
        parts.append(res)
        remaining = remaining.join(res, on="host", how="left_anti").localCheckpoint()
        e = (
            e.join(res.select(F.col("host").alias("src_host")), on="src_host", how="left_anti")
            .join(res.select(F.col("host").alias("dst_host")), on="dst_host", how="left_anti")
            .localCheckpoint()
        )
    else:
        raise RuntimeError(f"scc_hosts: not converged in {max_rounds} rounds")
    if not parts:  # empty edge input: no nodes, empty (host, scc_id) result
        return nodes.select("host", F.col("host").alias("scc_id"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scc_hosts_sql(
    table: str, id_col: str, text_col: str, graph_sql: str | None = None
) -> str:
    """DuckDB twin via brute transitive closure: WITH RECURSIVE
    reachability pairs (UNION dedup terminates the iteration), then
    scc_id(v) = min(v, min w such that v<->w mutually reachable).
    Closure is O(V*E) memory — an oracle-scale formulation (the catalog's
    host universe is bounded); the Spark side is the scale path.

    graph_sql optionally overrides the (src_host, dst_host[, n_links])
    edge source (tests inject literal graphs — e.g. a self-loop-only
    host — that the deterministic synthetic link generator can't emit)."""
    g = (
        graph_sql
        if graph_sql is not None
        else host_link_graph_sql(table, id_col, text_col)
    )
    return f"""
    WITH RECURSIVE egall AS (
      SELECT src_host, dst_host FROM (
        {g}
      )
    ),
    eg AS (
      SELECT DISTINCT src_host, dst_host FROM egall WHERE src_host != dst_host
    ),
    nodes AS (
      -- node universe from the UNFILTERED graph rows: a host whose only
      -- edge is a self-loop is still a singleton SCC (matches the Spark
      -- side, which builds nodes from raw edges before the src!=dst cut)
      SELECT DISTINCT host FROM (
        SELECT src_host AS host FROM egall
        UNION ALL
        SELECT dst_host AS host FROM egall
      )
    ),
    reach(s, d) AS (
      SELECT src_host, dst_host FROM eg
      UNION
      SELECT r.s, e.dst_host FROM reach r JOIN eg e ON r.d = e.src_host
    ),
    mutual AS (
      SELECT a.s AS v, a.d AS w
      FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s
    )
    SELECT n.host,
           least(n.host, coalesce(min(m.w), n.host)) AS scc_id
    FROM nodes n LEFT JOIN mutual m ON m.v = n.host
    GROUP BY n.host
    """


# ---------------------------------------------------------------------------
# Weisfeiler-Leman structural role colors
# ---------------------------------------------------------------------------

WL_ITERS = 3


def wl_host_roles(edges: DataFrame, iterations: int = WL_ITERS) -> DataFrame:
    """edges(src_host, dst_host, n_links) -> (host, wl_color): 1-WL
    (color-refinement) structural fingerprints of the DIRECTED weighted
    host graph — two hosts share wl_color after t rounds iff their
    t-hop link neighborhoods are structurally indistinguishable (same
    in/out degree profile, same neighbor color multiset, recursively).
    The role signal a crawl pipeline uses to group template/mirror/hub
    hosts without any content features — complementary to communities
    (LPA: who links together) and SCC (who links mutually): WL answers
    "who looks alike".

    Round 0: color = phash('d:' out_degree ':' in_degree) (weighted
    degrees — integer sums). Round t: color = phash(prev || '|' ||
    comma-joined SORTED multiset of direction-and-weight-tagged neighbor
    colors 'o<w>:<c>' / 'i<w>:<c>'). The sort makes collect_list's
    nondeterministic order irrelevant; phash (15-hex md5) is the one
    cross-engine hash, so the oracle matches bit-for-bit.

    Scale shape: a round is one edge->color equi-join emitting two
    direction-tagged token streams + one map-side groupBy collecting the
    token list per host; edges are materialized once (localCheckpoint —
    consumed by the degree pass and every round, both directions).
    Fixed iteration count (WL stabilizes in <= diameter rounds; 3 is the
    standard kernel depth), no driver round trips at all.

    Reference analog: none (the reference has no graph-role surface);
    public-knowledge base: Weisfeiler-Leman refinement as used by the
    WL graph kernels (Shervashidze et al. 2011)."""
    e = edges.select("src_host", "dst_host", "n_links").localCheckpoint()
    outd = e.groupBy(F.col("src_host").alias("host")).agg(
        F.sum("n_links").cast("long").alias("_o")
    )
    ind = e.groupBy(F.col("dst_host").alias("host")).agg(
        F.sum("n_links").cast("long").alias("_i")
    )
    nodes = (
        e.select(F.col("src_host").alias("host"))
        .unionByName(e.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    colors = (
        nodes.join(outd, on="host", how="left")
        .join(ind, on="host", how="left")
        .select(
            "host",
            phash(
                F.concat(
                    F.lit("d:"),
                    F.coalesce(F.col("_o"), F.lit(0)).cast("string"),
                    F.lit(":"),
                    F.coalesce(F.col("_i"), F.lit(0)).cast("string"),
                )
            ).alias("wl_color"),
        )
    )
    for _ in range(iterations):
        colors = colors.localCheckpoint()
        toks = (
            e.join(
                colors.select(
                    F.col("host").alias("dst_host"), F.col("wl_color").alias("_c")
                ),
                on="dst_host",
            )
            .select(
                F.col("src_host").alias("host"),
                F.concat(
                    F.lit("o"), F.col("n_links").cast("string"),
                    F.lit(":"), F.col("_c"),
                ).alias("tok"),
            )
            .unionByName(
                e.join(
                    colors.select(
                        F.col("host").alias("src_host"),
                        F.col("wl_color").alias("_c"),
                    ),
                    on="src_host",
                ).select(
                    F.col("dst_host").alias("host"),
                    F.concat(
                        F.lit("i"), F.col("n_links").cast("string"),
                        F.lit(":"), F.col("_c"),
                    ).alias("tok"),
                )
            )
        )
        sig = toks.groupBy("host").agg(
            F.array_join(F.sort_array(F.collect_list("tok")), ",").alias("_sig")
        )
        colors = (
            colors.join(sig, on="host", how="left")
            .select(
                "host",
                phash(
                    F.concat(
                        F.col("wl_color"),
                        F.lit("|"),
                        F.coalesce(F.col("_sig"), F.lit("")),
                    )
                ).alias("wl_color"),
            )
        )
    return colors


def wl_host_roles_sql(
    table: str, id_col: str, text_col: str, iterations: int = WL_ITERS
) -> str:
    """Chained materialized-CTE DuckDB twin (c0 -> c1 -> ...): same phash
    chain; the sorted token multiset is string_agg(tok ORDER BY tok) —
    identical bytes to Spark's array_join(sort_array(...))."""
    ctes = [
        f"edges AS MATERIALIZED ({host_link_graph_sql(table, id_col, text_col)})",
        """nodes AS MATERIALIZED (
          SELECT DISTINCT host FROM (
            SELECT src_host AS host FROM edges
            UNION ALL SELECT dst_host AS host FROM edges))""",
        """outd AS (SELECT src_host AS host, CAST(sum(n_links) AS BIGINT) AS o
             FROM edges GROUP BY src_host)""",
        """ind AS (SELECT dst_host AS host, CAST(sum(n_links) AS BIGINT) AS i
             FROM edges GROUP BY dst_host)""",
        f"""c0 AS MATERIALIZED (
          SELECT n.host,
                 {phash_sql("'d:' || CAST(COALESCE(o.o, 0) AS VARCHAR) || ':' || CAST(COALESCE(i.i, 0) AS VARCHAR)")} AS wl_color
          FROM nodes n LEFT JOIN outd o ON n.host = o.host
          LEFT JOIN ind i ON n.host = i.host)""",
    ]
    for it in range(1, iterations + 1):
        prev = f"c{it - 1}"
        ctes.append(f"""t{it} AS MATERIALIZED (
          SELECT host, tok FROM (
            SELECT e.src_host AS host,
                   'o' || CAST(e.n_links AS VARCHAR) || ':' || c.wl_color AS tok
            FROM edges e JOIN {prev} c ON e.dst_host = c.host
            UNION ALL
            SELECT e.dst_host AS host,
                   'i' || CAST(e.n_links AS VARCHAR) || ':' || c.wl_color AS tok
            FROM edges e JOIN {prev} c ON e.src_host = c.host))""")
        ctes.append(f"""s{it} AS MATERIALIZED (
          SELECT host, string_agg(tok, ',' ORDER BY tok) AS sig
          FROM t{it} GROUP BY host)""")
        ctes.append(f"""c{it} AS MATERIALIZED (
          SELECT p.host,
                 {phash_sql("p.wl_color || '|' || COALESCE(s.sig, '')")} AS wl_color
          FROM {prev} p LEFT JOIN s{it} s ON p.host = s.host)""")
    body = ",\n    ".join(ctes)
    return f"""WITH {body}
    SELECT host, wl_color FROM c{iterations}
    """
