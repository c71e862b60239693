"""DuckDB oracles for the two flagship end-to-end pipelines.

Both pipelines were `no_oracle` through round 2 because they embed an
iterative EM fit (exp/log — banned from oracle columns) and a per-block
LSAP solver. They become static-SQL-expressible by two repo-blessed moves:

  * the EM-trained per-comparison-vector weights are frozen as literals
    (plans/e2e_frozen.json, scripts/freeze_e2e_oracles.py — the same
    train-once-freeze pattern as plans/ivf_centroids.json); the OUTPUT
    columns carry no floats, the weights only gate threshold/argmax
    decisions whose margins are far above double noise;
  * the one-to-one stage on the two-source fixture resolves entirely via
    the mutual-best fast path (provably optimal, window-expressible —
    same construction as the one_to_one_links_mutual oracle), and the
    pages fixture's size-capped CC provably never triggers its cap
    (asserted at freeze time: max component pair count 4x under the cap),
    reducing to plain recursive-CTE connected components.

two_source_links additionally re-derives the RECORD FIXTURE ITSELF in SQL:
generate_records is pure md5 arithmetic (portable phash), so the oracle
synthesizes both record tables from range(600) — no frozen inputs at all.
pages_linkage_clusters freezes the page rows instead (the generator's
Zipfian host key uses pow(), which is not bit-portable across engines) and
derives everything downstream — MinHash-LSH band blocking, salted key
blocking, comparison vectors, weight thresholding, transitive clustering —
in SQL.

Reference: vignette/example.jl end-to-end lifecycle; SURVEY §3.
"""

from __future__ import annotations

import json
import os

from ..functions import comparators as C
from ..functions import text as T
from ..functions.text import phash_sql
from ..sources.pages import VOCAB
from .pipeline import (
    KEY_BLOCK_MAX_ROWS,
    LEV_PREFIX,
    N_BANDS,
    ROWS_PER_BAND,
    SHINGLE_K,
)

_FROZEN_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "e2e_frozen.json"
)


def _frozen() -> dict:
    with open(_FROZEN_PATH) as f:
        return json.load(f)


def _sq(s: str) -> str:
    return s.replace("'", "''")


# ---------------------------------------------------------------------------
# two_source_links: records derived in SQL from the generator's md5 scheme
# (sources/records.py — seed 42, n=600, n_match=300)
# ---------------------------------------------------------------------------


def _hx(*parts: str) -> str:
    """SQL twin of records._h: portable 60-bit hash of ':'-joined parts.
    Each part must already be a VARCHAR SQL expression."""
    joined = " || ':' || ".join(parts)
    return phash_sql(f"({joined})")


def _pick(arr: list[str], h: str) -> str:
    lst = "[" + ", ".join(f"'{_sq(x)}'" for x in arr) + "]"
    return f"list_extract({lst}, CAST(({h}) % {len(arr)} AS INT) + 1)"


def _name_sql(prefix: str, key: str, seed: str = "42") -> str:
    p1 = _pick(VOCAB, _hx(f"'{seed}'", f"'{prefix}'", "'n1'", key))
    p2 = _pick(VOCAB, _hx(f"'{seed}'", f"'{prefix}'", "'n2'", key))
    return f"({p1} || {p2})"


def _records_cte(src: str, n: int = 600, n_match: int = 300) -> str:
    """CTE body for one record table (src 'A' or 'B'), mirroring
    sources/records.py:generate_records field by field."""
    s = "42"
    key = "CAST(k AS VARCHAR)"
    gender = _pick(["m", "f"], _hx(f"'{s}'", "'g'", key))
    gname = _name_sql("gname", key, s)
    fname = _name_sql("fname", key, s)
    age = f"CAST(({_hx(f_q(s), f_q('age'), key)}) % 80 AS VARCHAR)"
    occup = _pick(VOCAB[:10], _hx(f"'{s}'", "'oc'", key))
    if src == "A":
        base = (
            f"SELECT CAST(range AS BIGINT) AS i, CAST(range AS BIGINT) AS k "
            f"FROM range({n})"
        )
        return f"""
  SELECT 'a' || CAST(i AS VARCHAR) AS rid, {gender} AS gender,
         {gname} AS gname, {fname} AS fname, {age} AS age, {occup} AS occup
  FROM ({base})"""
    # B: non-matching tail draws from a disjoint hash stream; matched rows
    # perturbed (typo'd gname ~1/3, NA-out age/occup)
    base = (
        f"SELECT CAST(range AS BIGINT) AS i, "
        f"CASE WHEN range >= {n_match} THEN CAST(range AS BIGINT) + 1000000 "
        f"ELSE CAST(range AS BIGINT) END AS k FROM range({n})"
    )
    typo_hit = f"(i < {n_match} AND ({_hx(f_q(s), f_q('tg'), key)}) % 3 = 0)"
    gname_t = (
        f"CASE WHEN {typo_hit} THEN substr({gname}, 1, 3) || 'x' || "
        f"substr({gname}, 4) ELSE {gname} END"
    )
    age_t = (
        f"CASE WHEN ({_hx(f_q(s), f_q('na'), key)}) % 10 = 0 THEN 'NA' "
        f"ELSE {age} END"
    )
    occup_t = (
        f"CASE WHEN ({_hx(f_q(s), f_q('no'), key)}) % 10 = 1 THEN 'NA' "
        f"ELSE {occup} END"
    )
    return f"""
  SELECT 'b' || CAST(i AS VARCHAR) AS rid, {gender} AS gender,
         {gname_t} AS gname, {fname} AS fname, {age_t} AS age,
         {occup_t} AS occup
  FROM ({base})"""


def f_q(x: str) -> str:
    """Single-quote a literal SQL string part."""
    return f"'{x}'"


def _wmap_values(weights: list, ncols: int) -> str:
    rows = []
    for row in weights:
        gs = ", ".join(str(int(v)) for v in row[:ncols])
        rows.append(f"({gs}, CAST('{row[ncols]}' AS DOUBLE))")
    return ",\n  ".join(rows)


def two_source_links_sql() -> str:
    fz = _frozen()["two_source"]
    gcols = fz["gcols"]  # g_gname, g_fname, g_age, g_occup
    wvals = _wmap_values(fz["weights"], len(gcols))
    gjoin = ", ".join(gcols)
    return f"""
WITH RECURSIVE
recs_a AS MATERIALIZED ({_records_cte("A")}),
recs_b AS MATERIALIZED ({_records_cte("B")}),
pairs AS MATERIALIZED (
  SELECT {phash_sql("ra.rid")} AS id_a,
         {phash_sql("('B:' || rb.rid)")} AS id_b,
         ra.rid AS rid_a, rb.rid AS rid_b,
         {C.lev_ord_sql("ra.gname", "rb.gname")} AS g_gname,
         {C.lev_ord_sql("ra.fname", "rb.fname")} AS g_fname,
         {C.bool_ord_sql("nullif(ra.age, 'NA')", "nullif(rb.age, 'NA')")} AS g_age,
         {C.bool_ord_sql("nullif(ra.occup, 'NA')", "nullif(rb.occup, 'NA')")} AS g_occup
  FROM recs_a ra JOIN recs_b rb ON ra.gender = rb.gender
),
wmap({gjoin}, w) AS (VALUES
  {wvals}
),
pos AS MATERIALIZED (
  SELECT p.id_a, p.id_b, p.rid_a, p.rid_b, wm.w
  FROM pairs p JOIN wmap wm USING ({gjoin})
  WHERE wm.w > 0e0
),
bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pos
                    UNION ALL SELECT id_b AS a, id_a AS b FROM pos),
walk(node, comp) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM bi)
  UNION
  SELECT bi.b, w.comp FROM walk w JOIN bi ON bi.a = w.node
  WHERE w.comp < bi.b
),
cc AS MATERIALIZED (SELECT node, min(comp) AS component
                    FROM walk GROUP BY node),
bp AS MATERIALIZED (
  SELECT pos.*, cc.component AS block_id,
         row_number() OVER (PARTITION BY pos.id_a
                            ORDER BY pos.w DESC, pos.id_b ASC) AS rna,
         row_number() OVER (PARTITION BY pos.id_b
                            ORDER BY pos.w DESC, pos.id_a ASC) AS rnb
  FROM pos JOIN cc ON cc.node = pos.id_a
),
mut AS (SELECT rid_a, rid_b, id_a, id_b, block_id FROM bp
        WHERE rna = 1 AND rnb = 1),
stats AS (SELECT block_id, count(DISTINCT id_a) AS na,
                 count(DISTINCT id_b) AS nb
          FROM bp GROUP BY block_id),
mc AS (SELECT block_id, count(*) AS nm FROM mut GROUP BY block_id),
resolved AS (
  SELECT s.block_id FROM stats s LEFT JOIN mc ON mc.block_id = s.block_id
  WHERE s.na = 1 OR s.nb = 1 OR (mc.nm = s.na AND s.na = s.nb)
)
SELECT m.rid_a, m.rid_b, m.block_id
FROM mut m JOIN resolved r ON r.block_id = m.block_id
"""


# ---------------------------------------------------------------------------
# pages_linkage_clusters: frozen page rows; blocking/scoring/clustering in SQL
# (mirrors plans/pipeline.py:run_linkage: its blocking/scoring constants,
# lsh_blocking's max_bucket_rows=1000, LinkageConfig's penalty=2.0)
# ---------------------------------------------------------------------------

PAGES_LSH_MAX_BUCKET_ROWS = 1000


def _pages_values(rows: list) -> str:
    return ",\n  ".join(
        f"('{_sq(u)}', '{_sq(t)}', '{_sq(l)}')" for u, t, l in rows
    )


def _key_salt_cte(key: str, max_rows: int) -> str:
    """Salted composite-key projection (blocking.salt_hot_keys window form):
    n_salts = ceil(block_rows / max_rows), salt = phash(id) % n_salts."""
    n = f"count(*) OVER (PARTITION BY {key})"
    n_salts = f"CAST(ceil(CAST({n} AS DOUBLE) / {max_rows}) AS INT)"
    salt = f"CAST({phash_sql('CAST(node AS VARCHAR)')} % {n_salts} AS INT)"
    return f"SELECT node, {key} AS kb, {salt} AS s FROM docs"


def pages_linkage_clusters_sql() -> str:
    fz = _frozen()["pages"]
    gcols = fz["gcols"]  # g_lev, g_jac, g_lang
    wvals = _wmap_values(fz["weights"], len(gcols))
    gjoin = ", ".join(gcols)
    penalty = fz["penalty"]
    pvals = _pages_values(fz["pages"])
    band_keys = ", ".join(
        T.band_key_from_hashes_sql("shh", band, ROWS_PER_BAND)
        for band in range(N_BANDS)
    )
    # LSH bucket salt (blocking.salt_buckets window form; fixture buckets
    # are all far under the 1000-row cap, so every salt is 0 — kept for
    # structural fidelity at zero cost)
    nbk = "count(*) OVER (PARTITION BY band_key)"
    nbs = f"CAST(ceil(CAST({nbk} AS DOUBLE) / {PAGES_LSH_MAX_BUCKET_ROWS}e0) AS BIGINT)"
    bsalt = f"CAST({phash_sql('CAST(node AS VARCHAR)')} % {nbs} AS INT)"
    lev_a = f"substr(da.text, 1, {LEV_PREFIX})"
    lev_b = f"substr(db.text, 1, {LEV_PREFIX})"
    return f"""
WITH RECURSIVE
pages(url, text, lang) AS (VALUES
  {pvals}
),
docs AS MATERIALIZED (
  SELECT {phash_sql("url")} AS node, url, text, lang,
         regexp_extract(url, '^https?://([^/]+)/', 1) AS host
  FROM pages
),
hashed AS MATERIALIZED (
  SELECT node, {T.shingle_hashes_sql("text", SHINGLE_K)} AS shh
  FROM docs
),
banded AS MATERIALIZED (
  SELECT node, unnest([{band_keys}]) AS band_key FROM hashed
),
salted AS MATERIALIZED (
  SELECT node, band_key, {bsalt} AS bsalt FROM banded
),
ksl AS MATERIALIZED ({_key_salt_cte("lang", KEY_BLOCK_MAX_ROWS)}),
ksh AS MATERIALIZED ({_key_salt_cte("host", KEY_BLOCK_MAX_ROWS)}),
cand AS MATERIALIZED (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.node AS id_a, b.node AS id_b
    FROM salted a JOIN salted b
      ON a.band_key = b.band_key AND a.bsalt = b.bsalt AND a.node < b.node
    UNION ALL
    SELECT a.node, b.node FROM ksl a JOIN ksl b
      ON a.kb = b.kb AND a.s = b.s AND a.node < b.node
    UNION ALL
    SELECT a.node, b.node FROM ksh a JOIN ksh b
      ON a.kb = b.kb AND a.s = b.s AND a.node < b.node
  )
),
cvec AS MATERIALIZED (
  SELECT c.id_a, c.id_b,
         {C.lev_ord_sql(lev_a, lev_b)} AS g_lev,
         {C.token_jaccard_ord_sql("da.text", "db.text")} AS g_jac,
         {C.bool_ord_sql("da.lang", "db.lang")} AS g_lang
  FROM cand c
  JOIN docs da ON da.node = c.id_a
  JOIN docs db ON db.node = c.id_b
),
wmap({gjoin}, w) AS (VALUES
  {wvals}
),
pos AS MATERIALIZED (
  SELECT v.id_a, v.id_b FROM cvec v JOIN wmap wm USING ({gjoin})
  WHERE wm.w > CAST('{penalty}' AS DOUBLE)
),
bi AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pos
                    UNION ALL SELECT id_b AS a, id_a AS b FROM pos),
walk(node, comp) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM bi)
  UNION
  SELECT bi.b, w.comp FROM walk w JOIN bi ON bi.a = w.node
  WHERE w.comp < bi.b
),
cc AS MATERIALIZED (SELECT node, min(comp) AS component
                    FROM walk GROUP BY node)
SELECT d.url, COALESCE(cc.component, d.node) AS cluster_id
FROM docs d LEFT JOIN cc ON cc.node = d.node
"""
