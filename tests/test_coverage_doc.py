"""COVERAGE.md <-> catalog consistency (VERDICT r4 next-round #6): the
hand-kept SURVEY §2 map must not rot as the catalog grows. Two
directions: every driver-contract query name appears (backticked) in
COVERAGE.md, and every snake-case backticked token in a COVERAGE
`Catalog` cell names a real catalog entry."""

import os
import re

import __spark_entry__ as entrymod

COV = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "COVERAGE.md")

# Catalog-cell tokens that are legitimately not query names (prose
# references to the driver contract itself).
ALLOWED_NON_QUERIES = {"queries", "oracle_sql", "entry"}


def _catalog_cells():
    """Yield (line_no, catalog_cell) for every 4-column table body row."""
    for i, line in enumerate(open(COV), start=1):
        if not line.startswith("|"):
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) != 4:
            continue
        if cells[0].startswith("---") or cells[0] == "Reference operator":
            continue
        yield i, cells[2]


def test_every_query_documented():
    names = set(entrymod.queries())
    text = open(COV).read()
    missing = sorted(n for n in names if f"`{n}`" not in text)
    assert not missing, f"catalog queries absent from COVERAGE.md: {missing}"


def test_every_catalog_cell_names_real_query():
    names = set(entrymod.queries())
    bad = []
    for ln, cell in _catalog_cells():
        for tok in re.findall(r"`([a-z][a-z0-9_]*)`", cell):
            if tok in names or tok in ALLOWED_NON_QUERIES:
                continue
            bad.append((ln, tok))
    assert not bad, f"COVERAGE.md Catalog cells name unknown queries: {bad}"
