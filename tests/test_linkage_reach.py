"""Reach set of the linkage system: the package modules that run_linkage,
link_two_sources (plans.pipeline), apply_increment (streaming.er) and the
exact-posterior solver (operators.mcmc, imported lazily by run_linkage)
load. A module outside this set is reached only by the catalog and its
tests. The check fails when a linkage path starts importing such a
module, so the set stays an explicit decision."""

import json
import os
import subprocess
import sys

PKG = "bayesianrecordlinkage_jl_spark"
REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")

REACH = {
    "functions.comparators",
    "functions.text",
    "operators.assignment",
    "operators.blocking",
    "operators.comparison_summary",
    "operators.connected_components",
    "operators.dedup",
    "operators.em",
    "operators.incremental",
    "operators.mcmc",
    "sources.checkpoint",
    "sources.pages",
    "plans.pipeline",
    "streaming.er",
}

_PROBE = f"""
import json, sys
import {PKG}.plans.pipeline, {PKG}.streaming.er, {PKG}.operators.mcmc
print(json.dumps(sorted(m for m in sys.modules if m.startswith("{PKG}."))))
"""


def test_linkage_paths_load_exactly_the_reach_set():
    # a fresh interpreter: the test session has already imported the
    # catalog, which loads every operator module
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    loaded = json.loads(out.strip().splitlines()[-1])
    # subpackage.module names only; the subpackage __init__s carry no code
    modules = {
        m[len(PKG) + 1:] for m in loaded if m.count(".") == 2
    }
    assert modules == REACH, (
        f"extra: {sorted(modules - REACH)}, missing: {sorted(REACH - modules)}"
    )
