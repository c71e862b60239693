"""scripts/parity_sweep.py command line: a bad `--json` use must stop with
a message before any Spark or DuckDB work starts."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_json_flag_without_path_exits_with_message():
    run = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "parity_sweep.py"), "--json"],
        capture_output=True, text=True, timeout=120,
    )
    assert run.returncode == 1
    assert "--json requires an output path" in run.stderr
    assert "Traceback" not in run.stderr
