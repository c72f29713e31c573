"""``tools/check_correctness.py`` subset runs: the summary counts only
the selected queries, and an unknown query name fails the run instead
of being skipped."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "check_correctness.py")


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, TOOL, SF_SMALL, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_subset_summary_counts_only_selected_queries():
    r = _run("kpi_daily", "metric_names")
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "PASS kpi_daily" in r.stdout and "PASS metric_names" in r.stdout
    assert r.stdout.rstrip().splitlines()[-1] == "2/2 passed"


def test_unknown_query_name_exits_nonzero_naming_it():
    r = _run("kpi_daily", "no_such_query")
    assert r.returncode != 0
    assert "no_such_query" in r.stderr
    assert "passed" not in r.stdout
