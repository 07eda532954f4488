"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"cluster_id", "cluster_size"}


def test_queries_and_oracles_consistent():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 20
    assert set(oracles) <= set(qs), "oracle for unregistered query"
    # since round 3 EVERY registered query carries a DuckDB oracle (the
    # approximate families as within-bounds contracts)
    assert set(oracles) == set(qs)


def test_each_query_runs_at_sf0001(spark, sf_dir):
    for name, fn in E.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(3).collect()


def test_packaged_entry_via_spark_submit():
    """Round-4 task #6: the contract's real invocation path -- zip the
    package, spark-submit --py-files from a neutral cwd, run entry() --
    must work end-to-end with the stable schema.  In-process pytest
    cannot catch packaging bugs (missing submodule in the zip,
    cwd-dependent paths); this run also refreshes SUBMIT_ENTRY.json,
    the repo's packaged-path evidence artifact."""
    import json
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "submit_entry.py")],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout[-1000:], proc.stderr[-2000:])
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ok"] and out["rows"] >= 0
    assert out["schema"] == ["cluster_id:string", "cluster_size:bigint"]
