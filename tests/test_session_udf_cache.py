"""Session lifecycle: the library keeps working across a SparkSession
stop and restart in one process, and ``get_spark`` hands the Python
workers the library root without dropping the caller's own path."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import spatialdata_spark.session as S

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

# One query per kind of Python code a plan can carry: a mapInPandas
# raster kernel, an applyInPandas grouped kernel, a module-level
# @pandas_udf (``aggregate._pip``) and a cached scalar-UDF factory
# (``spatial_query._ring_pip_udf``).
_RESTART_QUERIES = ["rt_affine_resample", "rt_halo_boxsum", "ag_fractions", "sq_polygon_concave"]

_RESTART_SCRIPT = """
import json, sys
repo, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path[:0] = [repo, repo + "/tests"]
import __spark_entry__ as entry
from parity import compare, duckdb_conn
from spatialdata_spark.session import get_spark

con = duckdb_conn(sf_dir)
qs, oracles = entry.queries(), entry.oracle_sql()
out = []
for run in (0, 1):
    spark = get_spark("restart-check", cores=2)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        ok, msg = compare(qs[name](spark, sf_dir).toPandas(), con.execute(oracles[name]).fetchdf())
        out.append([run, name, bool(ok), msg])
    spark.stop()
print(json.dumps(out))
"""


@pytest.mark.skipif(not os.path.isdir(_SF_DIR), reason="testdata not present")
def test_queries_match_oracle_across_session_restart():
    """Runs in a subprocess: stopping the session here would stop the
    suite's shared one."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, _REPO, _SF_DIR, *_RESTART_QUERIES],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    results = json.loads(proc.stdout.strip().splitlines()[-1])
    assert [(run, name) for run, name, _, _ in results] == [
        (run, name) for run in (0, 1) for name in _RESTART_QUERIES
    ]
    failures = [r for r in results if not r[2]]
    assert not failures, failures


def test_worker_pythonpath_keeps_user_entries(monkeypatch):
    """get_spark puts the library root on the Python workers' path
    after the caller's own PYTHONPATH entries, never in their place."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(S.__file__)))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["user-libs", "more-libs"]))
    assert S._worker_pythonpath().split(os.pathsep) == ["user-libs", "more-libs", root]
    monkeypatch.delenv("PYTHONPATH")
    assert S._worker_pythonpath() == root
