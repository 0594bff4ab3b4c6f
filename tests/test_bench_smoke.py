"""bench.py smoke: the driver's performance surface must never crash.

A bench.py failure costs the repo its benchmark row, so the harness
gets the same protection as the query surface: run it end-to-end as a
SUBPROCESS (bench.py starts and stops its own gateway JVM, which would
kill the shared pytest Spark session if run in-process) at sf0.001, and
assert the contract — exactly one JSON line on stdout with the six
required keys, small enough for its reader's ~2000-char stdout-tail
parse window.

Serial discipline: this test is marked ``bench_serial`` and SKIPS itself
when a Spark gateway JVM is already alive in this process — two Spark
clusters on the same CPUs contend and pollute both measurements.  In the
full ``pytest tests/`` run the file sorts first, so it executes before
any shared-session test boots the JVM and the contract stays covered.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

import bench

pytestmark = pytest.mark.bench_serial

ROOT = Path(__file__).resolve().parents[1]


def test_bench_emits_one_valid_json_line():
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        pytest.skip(
            "a Spark JVM is already running in this process; bench.py "
            "must never share the CPUs with other Spark work (run this "
            "test first or standalone)"
        )
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
    )
    # unset: bench.py then runs on the CPUs this process may use
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, proc.stdout
    # the line is parsed out of a bounded stdout tail
    assert len(lines[0]) <= 1900, len(lines[0])
    d = json.loads(lines[0])
    for key in ("metric", "value", "unit", "queries", "sf", "throughput"):
        assert key in d, key
    assert d["unit"] == "sec" and d["value"] > 0
    assert d["value"] == d["queries"]["extract_e2e"]
    assert set(d["queries"]) == {"extract_e2e", *bench.HEADLINE_QUERIES}
    assert d["throughput"]["n_docs"] == 500  # every sf0.001 page, once
    assert d["sf"] == "0.001"
