"""bench.py's stdout line and its error gate, without starting Spark.

bench.py's reader parses its one JSON line out of a bounded (~2,000-char)
stdout tail.  The line holds fixed keys and numbers only, so its worst
case is known: every query name with a 7-digit timing and 9-digit
throughput values.
"""

from __future__ import annotations

import json

import pytest

import bench

LINE_KEYS = ("metric", "value", "unit", "queries", "sf", "throughput")


def test_compact_line_fits_driver_tail():
    queries = {name: 1234567.891 for name in ("extract_e2e", *bench.HEADLINE_QUERIES)}
    assert len(queries) == 7
    throughput = {
        "n_docs": 123456789,
        "mb": 123456789.1,
        "docs_per_sec": 123456789.1,
        "mb_per_sec": 123456789.12,
    }
    line = bench.compact_line(queries, "0.001", throughput)
    assert len(line) <= 1900, len(line)
    d = json.loads(line)
    assert tuple(d) == LINE_KEYS
    assert d["value"] == d["queries"]["extract_e2e"]
    assert d["throughput"] == throughput


def test_short_or_failed_job_exits_nonzero():
    rows = [{"n_docs": 300, "n_err": 0, "bytes_in": 10}, {"n_docs": 200, "n_err": 0, "bytes_in": 5}]
    assert bench.check_counts(rows, 500) == (500, 15)
    with pytest.raises(SystemExit, match="499 of 500"):
        bench.check_counts(rows[:1] + [dict(rows[1], n_docs=199)], 500)
    with pytest.raises(SystemExit, match="n_err 1"):
        bench.check_counts(rows[:1] + [dict(rows[1], n_err=1)], 500)
