"""Smoke test of the benchmark itself, at a tiny input size.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload once with the traced run on, one untraced run with a
wrong row injected into the commit, and one run from a directory without
the program.  Each run starts its own Spark session, so the runs are
sequential and the whole test takes a few minutes.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.run import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seconds", "1", "--docs", "200", "--shards", "2"]


def run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def summary(stdout: str) -> dict[str, str]:
    """name -> unit of every ``<workload> <name> = <value> <unit>`` line."""
    return {
        m.group(1): m.group(2)
        for m in re.finditer(r"^\S+ (\S+) = \S+ (\S+)", stdout, re.MULTILINE)
    }


# every workload run.py offers, also crawl_mix, which BENCHMARK.json leaves out
@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_metric(workload):
    p = run("--workload", workload, "--seed", "7", "--trace", "1", *TINY)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = summary(p.stdout)
    for m in SPEC["end_to_end"]:
        assert lines.get(m["name"]) == m["unit"], m["name"]
    assert "fail_ratio" in lines
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_wrong_row_fails_the_check():
    p = run("--workload", "crawl_mix", "--seed", "7", "--trace", "0", "--inject-wrong-row", *TINY)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run("--workload", "crawl_mix", "--seed", "1", *TINY, "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
