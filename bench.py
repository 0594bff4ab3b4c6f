#!/usr/bin/env python
"""The repo's one-line benchmark: times the committed extraction job and
the headline queries, and prints one JSON line.

    SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=4 python bench.py

``SPARK_GRAFT_SF_DIR`` defaults to sf0.1 of the test data, and
``SPARK_GRAFT_CPUS`` to the number of CPUs this process may run on.  The
session is perfbench's (``perfbench.run.start_spark``) at
``local[<cpus>]``.  Steps, in order:

1. The sf's pages table (``sources.pages.build_pages``) is written to
   parquet once, outside the timing.
2. One untimed warm-up job, then three timed ones.  A job is
   ``plans.pipeline.run_extraction_job`` over that parquet into a fresh
   checkpoint root with ``num_partitions = 2 x cpus``: anti-join,
   extraction, results write, commit and metrics.  ``extract_e2e`` and
   ``value`` are the median wall time of the timed jobs, and
   ``throughput`` comes from their metrics rows.  bench.py exits
   non-zero when a job commits another number of docs than the table
   holds, or reports ``n_err`` > 0.
3. The six headline ``__spark_entry__.queries()``: one untimed warm-up
   query, then the faster of two ``.count()`` runs each.

The stdout line carries ``metric``, ``value``, ``unit``, ``queries``,
``sf`` and ``throughput``.  Its reader parses it out of a bounded stdout
tail, so it must stay under 1,900 chars; it holds fixed keys and numbers
only (tests/test_bench_line.py pins the worst case).  Progress goes to
stderr.  Per-core and per-layer numbers come from ``perfbench/run.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HEADLINE_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_exact",
    "dedup_incremental",
    "ann_brute_force_topk",
    "text_profile",
    "doc_quality_signals",
)
TIMED_JOBS = 3
# Replaces perfbench's JVM options: C1 only as there, but with a larger
# code cache (C1's default 48 MB fills with the query phase's generated
# classes, and a full code cache fails queries instead of slowing them)
# and without the pre-touched heap, which only steadies perfbench's RSS.
JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"


def log(t_start: float, msg: str) -> None:
    print(f"[bench t+{time.perf_counter() - t_start:6.1f}s] {msg}", file=sys.stderr)


def compact_line(queries: dict, sf: str, throughput: dict) -> str:
    """The one stdout line; ``value`` is the extraction job's time."""
    return json.dumps(
        {
            "metric": "extract_e2e_sec",
            "value": queries["extract_e2e"],
            "unit": "sec",
            "queries": queries,
            "sf": sf,
            "throughput": throughput,
        }
    )


def check_counts(metrics_rows, n_pages: int) -> tuple[int, int]:
    """(n_docs, bytes_in) of a committed job; exits non-zero when the job
    committed another number of docs than the input holds or failed on
    any (``no_text_layer`` is an outcome, not a failure: see
    ``plans.pipeline._write_metrics``)."""
    n_docs = sum(r["n_docs"] for r in metrics_rows)
    n_err = sum(r["n_err"] for r in metrics_rows)
    if n_docs != n_pages or n_err:
        sys.exit(f"bench: job committed {n_docs} of {n_pages} docs, n_err {n_err}")
    return n_docs, sum(r["bytes_in"] for r in metrics_rows)


def run_job(spark, pages_dir: str, root: str, cores: int, n_pages: int):
    """One committed extraction batch into ``root``; returns
    (wall seconds, n_docs, bytes_in)."""
    from textextraction_spark.plans.pipeline import JobConfig, run_extraction_job

    t0 = time.perf_counter()
    metrics = run_extraction_job(
        spark,
        spark.read.parquet(pages_dir),
        JobConfig(checkpoint_root=root, batch_id="bench", num_partitions=2 * cores),
    )
    wall = time.perf_counter() - t0
    return (wall, *check_counts(metrics.collect(), n_pages))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    t_start = time.perf_counter()

    import __spark_entry__ as E
    from perfbench.run import start_spark, stop_spark
    from textextraction_spark.sources.pages import build_pages

    work = Path(tempfile.mkdtemp(prefix="bench_"))
    spark = None
    try:
        spark = start_spark(work, cores, {"spark.driver.extraJavaOptions": JAVA_OPTIONS})
        pages_dir = str(work / "pages")
        build_pages(spark, sf_dir).write.parquet(pages_dir)
        n_pages = spark.read.parquet(pages_dir).count()
        log(t_start, f"local[{cores}], {n_pages} pages written")

        jobs = [
            run_job(spark, pages_dir, str(work / f"ckpt-{i}"), cores, n_pages)
            for i in range(1 + TIMED_JOBS)
        ][1:]  # the first is the warm-up
        wall = statistics.median(w for w, _, _ in jobs)
        _, n_docs, n_bytes = jobs[0]
        queries = {"extract_e2e": round(wall, 3)}
        throughput = {
            "n_docs": n_docs,
            "mb": round(n_bytes / 1e6, 1),
            "docs_per_sec": round(n_docs / wall, 1),
            "mb_per_sec": round(n_bytes / 1e6 / wall, 2),
        }
        log(t_start, f"jobs {[round(w, 2) for w, _, _ in jobs]} s")

        qmap = E.queries()
        qmap["dedup_exact"](spark, sf_dir).count()  # warm-up, untimed
        for name in HEADLINE_QUERIES:
            times = []
            for _ in range(2):
                t0 = time.perf_counter()
                qmap[name](spark, sf_dir).count()
                times.append(time.perf_counter() - t0)
            queries[name] = round(min(times), 3)
        log(t_start, "queries done")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(compact_line(queries, sf, throughput))


if __name__ == "__main__":
    main()
