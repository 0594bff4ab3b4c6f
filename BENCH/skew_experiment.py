#!/usr/bin/env python
"""Skew receipt: extraction wall-clock on a host-clustered layout, with
and without the salted repartition (plans/skew.py).

Setup: the pages table is written hash-partitioned BY HOST, so the heavy
host (30% of all urls, FIXTURES.md §1) lands in ONE input file.  The
no-shuffle plan (extract on the scan partitions) inherits that layout — one
straggler task does 30% of the work while 31 cores idle.  The salted
repartition re-keys by xxhash64(url [, salt]) and balances.

Run:  python BENCH/skew_experiment.py
Prints one JSON line: {"skewed_no_shuffle_sec", "salted_sec", "speedup"}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from bench import make_session, replicated_pages
    from textextraction_spark.job.extract import extract_pages
    from textextraction_spark.job.schemas import PAGES_SCHEMA
    from textextraction_spark.plans.skew import host_expr, salted_repartition

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rep = int(os.environ.get("SPARK_GRAFT_BENCH_REP", "40"))

    spark = make_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="skew_pages_")

    # Host-clustered layout: one parquet file per host hash bucket.
    replicated_pages(spark, sf_dir, rep).repartition(
        cpus, host_expr()
    ).write.parquet(work + "/pages")
    pages = spark.read.schema(PAGES_SCHEMA).parquet(work + "/pages")

    def run(df) -> float:
        t0 = time.time()
        df.agg(F.count("*")).collect()
        return time.time() - t0

    # Warm python workers on a balanced pass first.
    run(extract_pages(salted_repartition(pages, cpus * 3)))

    skewed = min(run(extract_pages(pages)) for _ in range(2))
    salted = min(
        run(extract_pages(salted_repartition(pages, cpus * 3))) for _ in range(2)
    )

    spark.stop()
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "skewed_no_shuffle_sec": round(skewed, 2),
                "salted_sec": round(salted, 2),
                "speedup": round(skewed / salted, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
