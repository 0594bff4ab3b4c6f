"""K3 — exactly-once checkpoint/commit protocol (SURVEY.md §2.2 K3).

The reference's commit is "move the file to the output folder"
(``Worker.cs:529``): at-least-once, with duplicate DB rows on a crash
between insert and move.  We make it exactly-once:

- results land under ``results/batch_id=<id>/`` (parquet),
- the batch's url set is appended to the ``committed`` state table ONLY
  after the results write succeeds, finalized by an atomic marker rename,
- resume = ``pages LEFT ANTI JOIN committed ON url`` — only never-committed
  urls are re-extracted; a crash mid-batch re-runs that batch's urls
  idempotently (extraction is a pure function, so re-runs are
  byte-identical; readers see only finalized batches).

With a MERGE-capable table format this maps 1:1 onto ``MERGE INTO
results`` + snapshot commit (io/catalog.py ``MERGE_SQL`` — SURVEY.md
§7.0); here it is plain parquet + an atomic rename, which
HDFS/S3A-committers provide equivalently at scale.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

# The url column of the results and of the committed url state.  Reads
# that give their schema start no schema-inference Spark job.
URL_SCHEMA = "url string"


class CheckpointCatalog:
    """Local filesystem implementation of the commit protocol."""

    def __init__(self, root: str) -> None:
        self.root = Path(root)
        self.results_dir = self.root / "results"
        self.state_dir = self.root / "committed"
        self.results_dir.mkdir(parents=True, exist_ok=True)
        self.state_dir.mkdir(parents=True, exist_ok=True)

    # -- read side --------------------------------------------------------
    def committed_batches(self) -> list[str]:
        return sorted(
            p.name
            for p in self.state_dir.iterdir()
            if p.is_dir() and (p / "_COMMITTED").exists()
        )

    def committed_urls(self, spark):
        """DataFrame[url] of every committed url (empty if none).

        The empty set is an empty ``LocalRelation`` (``limit(0)``), which
        the optimizer folds away, anti-join included.  An empty
        ``createDataFrame`` would be a Python RDD: Spark keeps the join
        against it and runs it as a stage with its own Python worker pool.
        """
        from pyspark.sql import functions as F

        dirs = [str(self.state_dir / b / "urls") for b in self.committed_batches()]
        if not dirs:
            return spark.range(1).select(F.lit("").alias("url")).limit(0)
        return spark.read.schema(URL_SCHEMA).parquet(*dirs)

    def results(self, spark):
        dirs = [
            str(self.results_dir / b)
            for b in self.committed_batches()
            if (self.results_dir / b).exists()
        ]
        if not dirs:
            raise FileNotFoundError("no committed results")
        return spark.read.parquet(*dirs)

    # -- write side -------------------------------------------------------
    def pending(self, pages_df, spark):
        """Anti-join against committed state — the resume operator
        (SURVEY.md §2.4: left_anti ≈ EXCEPT)."""
        done = self.committed_urls(spark)
        return pages_df.join(done, "url", "left_anti")

    def write_batch(self, extracted_df, batch_id: str) -> None:
        """Write results, then the url state, then the atomic marker.
        Crash at any point before the marker => batch invisible, re-run."""
        out = self.results_dir / batch_id
        # zstd + url-sorted row groups: smaller files and dictionary/RLE-
        # friendly pages for the downstream url-keyed readers (results
        # scans, resume anti-join) — costs one in-partition sort, no shuffle
        extracted_df.sortWithinPartitions("url").write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(str(out))

        staging = self.state_dir / f".staging-{batch_id}"
        final = self.state_dir / batch_id
        if staging.exists():
            shutil.rmtree(staging)
        spark = extracted_df.sparkSession
        spark.read.schema(URL_SCHEMA).parquet(str(out)).write.mode("overwrite").parquet(
            str(staging / "urls")
        )
        (staging / "_COMMITTED").touch()
        if final.exists():  # idempotent re-commit of the same batch id
            shutil.rmtree(final)
        os.replace(staging, final)  # the atomic commit point
