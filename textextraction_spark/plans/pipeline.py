"""The end-to-end extraction job (SURVEY.md §3.2-3.3 Spark equivalents).

    read pages -> project(url, warc_ts, html)        [column pruning at scan]
      -> anti-join committed urls                    [resume, K3]
      -> salted repartition                          [skew, §4.2]
      -> mapInArrow extract                          [the kernel]
      -> + lineage columns (part_id, batch_id)
      -> write results + commit checkpoint           [exactly-once]
      -> per-partition metrics                       [lineage, A3]

This is the only code that assembles and commits an extraction: job.py's
batch mode and every streaming micro-batch (streaming/stream_job.py) run
it.  Every stage is declarative except the kernel; the only shuffle in
the whole job is the explicit repartition (verified by
tests/test_plans.py reading the physical plan).  At 100 TB the same plan
holds: the scan prunes columns/partitions, the anti-join broadcasts the
(small) committed-url set or shuffles hash-to-hash, and extraction
parallelism = num_partitions, sized ~2-4x executor cores.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from textextraction_spark.io.checkpoint import CheckpointCatalog
from textextraction_spark.job.extract import extract_pages
from textextraction_spark.job.schemas import EXTRACTED_SCHEMA
from textextraction_spark.plans.skew import salt_plan, salted_repartition

# Arrow batch sizing: the BYTE cap is the real OOM guard (html rows can be
# MBs — 32 MB bounds executor-side batch memory no matter the row mix); the
# record cap is a secondary bound for tiny-row tables (bigger batches
# amortize per-batch overhead, ~10% at 8k records).
ARROW_MAX_RECORDS = 8192
ARROW_MAX_BYTES = 32 << 20
# session settings a job changes for its own duration (restored after)
_SESSION_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.execution.arrow.maxBytesPerBatch",
)


@dataclass
class JobConfig:
    checkpoint_root: str
    batch_id: str
    num_partitions: int = 32
    diagnose_skew: bool = False  # host-freq pre-pass (off: uniform url hash)
    encrypt_phi: bool = False  # F9: deterministic AES on patient fields
    # Crawl re-captures: the same url can appear with several warc_ts.
    # dedup_input=True keeps the LATEST capture per url via one max_by
    # groupBy on url — which IS a hash shuffle on url, so it REPLACES the
    # salted repartition (never pay two shuffles for the guard).  Off by
    # default: a url-keyed input table is already unique.
    dedup_input: bool = False


def run_extraction_job(spark, pages_df, cfg: JobConfig):
    """Run one extraction batch; returns the per-partition metrics rows.

    Idempotent: re-running with the same batch_id (or after a crash)
    re-extracts only uncommitted urls and commits atomically.
    """
    # These settings are read at PHYSICAL-PLANNING time (i.e. when the
    # actions below run), so the job sets them for its own duration and
    # restores the caller's values afterwards, on every return path — a
    # num_partitions=2 batch must not leave a shared session planning
    # every later query with 2 partitions or with this job's Arrow caps.
    saved = {key: spark.conf.get(key) for key in _SESSION_KEYS}
    try:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        spark.conf.set(
            "spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES)
        )
        return _run_batch(spark, pages_df, cfg)
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)


def _run_batch(spark, pages_df, cfg: JobConfig):
    catalog = CheckpointCatalog(cfg.checkpoint_root)

    # Re-running an ALREADY-COMMITTED batch id is a no-op, exactly like
    # re-issuing the same MERGE: pending() would be empty and the write
    # would otherwise overwrite the batch's results with an empty set.
    # (A crashed batch has no _COMMITTED marker, so real resume still
    # re-runs its urls.)  The marker is written BEFORE the metrics, so a
    # crash in that window leaves a committed batch without a metrics
    # dir — regenerate from the committed results rather than assuming
    # marker implies metrics.
    if cfg.batch_id in catalog.committed_batches():
        metrics_dir = catalog.root / "metrics" / cfg.batch_id
        if (metrics_dir / "_SUCCESS").exists():
            return spark.read.parquet(str(metrics_dir))
        return _write_metrics(spark, catalog, cfg.batch_id)

    # transport charset (WARC envelopes) rides with the payload when the
    # source provides it; parquet pages tables don't have the column
    extra_cols = ["charset"] if "charset" in pages_df.columns else []
    pending = catalog.pending(
        pages_df.select("url", "warc_ts", "html", *extra_cols), spark
    )
    if cfg.dedup_input:
        # Parallelism via shuffle.partitions, NOT a pre-repartition:
        # an explicit repartition(url) would satisfy the agg's
        # distribution requirement, pushing BOTH partial and final
        # HashAggregate after the exchange — every duplicate
        # capture's full html bytes would cross the wire.  With the
        # bare groupBy, the PARTIAL max_by runs map-side (one
        # candidate per url per task reaches the shuffle), which on a
        # recrawl-heavy batch shrinks the dominant shuffle by the
        # duplication factor.  (Salting never applies here: the dedup
        # key MUST be the raw url; a hot HOST is many distinct urls,
        # which the url hash already spreads.)
        spark.conf.set("spark.sql.shuffle.partitions", str(cfg.num_partitions))
        latest = F.max_by(
            F.struct("warc_ts", "html", *extra_cols), "warc_ts"
        ).alias("s")
        distributed = (  # already hash-partitioned by url
            pending.groupBy("url")
            .agg(latest)
            .select(
                "url",
                F.col("s.warc_ts").alias("warc_ts"),
                F.col("s.html").alias("html"),
                *[F.col(f"s.{c}").alias(c) for c in extra_cols],
            )
        )
    else:
        plan = salt_plan(pending) if cfg.diagnose_skew else None
        distributed = salted_repartition(pending, cfg.num_partitions, plan)

    extracted = extract_pages(distributed, encrypt_phi=cfg.encrypt_phi).select(
        "*",
        F.spark_partition_id().alias("part_id"),
        F.lit(cfg.batch_id).alias("batch_id"),
    )

    catalog.write_batch(extracted, cfg.batch_id)
    return _write_metrics(spark, catalog, cfg.batch_id)


def _write_metrics(spark, catalog, batch_id: str):
    """Lineage metrics per partition for a COMMITTED batch (A3 analog:
    the reference logs only a doc count, Worker.cs:98; we record
    count/ok/err/bytes per task), written next to the results."""
    # the schema is given, so the read starts no schema-inference job
    results = spark.read.schema(EXTRACTED_SCHEMA).parquet(str(catalog.results_dir / batch_id))
    metrics = (
        results.groupBy("part_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("error") == "", 1).otherwise(0)).alias("n_ok"),
            # no_text_layer is a legitimate per-row OUTCOME (image-only
            # scanned PDFs — the reference OCRs them, we surface them),
            # not a pipeline failure: it gets its own counter so n_err
            # keeps meaning "the pipeline broke on this row" and a
            # healthy corpus containing scanned docs reports n_err == 0
            # (bench.py exits non-zero on any n_err).
            F.sum(
                F.when(
                    (F.col("error") != "")
                    & (F.col("error") != "no_text_layer"),
                    1,
                ).otherwise(0)
            ).alias("n_err"),
            F.sum(
                F.when(F.col("error") == "no_text_layer", 1).otherwise(0)
            ).alias("n_no_text_layer"),
            F.sum("n_bytes").alias("bytes_in"),
            F.avg("confidence").alias("avg_confidence"),
        )
    )
    # at most num_partitions rows: one sorted file, not a global range
    # sort (whose sampling costs two more Spark jobs)
    metrics_dir = str(catalog.root / "metrics" / batch_id)
    metrics.coalesce(1).sortWithinPartitions("part_id").write.mode(
        "overwrite"
    ).parquet(metrics_dir)
    # what was written, read back: callers that show or collect the
    # metrics re-run neither the aggregate nor the results read.  The
    # schema is given, so the read-back starts no schema-inference job.
    return spark.read.schema(metrics.schema).parquet(metrics_dir)
