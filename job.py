#!/usr/bin/env python
"""spark-submit entry point for the extraction job (the north_star
packaging contract):

    python textextraction_spark/job/packaging.py   # -> build the zip, or
    spark-submit --py-files /tmp/textextraction_spark_pyfiles.zip \\
        job.py --input /data/pages --checkpoint /data/ckpt --batch-id b1

Local library use needs no zip (job/packaging.py self-ships).

Modes:
  --input DIR           read a stored pages parquet table
  --input-format warc   treat --input as a tree of .warc[.gz] segments
                        (Common Crawl layout) instead of parquet
  --synthetic SF_DIR    build the deterministic pages table from a
                        testdata documents parquet (fixtures/bench)
  --streaming           run the Structured Streaming variant instead
                        (each micro-batch runs the batch job as epoch-N;
                        drains what has landed and stops; combines with
                        --input-format warc to stream raw crawl segments)
"""

from __future__ import annotations

import argparse
import sys


def build_session(app: str, shuffle_partitions: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet directory (or WARC tree)")
    src.add_argument("--synthetic", help="testdata sf dir to synthesize pages from")
    ap.add_argument(
        "--input-format", choices=("parquet", "warc"), default="parquet",
        help="storage format of --input (warc = Common Crawl segments)",
    )
    ap.add_argument("--checkpoint", required=True, help="checkpoint root dir")
    ap.add_argument("--batch-id", default="batch-0")
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--encrypt-phi", action="store_true")
    ap.add_argument("--diagnose-skew", action="store_true")
    ap.add_argument(
        "--dedup-input", action="store_true",
        help="crawl re-captures: keep latest warc_ts per url (one shuffle)",
    )
    ap.add_argument(
        "--export-jsonl", metavar="DIR",
        help="after the batch commits, export the corpus as gzip JSONL shards",
    )
    ap.add_argument("--export-shards", type=int, default=8)
    ap.add_argument(
        "--export-wet", metavar="DIR",
        help="after the batch commits, export extracted text as WET "
        "segments (WARC conversion records + CDX index)",
    )
    ap.add_argument(
        "--export-wat", metavar="DIR",
        help="after the batch commits, export per-page metadata (title "
        "+ outgoing links in the Common Crawl WAT JSON envelope) as WAT "
        "segments (WARC metadata records + cdx-wat index)",
    )
    ap.add_argument(
        "--profile-output", metavar="DIR",
        help="after the batch commits, write the per-url curation "
        "profile (token/quality/lang/fingerprint/PII/repetition "
        "signals over the extracted text) as parquet",
    )
    ap.add_argument(
        "--export-training", metavar="DIR",
        help="after the batch commits, run the composed curation "
        "pipeline (quality gate -> exact dedup -> shard + pack at "
        "SEQ_LEN tokens) and write training shards + manifest",
    )
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--stream-checkpoint", help="streaming offsets dir")
    args = ap.parse_args(argv)

    if args.input_format == "warc" and args.synthetic:
        ap.error("--input-format warc applies only to --input trees")

    spark = build_session("textextraction-job", args.partitions)
    spark.sparkContext.setLogLevel("WARN")

    if args.streaming:
        from textextraction_spark.streaming.stream_job import run_streaming_extraction

        if not args.input or not args.stream_checkpoint:
            ap.error("--streaming requires --input and --stream-checkpoint")
        q = run_streaming_extraction(
            spark,
            args.input,
            args.checkpoint,
            args.stream_checkpoint,
            num_partitions=args.partitions,
            input_format=args.input_format,
            wet_dir=args.export_wet,
        )
        q.awaitTermination()
        return 0

    from textextraction_spark.job.schemas import PAGES_SCHEMA
    from textextraction_spark.plans.pipeline import JobConfig, run_extraction_job

    if args.synthetic:
        from textextraction_spark.sources.pages import build_pages

        pages = build_pages(spark, args.synthetic)
    elif args.input_format == "warc":
        from textextraction_spark.sources.warc import read_warc

        pages = read_warc(spark, args.input)
    else:
        pages = spark.read.schema(PAGES_SCHEMA).parquet(args.input)

    cfg = JobConfig(
        checkpoint_root=args.checkpoint,
        batch_id=args.batch_id,
        num_partitions=args.partitions,
        diagnose_skew=args.diagnose_skew,
        dedup_input=args.dedup_input,
        encrypt_phi=args.encrypt_phi,
    )
    metrics = run_extraction_job(spark, pages, cfg)
    metrics.show(100, truncate=False)

    if args.export_jsonl:
        from textextraction_spark.io.checkpoint import CheckpointCatalog
        from textextraction_spark.io.export import export_jsonl

        results = CheckpointCatalog(args.checkpoint).results(spark)
        export_jsonl(
            results.select("url", "extracted_text", "confidence"),
            args.export_jsonl,
            n_shards=args.export_shards,
        )
    if args.export_wet:
        from textextraction_spark.io.checkpoint import CheckpointCatalog
        from textextraction_spark.sources.warc import write_wet_dir

        results = CheckpointCatalog(args.checkpoint).results(spark)
        write_wet_dir(
            results.select("url", "warc_ts", "extracted_text"), args.export_wet
        )
    if args.export_wat:
        from textextraction_spark.sources.warc import build_wat, write_wat_dir

        # WAT derives from the PAGES side (head/link metadata of the
        # raw captures), not from extraction results
        write_wat_dir(
            build_wat(pages.select("url", "warc_ts", "html")), args.export_wat
        )
    if args.profile_output:
        from textextraction_spark.io.checkpoint import CheckpointCatalog
        from textextraction_spark.io.export import profile_results

        results = CheckpointCatalog(args.checkpoint).results(spark)
        profile_results(results).write.mode("overwrite").parquet(
            args.profile_output
        )
    if args.export_training:
        from textextraction_spark.io.checkpoint import CheckpointCatalog
        from textextraction_spark.plans.training_export import export_training

        results = CheckpointCatalog(args.checkpoint).results(spark)
        export_training(results, args.export_training)
    return 0


if __name__ == "__main__":
    sys.exit(main())
