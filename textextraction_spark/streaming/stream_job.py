"""Structured Streaming variant of the extraction job (SURVEY.md §2.9).

The reference is a hand-rolled micro-batch stream: an unbounded poll loop
with a 2-minute delay over an input folder (``Worker.cs:45-56``), file-move
as commit (``Worker.cs:529``).  The Spark-native equivalent:

    readStream(file source over the pages directory)
      -> writeStream.foreachBatch(run_extraction_job as batch "epoch-N")
      -> trigger: ProcessingTime("2 minutes") in production,
                  availableNow for tests/backfill.

Every micro-batch IS one run of the batch job (plans/pipeline.py), so it
shares the batch job's resume anti-join, Arrow batch caps, exactly-once
commit and ``metrics/epoch-N``.  That includes the committed-batch guard:
Spark replays an epoch whose offsets it logged but never marked done (a
crash after our commit marker, before Spark's own commit), and that
replay must be a no-op, not an overwrite of the epoch's results with the
now-empty pending set.  No watermarks/session windows are needed to match
the reference (it has no event-time logic); Spark's own streaming
checkpoint handles source offsets on top.
"""

from __future__ import annotations

from textextraction_spark.io.checkpoint import CheckpointCatalog
from textextraction_spark.job.schemas import PAGES_SCHEMA
from textextraction_spark.plans.pipeline import JobConfig, run_extraction_job


def run_streaming_extraction(
    spark,
    pages_dir: str,
    checkpoint_root: str,
    stream_checkpoint_dir: str,
    num_partitions: int = 8,
    trigger: dict | None = None,
    input_format: str = "parquet",
    wet_dir: str | None = None,
    wat_dir: str | None = None,
):
    """Start the streaming extraction over a pages directory.

    input_format: "parquet" streams a stored pages table; "warc" streams
    a growing tree of raw Common-Crawl segments (the crawl-scale analog
    of the reference's watched folder) — file discovery and consumed-file
    offsets ride Spark's streaming checkpoint, the WARC parse runs per
    micro-batch through the same ``mapInArrow`` parser as the batch path.
    trigger: e.g. {"processingTime": "2 minutes"} (the reference's poll
    cadence) or {"availableNow": True} (drain-and-stop, used by tests).
    wet_dir: when set, each epoch that commits also PUBLISHES its results
    (read back from ``results/epoch-N``, so the kernel runs once) as WET
    segments there — epoch-prefixed file names so epochs never clobber
    each other, cdx-wet rows appended, no per-epoch manifest collect
    (continuous crawl-in -> published-text-out).
    wat_dir: same contract for the metadata side — the micro-batch's
    pages whose urls the epoch committed publish as WAT segments (title +
    links envelope, cdx-wat).
    Publishing happens only when the epoch was not already committed on
    entry, so a replayed epoch appends no duplicate cdx rows; an epoch
    that crashes between its commit and its publish is not re-published.
    Returns the StreamingQuery; caller awaits/stops it.
    """
    catalog = CheckpointCatalog(checkpoint_root)

    if input_format == "warc":
        from textextraction_spark.sources.warc import read_warc_stream

        stream = read_warc_stream(spark, pages_dir)
    else:
        stream = (
            spark.readStream.schema(PAGES_SCHEMA)
            .parquet(pages_dir)
            .select("url", "warc_ts", "html")
        )

    def commit_batch(batch_df, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if input_format == "warc":
            from textextraction_spark.sources.warc import parse_warc_files

            batch_df = parse_warc_files(batch_df)
        batch_id = f"epoch-{epoch_id}"
        # a replayed epoch published its segments when it first committed
        publish = batch_id not in catalog.committed_batches()
        run_extraction_job(
            spark, batch_df, JobConfig(checkpoint_root, batch_id, num_partitions)
        )
        if not publish:
            return
        results = spark.read.parquet(str(catalog.results_dir / batch_id))
        if wet_dir:
            from textextraction_spark.sources.warc import write_wet_dir

            write_wet_dir(
                results.select("url", "warc_ts", "extracted_text"),
                wet_dir,
                prefix=batch_id,
                cdx_mode="append",
                collect_manifest=False,
            )
        if wat_dir:
            from textextraction_spark.sources.warc import (
                build_wat,
                write_wat_dir,
            )

            pages = batch_df.join(results.select("url"), "url", "left_semi")
            write_wat_dir(
                build_wat(pages.select("url", "warc_ts", "html")),
                wat_dir,
                prefix=batch_id,
                cdx_mode="append",
                collect_manifest=False,
            )

    writer = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("append")
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()
