"""Streaming-variant tests: micro-batch drain, incremental file arrival,
exactly-once commit through the shared CheckpointCatalog."""

from __future__ import annotations

import duckdb

from textextraction_spark.io.checkpoint import CheckpointCatalog
from textextraction_spark.sources.pages import URL_SQL, build_pages, expected_text_sql
from textextraction_spark.streaming.stream_job import run_streaming_extraction

SF = "/root/testdata/sf0.001"


def _write_pages(spark, out_dir: str, limit: int | None = None, skip: int = 0):
    from pyspark.sql import functions as F

    pages = build_pages(spark, SF).withColumn(
        "doc_id", F.expr(r"cast(regexp_extract(url, '/d/(\\d+)$', 1) as bigint)")
    )
    if limit is not None:
        pages = pages.filter(
            (F.col("doc_id") >= skip) & (F.col("doc_id") < skip + limit)
        )
    pages.drop("doc_id").write.mode("append").parquet(out_dir)


class TestStreaming:
    def test_available_now_drains_and_commits(self, spark, tmp_path):
        pages_dir = str(tmp_path / "pages")
        ckpt = str(tmp_path / "ckpt")
        sckpt = str(tmp_path / "sckpt")
        _write_pages(spark, pages_dir, limit=200)

        q = run_streaming_extraction(spark, pages_dir, ckpt, sckpt, num_partitions=4)
        q.awaitTermination(120)

        cat = CheckpointCatalog(ckpt)
        res = cat.results(spark)
        assert res.count() == 200
        assert res.select("url").distinct().count() == 200

        # incremental arrival: 100 more docs -> second micro-batch run
        _write_pages(spark, pages_dir, limit=100, skip=200)
        q2 = run_streaming_extraction(spark, pages_dir, ckpt, sckpt, num_partitions=4)
        q2.awaitTermination(120)
        res2 = cat.results(spark)
        assert res2.count() == 300
        assert res2.select("url").distinct().count() == 300

        # bytes still oracle-identical through the streaming path
        got = res2.select("url", "extracted_text").toPandas()
        con = duckdb.connect()
        con.execute(
            f"create view documents as select * from read_parquet('{SF}/documents.parquet')"
        )
        want = con.execute(
            f"select {URL_SQL} as url, {expected_text_sql('duckdb')} as extracted_text "
            "from documents where doc_id < 300"
        ).df()
        m = got.merge(want, on="url", suffixes=("_g", "_w"))
        assert len(m) == 300
        assert (m.extracted_text_g == m.extracted_text_w).all()


class TestStreamingReplay:
    def test_replayed_epoch_is_a_no_op(self, spark, tmp_path):
        """Spark replays an epoch whose offsets it logged but never marked
        done — here a crash after our commit marker but before Spark's
        offset commit, simulated by emptying the stream checkpoint's
        ``commits/``.  The replay must be a no-op: the epoch keeps its
        results and committed urls, and its WET segments are not
        re-published (no duplicate cdx-wet rows)."""
        pages_dir = str(tmp_path / "pages")
        ckpt = str(tmp_path / "ckpt")
        sckpt = tmp_path / "sckpt"
        wet = str(tmp_path / "wet")
        cdx = str(tmp_path / "wet" / "cdx-wet")
        _write_pages(spark, pages_dir, limit=200)

        def drain():
            q = run_streaming_extraction(
                spark, pages_dir, ckpt, str(sckpt), num_partitions=4, wet_dir=wet
            )
            q.awaitTermination(120)

        drain()
        cat = CheckpointCatalog(ckpt)
        assert cat.committed_batches() == ["epoch-0"]
        assert spark.read.parquet(cdx).count() == 200

        for f in (sckpt / "commits").iterdir():
            f.unlink()
        drain()

        assert (sckpt / "commits" / "0").exists()  # epoch 0 really ran again
        assert cat.results(spark).count() == 200
        assert cat.committed_urls(spark).count() == 200
        assert spark.read.parquet(cdx).count() == 200
        # the streaming commit is the batch job's, metrics included
        assert (tmp_path / "ckpt" / "metrics" / "epoch-0" / "_SUCCESS").exists()


class TestStreamingWarc:
    def test_warc_segments_stream_and_commit(self, spark, tmp_path):
        """Raw crawl segments as the STREAM source: segment files arrive
        over time, Spark's file-source checkpoint tracks consumption
        (the reference's watched folder at crawl granularity), and the
        per-micro-batch WARC parse feeds the same exactly-once commit."""
        from pyspark.sql import functions as F

        from textextraction_spark.sources.warc import write_warc_dir

        crawl = str(tmp_path / "crawl")
        ckpt = str(tmp_path / "ckpt")
        sckpt = str(tmp_path / "sckpt")
        pages = build_pages(spark, SF).withColumn(
            "doc_id", F.expr(r"cast(regexp_extract(url, '/d/(\\d+)$', 1) as bigint)")
        )
        first = pages.filter(F.col("doc_id") < 120).select(
            "url", "warc_ts", "html"
        )
        write_warc_dir(first.coalesce(1), crawl, index=False)

        q = run_streaming_extraction(
            spark, crawl, ckpt, sckpt, num_partitions=4, input_format="warc"
        )
        q.awaitTermination(120)
        cat = CheckpointCatalog(ckpt)
        assert cat.results(spark).count() == 120

        # a new segment lands (its own subdir, Common-Crawl style) ->
        # only IT is parsed on the next cycle
        second = pages.filter(
            (F.col("doc_id") >= 120) & (F.col("doc_id") < 180)
        ).select("url", "warc_ts", "html")
        write_warc_dir(second.coalesce(1), crawl + "/seg2", index=False)
        q2 = run_streaming_extraction(
            spark, crawl, ckpt, sckpt, num_partitions=4, input_format="warc"
        )
        q2.awaitTermination(120)
        res = cat.results(spark)
        assert res.count() == 180
        assert res.select("url").distinct().count() == 180

        # streaming-over-WARC output == batch extraction of the same pages
        both = first.unionByName(second)
        from textextraction_spark.job.extract import extract_pages

        want = {
            (r.url, r.extracted_text)
            for r in extract_pages(both).select("url", "extracted_text").collect()
        }
        got = {
            (r.url, r.extracted_text)
            for r in res.select("url", "extracted_text").collect()
        }
        assert got == want


class TestWindowedAggregation:
    def test_watermarked_window_matches_batch(self, spark, tmp_path):
        """Streaming watermark + tumbling window == batch twin on a drained
        bounded stream; the plan carries the EventTimeWatermark node (state
        eviction is live, not decorative)."""
        from textextraction_spark.job.schemas import PAGES_SCHEMA
        from textextraction_spark.streaming.windows import (
            windowed_host_counts,
            windowed_host_counts_batch,
        )

        pages_dir = str(tmp_path / "wpages")
        _write_pages(spark, pages_dir, limit=300)

        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
        agg = windowed_host_counts(stream, "10 minutes", "30 minutes")
        assert "eventTime" in agg._jdf.queryExecution().analyzed().toString() or \
            "EventTimeWatermark" in agg._jdf.queryExecution().analyzed().toString()

        q = (
            agg.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = (
            spark.table("win_counts")
            .orderBy("win_start", "host")
            .toPandas()
        )
        batch = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
        want = (
            windowed_host_counts_batch(batch, "10 minutes")
            .orderBy("win_start", "host")
            .toPandas()
        )
        assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
        assert got["n_pages"].sum() == 300


class TestStreamingDedup:
    def test_duplicate_urls_collapse_within_watermark(self, spark, tmp_path):
        from textextraction_spark.job.schemas import PAGES_SCHEMA
        from textextraction_spark.streaming.windows import dedup_stream

        pages_dir = str(tmp_path / "dpages")
        # same 100 docs written twice -> every url duplicated
        _write_pages(spark, pages_dir, limit=100)
        _write_pages(spark, pages_dir, limit=100)

        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
        q = (
            dedup_stream(stream)
            .select("url")
            .writeStream.format("memory")
            .queryName("dedup_urls")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("dedup_urls").toPandas()
        assert len(got) == 100
        assert got["url"].nunique() == 100


class TestStreamingWetExport:
    def test_micro_batches_publish_wet_segments(self, spark, tmp_path):
        """Continuous crawl-in -> published-text-out: with wet_dir set,
        every micro-batch appends epoch-prefixed WET segments + cdx-wet
        rows; two epochs coexist (no clobber) and the read-back equals
        the committed extraction results."""
        from textextraction_spark.sources.warc import read_wet

        pages_dir = str(tmp_path / "pages")
        ckpt = str(tmp_path / "ckpt")
        sckpt = str(tmp_path / "sckpt")
        wet = str(tmp_path / "wet")
        _write_pages(spark, pages_dir, limit=80)

        q = run_streaming_extraction(
            spark, pages_dir, ckpt, sckpt, num_partitions=4, wet_dir=wet
        )
        q.awaitTermination(120)
        _write_pages(spark, pages_dir, limit=40, skip=80)
        q2 = run_streaming_extraction(
            spark, pages_dir, ckpt, sckpt, num_partitions=4, wet_dir=wet
        )
        q2.awaitTermination(120)

        import os

        segs = sorted(
            f for f in os.listdir(wet) if f.endswith(".warc.wet.gz")
        )
        epochs = {f.split("-")[1] for f in segs}
        assert len(epochs) >= 2, segs  # no epoch clobbered another
        res = CheckpointCatalog(ckpt).results(spark)
        want = {
            (r.url, r.extracted_text)
            for r in res.select("url", "extracted_text").collect()
        }
        got = {
            (r.url, r.extracted_text)
            for r in read_wet(spark, wet).collect()
        }
        assert got == want and len(want) == 120
        # appended cdx-wet covers every published record
        assert spark.read.parquet(str(tmp_path / "wet" / "cdx-wet")).count() == 120


class TestStreamingWatExport:
    def test_micro_batches_publish_wat_segments(self, spark, tmp_path):
        """wat_dir publishes each micro-batch's PAGES metadata as WAT
        segments next to the commit; read-back parses to one row per
        committed url."""
        from textextraction_spark.sources.warc import parse_wat, read_wat

        pages_dir = str(tmp_path / "pages")
        q = run_streaming_extraction(
            spark,
            pages_dir if _write_pages(spark, pages_dir, limit=60) is None
            else pages_dir,
            str(tmp_path / "ckpt"),
            str(tmp_path / "sckpt"),
            num_partitions=4,
            wat_dir=str(tmp_path / "wat"),
        )
        q.awaitTermination(120)
        got = parse_wat(read_wat(spark, str(tmp_path / "wat")))
        rows = got.collect()
        assert len(rows) == 60
        assert all(r.links is not None for r in rows)
