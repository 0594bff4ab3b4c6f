"""Robustness at the Spark boundary: Arrow batch caps with multi-MB
documents, packaging zip integrity (SURVEY.md §7.4.4)."""

from __future__ import annotations

import zipfile

import pyspark.sql.functions as F

from textextraction_spark.job.extract import extract_pages
from textextraction_spark.job.packaging import build_zip


class TestLargeDocs:
    def test_multi_mb_docs_stream_through_arrow(self, spark, tmp_path):
        """A handful of 2 MB pages must extract without OOM with a tight
        Arrow batch cap (the 100 TB safety knob)."""
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        try:
            big = "word " * 400_000  # ~2 MB
            rows = [(f"https://big.example.com/d/{i}", None, f"<p>{big}</p>".encode())
                    for i in range(6)]
            pages = spark.createDataFrame(
                rows, "url string, warc_ts timestamp, html binary"
            )
            out = extract_pages(pages).select("url", F.length("extracted_text").alias("n"))
            got = {r["url"]: r["n"] for r in out.collect()}
            assert len(got) == 6
            assert all(n == len(big.strip()) for n in got.values())
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")

    def test_byte_cap_splits_batches(self, spark):
        """spark.sql.execution.arrow.maxBytesPerBatch is the real OOM
        guard (plans/pipeline.py ARROW_MAX_BYTES): with a 64 KB cap, 10 KB rows
        must arrive in small batches regardless of the record cap."""
        import pyarrow as pa

        spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", "65536")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        try:
            df = spark.range(200).repartition(1).selectExpr(
                "cast(id as string) id", "repeat('x', 10000) as payload"
            )

            def count_batches(batches):
                for b in batches:
                    yield pa.RecordBatch.from_pydict({"n": [len(b)]})

            sizes = [r["n"] for r in df.mapInArrow(count_batches, "n long").collect()]
            assert sum(sizes) == 200
            assert max(sizes) <= 8  # 64 KB / 10 KB rows
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxBytesPerBatch", str(64 << 20)
            )
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")

    def test_null_and_empty_html(self, spark):
        pages = spark.createDataFrame(
            [("u1", None, None), ("u2", None, b"")],
            "url string, warc_ts timestamp, html binary",
        )
        rows = extract_pages(pages).select("url", "extracted_text", "error").collect()
        assert {r["url"]: r["extracted_text"] for r in rows} == {"u1": "", "u2": ""}


class TestPackaging:
    def test_zip_contains_package_and_resources(self):
        z = build_zip()
        names = zipfile.ZipFile(z).namelist()
        assert "textextraction_spark/core/extract.py" in names
        assert "textextraction_spark/resources/persons.txt" in names
        assert not any(n.endswith(".pyc") for n in names)


class TestWorkerImports:
    def test_extraction_worker_imports_no_pandas(self):
        """What an extraction worker imports — pyspark.worker, the Arrow
        kernel module and the WARC parser — must not import pandas."""
        import subprocess
        import sys
        from pathlib import Path

        code = (
            "import sys, pyspark.worker, textextraction_spark.job.extract, "
            "textextraction_spark.sources.warc\n"
            "assert 'pandas' not in sys.modules, 'pandas imported'\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", code],
            cwd=Path(__file__).resolve().parents[1],
            capture_output=True,
            text=True,
        )
        assert out.returncode == 0, out.stderr
