"""Robustness at the Spark boundary: Arrow batch caps with multi-MB
documents, packaging zip integrity (SURVEY.md §7.4.4), and what a Python
worker imports and re-reads."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyspark.sql.functions as F

from textextraction_spark.job.extract import extract_pages
from textextraction_spark.job.packaging import build_zip, ensure_shipped

ROOT = Path(__file__).resolve().parents[1]

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

    def test_script_builds_the_zip_and_each_build_replaces_it(self):
        """``python textextraction_spark/job/packaging.py`` (job.py's
        docstring) prints the zip's path; every build renames a new file
        over it, so a reader never sees it half-written."""
        out = subprocess.run(
            [sys.executable, "textextraction_spark/job/packaging.py"],
            cwd=ROOT, capture_output=True, text=True,
        )
        assert out.returncode == 0, out.stderr
        path = out.stdout.strip()
        assert zipfile.ZipFile(path).testzip() is None
        inode = os.stat(path).st_ino
        assert build_zip() == path
        assert os.stat(path).st_ino != inode


class TestWorkerImports:
    def test_extraction_worker_imports_no_pandas(self):
        """What an extraction worker imports — pyspark.worker, the Arrow
        kernel module and the WARC parser — must not import pandas, and
        neither may building one kernel batch and one WARC parse batch."""
        code = r"""
import sys, pyspark.worker, textextraction_spark.job.extract, textextraction_spark.sources.warc
assert 'pandas' not in sys.modules, 'pandas imported'
from datetime import datetime, timezone
import pyarrow as pa
from textextraction_spark.job.arrow_build import column
from textextraction_spark.job.extract import extract_batch_arrow
from textextraction_spark.sources.warc import _parse_file_batches, warc_file_bytes
ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
html = b"<p>INVOICE 4329</p><p>TOTAL $1,250.00</p>"
pages = pa.RecordBatch.from_arrays(
    [column(["https://x.example/1"], pa.string()),
     column([ts], pa.timestamp("us", tz="UTC")),
     column([html], pa.binary())],
    names=["url", "warc_ts", "html"],
)
[out] = extract_batch_arrow(iter([pages]))
assert out.column("spans").to_pylist()[0], out
files = pa.RecordBatch.from_arrays(
    [column([warc_file_bytes([("https://x.example/1", ts, html)])], pa.binary())],
    names=["content"],
)
[parsed] = _parse_file_batches(iter([files]))
assert parsed.column("html").to_pylist() == [html], parsed
assert 'pandas' not in sys.modules, 'pandas imported by a batch build'
"""
        out = subprocess.run(
            [sys.executable, "-c", code],
            cwd=ROOT,
            capture_output=True,
            text=True,
        )
        assert out.returncode == 0, out.stderr

    def test_reused_worker_holds_no_pandas(self, spark, tmp_path):
        """A real ``extract_pages`` task, then a ``read_warc`` parse task,
        then a probe, all in one reused worker: its ``sys.modules`` holds
        both modules and no pandas.  A worker environment variable gives
        these one-partition jobs their own worker pool."""
        from datetime import datetime, timezone

        from textextraction_spark.sources.warc import read_warc, warc_file_bytes

        def probe(batches):
            import pyarrow as pa

            from textextraction_spark.job.arrow_build import column

            for _ in batches:  # drain: a worker with unread input exits
                pass
            mods = sys.modules
            yield pa.RecordBatch.from_arrays(
                [
                    column([os.getpid()], pa.int64()),
                    column([",".join(sorted(m for m in mods if m.split(".")[0] in (
                        "pandas", "textextraction_spark")))], pa.string()),
                ],
                names=["pid", "mods"],
            )

        ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
        html = b"<p>INVOICE 4329</p><p>TOTAL $1,250.00</p>"
        (tmp_path / "warc").mkdir()
        (tmp_path / "warc" / "a.warc.gz").write_bytes(
            warc_file_bytes([(f"https://x.example/{i}", ts, html) for i in range(3)])
        )
        spark.range(0, 8, 1, 1).select(
            F.concat(F.lit("https://x.example/"), F.col("id").cast("string")).alias("url"),
            F.lit(ts).alias("warc_ts"),
            F.lit(html).alias("html"),
        ).write.parquet(str(tmp_path / "pages"))
        pages = spark.read.parquet(str(tmp_path / "pages"))
        assert pages.rdd.getNumPartitions() == 1

        sc = spark.sparkContext
        sc.environment["TEXTEXTRACTION_FOOTPRINT_TEST"] = "1"
        try:
            assert len(extract_pages(pages).collect()) == 8
            assert len(read_warc(spark, str(tmp_path / "warc")).collect()) == 3
            [row] = spark.range(0, 1, 1, 1).mapInArrow(probe, "pid long, mods string").collect()
        finally:
            del sc.environment["TEXTEXTRACTION_FOOTPRINT_TEST"]
        mods = set(row.mods.split(","))
        assert {"textextraction_spark.job.extract", "textextraction_spark.sources.warc"} <= mods, mods
        assert not {m for m in mods if m.split(".")[0] == "pandas"}, (row.pid, mods)


class TestWorkerZipGuard:
    def test_reused_worker_rereads_no_spark_archive(self, spark):
        """Two tasks in one reused worker: the second task's
        ``setup_spark_files`` re-reads neither pyspark.zip nor the
        spark-core jar.  A worker environment variable gives these
        one-partition jobs their own worker pool, so the second task runs
        in the worker the first one left idle."""

        # each task drains its input: a worker that leaves input unread
        # exits instead of going back to the pool
        def first(rows):
            list(rows)
            import collections
            import zipimport

            import textextraction_spark  # noqa: F401  (installs the guard)

            reads = collections.Counter()
            read = zipimport._read_directory

            def counting(archive):
                reads[os.path.basename(archive)] += 1
                return read(archive)

            zipimport._read_directory = counting
            zipimport.reads_since_first_task = reads
            importers = collections.Counter(
                os.path.basename(f.archive)
                for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            )
            return [(os.getpid(), dict(importers))]

        def second(rows):
            list(rows)
            import zipimport

            return [(os.getpid(), dict(zipimport.reads_since_first_task))]

        ensure_shipped(spark)
        sc = spark.sparkContext
        sc.environment["TEXTEXTRACTION_ZIP_GUARD_TEST"] = "1"
        try:
            [(pid1, importers)] = sc.parallelize([0], 1).mapPartitions(first).collect()
            [(pid2, reads)] = sc.parallelize([0], 1).mapPartitions(second).collect()
        finally:
            del sc.environment["TEXTEXTRACTION_ZIP_GUARD_TEST"]
        assert pid2 == pid1, "the second task did not reuse the first task's worker"
        assert importers.get("pyspark.zip", 0) > 1, importers
        spark_reads = {
            a: n for a, n in reads.items() if a == "pyspark.zip" or a.startswith("spark-core")
        }
        assert not spark_reads, (spark_reads, importers)

    def test_changed_archive_is_reread(self, tmp_path):
        """The guard skips the re-read of an unchanged archive, and re-reads
        one that was replaced (new inode) or rewritten in place (new size).
        Runs in a subprocess so this process keeps stock zipimport."""
        code = r"""
import collections, importlib, os, sys, zipfile, zipimport
archive = os.path.join(sys.argv[1], "mods.zip")

def write(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name + ".py", src)

write(archive, {"alpha": "X = 1\n"})
sys.path.insert(0, archive)
import alpha
reads = collections.Counter()
read = zipimport._read_directory
def counting(path):
    reads[path] += 1
    return read(path)
zipimport._read_directory = counting

from textextraction_spark.job.packaging import install_zip_guard
install_zip_guard()
install_zip_guard()
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads[archive] == 0, reads

write(archive + ".tmp", {"alpha": "X = 1\n", "beta": "Y = 2\n"})
os.replace(archive + ".tmp", archive)
importlib.invalidate_caches()
import beta
assert beta.Y == 2 and reads[archive] == 1, reads

write(archive, {"alpha": "X = 1\n", "beta": "Y = 2\n", "gamma": "Z = 3\n"})
importlib.invalidate_caches()
import gamma
assert gamma.Z == 3 and reads[archive] == 2, reads
"""
        out = subprocess.run(
            [sys.executable, "-c", code, str(tmp_path)],
            cwd=ROOT,
            capture_output=True,
            text=True,
        )
        assert out.returncode == 0, out.stderr
