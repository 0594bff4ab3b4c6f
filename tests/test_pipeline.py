"""Spark-layer tests: pages builder, extraction kernel, checkpoint resume,
parallelism invariance (SURVEY.md §5.2 items 1, 3, 5)."""

from __future__ import annotations

import shutil

import duckdb
import pytest

from textextraction_spark.io.checkpoint import CheckpointCatalog
from textextraction_spark.job.extract import extract_pages
from textextraction_spark.plans.pipeline import JobConfig, run_extraction_job
from textextraction_spark.plans.skew import host_frequencies, salt_plan, salted_repartition
from textextraction_spark.sources.pages import URL_SQL, build_pages, expected_text_sql

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return build_pages(spark, SF)


def oracle_df():
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{SF}/documents.parquet')"
    )
    return con.execute(
        f"select {URL_SQL} as url, {expected_text_sql('duckdb')} as extracted_text "
        "from documents"
    ).df()


class TestPagesBuilder:
    def test_schema_and_counts(self, pages):
        assert [f.name for f in pages.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang",
        ]
        assert pages.count() == 500

    def test_heavy_host_skew_present(self, pages):
        """FIXTURES.md §1: one host owns ~30% of rows."""
        top = host_frequencies(pages).first()
        assert top["host"] == "heavy.example.com"
        assert 0.25 <= top["count"] / 500 <= 0.35


class TestExtraction:
    def test_byte_identical_vs_oracle(self, spark, pages):
        """THE north-rule invariant at Spark level: every url's
        extracted_text matches the DuckDB-computed expected bytes."""
        got = extract_pages(pages).select("url", "extracted_text").toPandas()
        want = oracle_df()
        m = got.merge(want, on="url", suffixes=("_g", "_w"), how="outer")
        assert len(m) == 500
        bad = m[m.extracted_text_g != m.extracted_text_w]
        assert len(bad) == 0, bad.head()

    def test_no_errors_and_confidence(self, spark, pages):
        import pyspark.sql.functions as F

        res = extract_pages(pages)
        # the ONLY error rows are the image-only (scanned) PDF family
        # (doc_id % 240 == 180 -> 180, 420 at 500 docs), each surfacing
        # the stable 'no_text_layer' token, never a silent empty text
        errs = res.filter(F.col("error") != "").select("url", "error").collect()
        assert sorted(r["url"].rsplit("/", 1)[-1] for r in errs) == ["180", "420"]
        assert {r["error"] for r in errs} == {"no_text_layer"}
        # plain docs keep main content only -> confidence in (0, 1]
        assert res.filter((F.col("confidence") <= 0) & (F.col("n_lines") > 0)).count() == 0

    def test_spans_offsets_validate_distributed(self, spark, pages):
        """extracted_text[start:end] == span.text for every span, checked
        with a relational expression (no collect of full data)."""
        import pyspark.sql.functions as F

        res = extract_pages(pages).select("url", "extracted_text", F.explode("spans").alias("s"))
        bad = res.filter(
            F.expr("substring(extracted_text, s.start + 1, s.end - s.start)") != F.col("s.text")
        )
        assert bad.count() == 0

    def test_parallelism_invariance(self, pages, spark):
        """Same bytes at 1 and 8 partitions (north_rule: identical output
        at every parallelism)."""
        a = (
            extract_pages(salted_repartition(pages, 1))
            .select("url", "extracted_text")
            .toPandas()
            .sort_values("url")
            .reset_index(drop=True)
        )
        b = (
            extract_pages(salted_repartition(pages, 8))
            .select("url", "extracted_text")
            .toPandas()
            .sort_values("url")
            .reset_index(drop=True)
        )
        assert a.equals(b)


class TestSkew:
    def test_salt_plan_targets_heavy_host(self, pages):
        plan = salt_plan(pages, rows_per_task=50)
        assert "heavy.example.com" in plan
        assert plan["heavy.example.com"] >= 2

    def test_salt_plan_collects_only_heavy_hosts(self, pages, monkeypatch):
        """The heavy-host filter runs before the collect, with no global
        sort: at 50 rows per task only heavy.example.com, not all 21
        hosts, reaches the driver."""
        DataFrame = type(pages)
        real_collect = DataFrame.collect
        seen = []

        def spy(df):
            rows = real_collect(df)
            seen.append((df, rows))
            return rows

        monkeypatch.setattr(DataFrame, "collect", spy)
        plan = salt_plan(pages, rows_per_task=50)
        monkeypatch.undo()
        assert len(seen) == 1
        df, rows = seen[0]
        assert [r["host"] for r in rows] == list(plan) == ["heavy.example.com"]
        assert "Sort" not in df._jdf.queryExecution().optimizedPlan().toString()

    def test_salted_partitions_bounded(self, spark, pages):
        """With host+salt keys, no partition holds the whole heavy host."""
        import pyspark.sql.functions as F

        plan = salt_plan(pages, rows_per_task=50)
        dist = salted_repartition(pages, 16, plan)
        sizes = (
            dist.select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .toPandas()["count"]
        )
        assert sizes.max() < 150  # heavy host (~150 rows) must be split


class TestCheckpointResume:
    def test_exactly_once_resume(self, spark, pages, tmp_path):
        """Kill-after-partial-commit: first run commits half the urls; the
        resumed run processes ONLY the rest; union is complete & duplicate
        free; bytes identical to a clean one-shot run."""
        root = str(tmp_path / "ckpt")
        half = pages.limit(250)

        cfg1 = JobConfig(checkpoint_root=root, batch_id="b1", num_partitions=4)
        run_extraction_job(spark, half, cfg1)

        cat = CheckpointCatalog(root)
        assert cat.committed_batches() == ["b1"]
        assert cat.committed_urls(spark).count() == 250

        cfg2 = JobConfig(checkpoint_root=root, batch_id="b2", num_partitions=4)
        run_extraction_job(spark, pages, cfg2)

        all_res = cat.results(spark)
        assert all_res.count() == 500
        assert all_res.select("url").distinct().count() == 500
        # batch 2 only contains urls batch 1 didn't commit
        b2 = spark.read.parquet(str(cat.results_dir / "b2"))
        assert b2.count() == 250

        got = all_res.select("url", "extracted_text").toPandas()
        want = oracle_df()
        m = got.merge(want, on="url", suffixes=("_g", "_w"))
        assert (m.extracted_text_g == m.extracted_text_w).all()

    def test_uncommitted_batch_invisible(self, spark, pages, tmp_path):
        """Results written but marker missing => invisible to readers."""
        root = str(tmp_path / "ckpt2")
        cat = CheckpointCatalog(root)
        extract_pages(pages.limit(10)).write.parquet(str(cat.results_dir / "dead"))
        assert cat.committed_batches() == []
        assert cat.committed_urls(spark).count() == 0

    def test_metrics_lineage(self, spark, pages, tmp_path):
        import pyspark.sql.functions as F

        root = str(tmp_path / "ckpt3")
        cfg = JobConfig(checkpoint_root=root, batch_id="m1", num_partitions=4)
        # deterministic doc_id < 200 slice (limit() picks arbitrary rows)
        # — INCLUDES the image-only scanned-PDF family (doc_id 180), so
        # this pins the round-4-advice fix: no_text_layer is a counted
        # OUTCOME (n_no_text_layer), never a pipeline failure (n_err)
        batch = pages.filter(
            F.expr(r"cast(regexp_extract(url, '/d/(\\d+)$', 1) as bigint)") < 200
        )
        metrics = run_extraction_job(spark, batch, cfg).toPandas()
        assert metrics["n_docs"].sum() == 200
        assert (metrics["n_err"] == 0).all()
        assert metrics["n_no_text_layer"].sum() == 1  # doc_id 180
        assert metrics["bytes_in"].sum() > 0

    def test_job_restores_session_settings(self, spark, pages, tmp_path):
        """The job's Arrow caps and shuffle partitions last only as long as
        the job, also on the committed-batch early return (a replay)."""
        keys = (
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.execution.arrow.maxBytesPerBatch",
            "spark.sql.shuffle.partitions",
        )
        before = {k: spark.conf.get(k) for k in keys}
        caller = {keys[0]: "1234", keys[1]: "5678901", keys[2]: "7"}
        cfg = JobConfig(
            checkpoint_root=str(tmp_path / "ckpt4"),
            batch_id="s1",
            num_partitions=2,
            dedup_input=True,  # the path that also sets shuffle partitions
        )
        try:
            for k, v in caller.items():
                spark.conf.set(k, v)
            for _ in ("batch", "replay"):
                run_extraction_job(spark, pages.limit(20), cfg)
                assert {k: spark.conf.get(k) for k in keys} == caller
            assert CheckpointCatalog(cfg.checkpoint_root).committed_batches() == ["s1"]
        finally:
            for k, v in before.items():
                spark.conf.set(k, v)


class TestKernelPathParity:
    def test_arrow_kernel_matches_in_driver_kernel(self, spark, pages):
        """The mapInArrow kernel returns, for every sf0.001 row, exactly
        what the in-driver ``extract_document`` returns for the same
        bytes: text, confidence, n_lines, is_pdf, error and every field
        of every span, in order."""
        from textextraction_spark.core.extract import extract_document

        got = {r["url"]: r for r in extract_pages(pages).collect()}
        src = pages.select("url", "html").collect()
        assert len(got) == len(src) == 500
        fields = ["extracted_text", "confidence", "n_lines", "is_pdf", "error"]
        n_spans = 0
        for row in src:
            want = extract_document(bytes(row["html"] or b""))
            g = got[row["url"]]
            for f in fields:
                assert g[f] == getattr(want, f), (row["url"], f)
            spans = [vars(s) for s in want.spans]
            assert [s.asDict() for s in g.spans] == spans, row["url"]
            n_spans += len(spans)
        assert n_spans > 0


class TestInputDedup:
    def test_latest_capture_wins(self, spark, tmp_path):
        """dedup_input: duplicate urls (crawl re-captures) collapse to the
        LATEST warc_ts row, in one shuffle, before extraction."""
        from textextraction_spark.plans.pipeline import JobConfig, run_extraction_job
        from textextraction_spark.io.checkpoint import CheckpointCatalog

        rows = [
            ("https://a.example.com/d/1", "2026-01-01 00:00:00", b"<p>old version</p>"),
            ("https://a.example.com/d/1", "2026-01-02 00:00:00", b"<p>new version</p>"),
            ("https://a.example.com/d/2", "2026-01-01 00:00:00", b"<p>only version</p>"),
        ]
        pages = spark.createDataFrame(
            [(u, __import__("datetime").datetime.fromisoformat(t), h) for u, t, h in rows],
            "url string, warc_ts timestamp, html binary",
        )
        cfg = JobConfig(
            checkpoint_root=str(tmp_path / "ckpt"),
            batch_id="b-dedup",
            num_partitions=4,
            dedup_input=True,
        )
        run_extraction_job(spark, pages, cfg)
        res = CheckpointCatalog(cfg.checkpoint_root).results(spark).toPandas()
        assert len(res) == 2
        by_url = dict(zip(res["url"], res["extracted_text"]))
        assert by_url["https://a.example.com/d/1"] == "new version"
        assert by_url["https://a.example.com/d/2"] == "only version"

    def test_partial_agg_runs_before_exchange(self, spark):
        """The dedup groupBy must keep its PARTIAL max_by map-side (one
        candidate per url per task crossing the shuffle) — an explicit
        pre-repartition on url would satisfy the agg's distribution
        requirement and push both aggregate phases after the exchange,
        shipping every duplicate's full html bytes.  Pin: the physical
        plan's first (bottom-most) HashAggregate sits BELOW the
        url-keyed Exchange."""
        from pyspark.sql import functions as F

        pages = spark.createDataFrame(
            [("u1", __import__("datetime").datetime(2026, 1, 1), b"<p>x</p>")],
            "url string, warc_ts timestamp, html binary",
        )
        latest = F.max_by(F.struct("warc_ts", "html"), "warc_ts").alias("s")
        deduped = (
            pages.groupBy("url")
            .agg(latest)
            .select("url", "s.warc_ts", "s.html")
        )
        plan = deduped._jdf.queryExecution().executedPlan().toString()
        exch = plan.find("Exchange hashpartitioning")
        partial = plan.find("partial_max_by")
        assert exch != -1 and partial != -1, plan
        # tree prints top-down: the partial aggregate must sit BELOW the
        # exchange (later in the string), i.e. it runs map-side
        assert partial > exch, plan


class TestMergeSemanticsTwin:
    def test_committed_set_identical_on_second_engine(self, spark, tmp_path):
        """The commit protocol (MERGE keyed on url; crashed batches
        invisible and re-run; committed batches no-op on replay; resume =
        anti-join on committed urls) pinned on a SECOND engine: DuckDB
        replays the same batch sequence with its MERGE-equivalent
        (INSERT .. ON CONFLICT DO UPDATE) and must land on the identical
        committed set as the parquet-backed protocol.  This pins the
        Iceberg MERGE mapping (io/catalog.py) by semantics, not just by
        the local backend's own tests."""
        import datetime
        import shutil

        import duckdb

        from textextraction_spark.io.checkpoint import CheckpointCatalog
        from textextraction_spark.plans.pipeline import JobConfig, run_extraction_job

        t0 = datetime.datetime(2026, 1, 1)
        # (batch_id, rows, crash_before_commit)
        sequence = [
            ("b1", [("u1", "v1"), ("u2", "v2")], True),  # crash -> invisible
            ("b1", [("u1", "v1"), ("u2", "v2")], False),  # resume re-runs
            ("b1", [("u1", "v1"), ("u2", "v2")], False),  # replay -> no-op
            ("b2", [("u2", "v2recrawl"), ("u3", "v3")], False),  # resume skips u2
        ]
        root = tmp_path / "ck"
        for bid, rows, crash in sequence:
            pages = spark.createDataFrame(
                [(u, t0, f"<p>{v}</p>".encode()) for u, v in rows],
                "url string, warc_ts timestamp, html binary",
            )
            cfg = JobConfig(checkpoint_root=str(root), batch_id=bid, num_partitions=2)
            run_extraction_job(spark, pages, cfg)
            if crash:  # crash between results write and the atomic marker
                shutil.rmtree(root / "committed" / bid)
        cat = CheckpointCatalog(str(root))
        got = {
            (r.url, r.extracted_text)
            for r in cat.results(spark).select("url", "extracted_text").collect()
        }

        # DuckDB twin: same sequence, same resume filter, MERGE-equivalent
        con = duckdb.connect()
        con.execute(
            "create table results(url varchar primary key, extracted_text varchar)"
        )
        committed_ids: set[str] = set()
        for bid, rows, crash in sequence:
            if bid in committed_ids:
                continue  # replay of a committed batch = the no-op MERGE
            con.execute("create or replace temp table batch(url varchar, v varchar)")
            con.executemany("insert into batch values (?, ?)", rows)
            con.execute(
                """
                insert into results
                select b.url, b.v from batch b
                anti join results r on b.url = r.url
                on conflict (url) do update set extracted_text = excluded.extracted_text
                """
            )
            if crash:  # rolled-back snapshot: nothing committed
                con.execute(
                    "delete from results where url in (select url from batch)"
                )
            else:
                committed_ids.add(bid)
        want = set(
            map(tuple, con.execute("select url, extracted_text from results").fetchall())
        )
        assert got == want == {("u1", "v1"), ("u2", "v2"), ("u3", "v3")}


class TestCorpusExport:
    def test_jsonl_roundtrip_gzip_shards(self, spark, tmp_path):
        """export_jsonl writes n gzip shards; reading them back recovers
        every (url, text, confidence) triple exactly."""
        from textextraction_spark.io.export import export_jsonl, read_jsonl
        from textextraction_spark.job.extract import extract_pages
        from textextraction_spark.sources.pages import build_pages

        ex = extract_pages(build_pages(spark, "/root/testdata/sf0.001")).select(
            "url", "extracted_text", "confidence"
        )
        out = str(tmp_path / "corpus")
        export_jsonl(ex, out, n_shards=4, gzip=True)

        import glob

        shards = glob.glob(out + "/part-*.gz")
        assert len(shards) == 4

        back = read_jsonl(spark, out).orderBy("url").toPandas()
        want = ex.orderBy("url").toPandas()
        assert back["url"].tolist() == want["url"].tolist()
        assert back["extracted_text"].tolist() == want["extracted_text"].tolist()
        assert (back["confidence"] - want["confidence"]).abs().max() < 1e-12


class TestGoldenSnapshot:
    def test_first40_docs_match_frozen_golden(self, spark):
        """Frozen-snapshot guard against generator+oracle CO-drift: the
        formula oracles share constants with the pages generator, so a
        change touching both in tandem would slip through the value gate —
        but not past this checked-in byte snapshot (all 20 families +
        both pdf variants)."""
        import json

        from pyspark.sql import functions as F

        from textextraction_spark.job.extract import extract_pages
        from textextraction_spark.sources.pages import build_pages

        with open("tests/golden/extraction_first40.json") as f:
            golden = {g["doc_id"]: g for g in json.load(f)}

        rows = (
            extract_pages(build_pages(spark, "/root/testdata/sf0.001"))
            .withColumn(
                "doc_id",
                F.expr(r"cast(regexp_extract(url, '/d/(\\d+)$', 1) as bigint)"),
            )
            .filter(F.col("doc_id") < 40)
            .select(
                "doc_id",
                "url",
                "extracted_text",
                F.round("confidence", 6).alias("confidence"),
                F.to_json("spans").alias("spans_json"),
            )
            .collect()
        )
        assert len(rows) == 40
        for r in rows:
            g = golden[r["doc_id"]]
            assert r["url"] == g["url"]
            assert r["extracted_text"] == g["extracted_text"], r["doc_id"]
            assert abs(r["confidence"] - g["confidence"]) < 1e-9
            assert r["spans_json"] == g["spans_json"], r["doc_id"]
