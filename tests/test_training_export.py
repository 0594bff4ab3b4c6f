"""End-to-end training-shard export (plans/training_export.py) — the
capstone composition: extracted crawl text -> quality gate -> exact
dedup -> shard + packed-token placement -> parquet shards + manifest.

Invariant-gated (the constituent operators carry the value oracles; the
composition's correctness IS its invariants):
- accounting: every input row is exactly one of {error/empty, quality-
  dropped, dup-loser, packed};
- the packed token streams are gapless per shard (offset == running sum
  in url order) and deterministic (re-run -> byte-equal placement);
- the manifest totals equal the committed shard contents;
- the plan moves text through exactly two exchanges (dedup window +
  shard window).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from textextraction_spark.job.extract import extract_pages
from textextraction_spark.plans.training_export import (
    SEQ_LEN,
    curate_results,
    dedup_curated,
    export_training,
    pack_training,
)
from textextraction_spark.sources.pages import build_pages

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def results(spark):
    return extract_pages(build_pages(spark, SF)).persist()


@pytest.fixture(scope="module")
def packed(results):
    return pack_training(dedup_curated(curate_results(results))).persist()


class TestAccounting:
    def test_every_row_has_exactly_one_fate(self, results, packed):
        n_in = results.count()
        n_unusable = results.filter(
            (F.col("error") != "") | (F.col("extracted_text") == "")
        ).count()
        curated = curate_results(results)
        n_quality_dropped = curated.filter(~F.col("keep")).count()
        n_kept = curated.filter("keep").count()
        n_packed = packed.count()
        n_dup_losers = n_kept - n_packed
        assert n_in == n_unusable + n_quality_dropped + n_kept
        assert n_dup_losers >= 0
        # The binding gate on THIS corpus is the Gopher dup-word rule:
        # the synthetic lorem text draws from a ~30-word vocabulary, so
        # most docs exceed DUP_WORD_MAX by construction (real prose does
        # not — the rule is Gopher's, kept verbatim).  The pipeline must
        # still pass a meaningful fraction, not annihilate the corpus.
        assert n_packed > 0.1 * n_in
        # and quality alone rejects nothing here (fixture text is long
        # enough) — the attrition is attributable, not mysterious
        curated_kept_by_quality = curated.filter(
            F.col("quality_score") >= 0.05
        ).count()
        assert curated_kept_by_quality == n_in - n_unusable

    def test_dedup_keeps_lowest_url_per_content(self, results):
        curated = curate_results(results).filter("keep")
        deduped = dedup_curated(curate_results(results))
        want = (
            curated.groupBy(F.md5("text").alias("h"))
            .agg(F.min("url").alias("url"))
            .count()
        )
        assert deduped.count() == want
        # survivor set is exactly the min-url row of each content group
        assert (
            deduped.select(F.md5("text")).distinct().count() == deduped.count()
        )


class TestPacking:
    def test_gapless_streams_per_shard(self, packed):
        rows = packed.orderBy("shard", "url").collect()
        pos = {}
        for r in rows:
            assert r.offset == pos.get(r.shard, 0), r
            assert r.first_seq == r.offset // SEQ_LEN
            assert r.last_seq == (r.offset + r.n_tokens - 1) // SEQ_LEN
            pos[r.shard] = r.offset + r.n_tokens
        assert len(pos) > 1  # multiple shards actually in play

    def test_deterministic_replacement(self, results, packed):
        again = pack_training(dedup_curated(curate_results(results)))
        a = sorted(map(tuple, packed.drop("text").collect()))
        b = sorted(map(tuple, again.drop("text").collect()))
        assert a == b


class TestExport:
    def test_shards_and_manifest_agree(self, spark, results, tmp_path):
        out = str(tmp_path / "train")
        export_training(results, out)
        shards = spark.read.parquet(f"{out}/shards")
        manifest = spark.read.parquet(f"{out}/manifest").collect()
        got = {
            r["shard"]: (r["n_docs"], r["n_tokens"], r["n_seqs"])
            for r in manifest
        }
        want = {
            r["shard"]: (r["n"], r["t"], -(-r["t"] // SEQ_LEN))
            for r in shards.groupBy("shard")
            .agg(
                F.count("*").alias("n"), F.sum("n_tokens").alias("t")
            )
            .collect()
        }
        assert got == want

    def test_cli_flag_runs_end_to_end(self, spark, tmp_path):
        import job as J

        out = str(tmp_path / "cli")
        rc = J.main(
            [
                "--synthetic",
                SF,
                "--checkpoint",
                str(tmp_path / "ckpt"),
                "--partitions",
                "4",
                "--export-training",
                out,
            ]
        )
        assert rc == 0
        assert spark.read.parquet(f"{out}/shards").count() > 0
        assert spark.read.parquet(f"{out}/manifest").count() > 0


class TestPlanShape:
    def test_text_crosses_exactly_two_exchanges(self, spark):
        # fresh lineage with a different shard constant: an identical
        # plan would be silently served from the module fixture's cache
        # (InMemoryTableScan), hiding the exchanges under audit
        fresh = extract_pages(build_pages(spark, SF))
        plan = (
            pack_training(dedup_curated(curate_results(fresh)), n_shards=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = sum(
            plan.count(f"Exchange {k}")
            for k in ("hashpartitioning", "rangepartitioning", "SinglePartition")
        )
        assert n == 2, plan
