"""MERGE-semantics twin: the checkpoint protocol on a SECOND backend.

On a MERGE-capable table format the sink is ``MERGE INTO`` (io/catalog.py
``MERGE_SQL``; reference analog: the DB append in
``/root/reference/TextExtraction/Services/DbHelper.cs:31-36`` plus the
move-as-commit in ``Worker.cs:529``).  This image carries no Iceberg
jars, so that path never executes — this test pins the SAME commit
semantics on DuckDB instead, driving both backends through an identical
scripted batch history and asserting the committed row set is
byte-equal after every step:

- parquet backend: the real ``CheckpointCatalog`` (results dirs + url
  state + atomic marker rename);
- DuckDB backend: the shared ``MERGE_SQL`` statement's defined
  expansion (``merge_expansion_sql`` — receipt: this image's DuckDB is
  1.0.0 and ``MERGE INTO`` only parses from 1.4, checked in
  test_duckdb_lacks_native_merge below, so the expansion IS the
  runnable twin).

Cross-batch url overlap note: MERGE upserts by key, while the parquet
backend appends per-batch files — the two agree precisely BECAUSE the
protocol derives every new batch via ``pending()`` (anti-join against
committed urls), so distinct batch ids never share a url and only
same-batch retries overwrite.  The test drives batches through
``pending()`` exactly like the job does.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from textextraction_spark.io.catalog import MERGE_SQL, merge_expansion_sql
from textextraction_spark.io.checkpoint import CheckpointCatalog


def _duck_merge(con, rows: pd.DataFrame) -> None:
    """Apply one batch to the DuckDB twin with MERGE semantics."""
    assert rows["url"].is_unique  # the protocol invariant MERGE requires
    con.register("batch_df", rows)
    con.execute("CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM batch_df")
    for stmt in merge_expansion_sql("results_twin", "b"):
        con.execute(stmt)


def _committed_rows(cat: CheckpointCatalog, spark) -> pd.DataFrame:
    try:
        df = cat.results(spark).select("url", "extracted_text").toPandas()
    except FileNotFoundError:
        df = pd.DataFrame({"url": [], "extracted_text": []}, dtype=str)
    return df.sort_values("url").reset_index(drop=True)


def _twin_rows(con) -> pd.DataFrame:
    return (
        con.execute("SELECT url, extracted_text FROM results_twin ORDER BY url")
        .df()
        .reset_index(drop=True)
    )


class TestMergeSemanticsTwin:
    @pytest.fixture()
    def con(self):
        c = duckdb.connect()
        c.execute(
            "CREATE TABLE results_twin (url VARCHAR PRIMARY KEY,"
            " extracted_text VARCHAR)"
        )
        return c

    def _pages(self, spark, urls_texts):
        return spark.createDataFrame(
            urls_texts, "url string, extracted_text string"
        )

    def test_scripted_history_identical_committed_sets(
        self, spark, con, tmp_path
    ):
        """b1 commit -> b2 crash-before-marker -> b2 idempotent re-run ->
        b2 retry with recomputed rows (UPDATE path) -> b3 new urls
        (INSERT path); after every committed step the parquet catalog and
        the MERGE twin hold byte-equal row sets."""
        cat = CheckpointCatalog(str(tmp_path / "ckpt"))
        all_pages = self._pages(
            spark,
            [(f"https://x.example/d/{i}", f"text-{i}") for i in range(8)],
        )

        # ---- b1: first four pending urls
        b1 = cat.pending(all_pages, spark).orderBy("url").limit(4)
        cat.write_batch(b1, "b1")
        _duck_merge(con, b1.toPandas())
        pd.testing.assert_frame_equal(_committed_rows(cat, spark), _twin_rows(con))

        # ---- b2 CRASH: results written, marker never placed -> invisible
        # on the parquet backend; on Iceberg the snapshot commit (the
        # MERGE) simply never ran — the twin does nothing.
        b2 = cat.pending(all_pages, spark)
        b2.write.parquet(str(cat.results_dir / "b2"))
        assert cat.committed_batches() == ["b1"]
        pd.testing.assert_frame_equal(_committed_rows(cat, spark), _twin_rows(con))

        # ---- b2 re-run (idempotent: same batch id, same rows)
        cat.write_batch(b2, "b2")
        _duck_merge(con, b2.toPandas())
        pd.testing.assert_frame_equal(_committed_rows(cat, spark), _twin_rows(con))
        assert len(_twin_rows(con)) == 8

        # ---- b2 retry with recomputed rows for the SAME urls: the
        # UPDATE half of the MERGE; the parquet backend overwrites the
        # batch directory — same upsert outcome.
        b2r = b2.selectExpr("url", "extracted_text || '-v2' AS extracted_text")
        cat.write_batch(b2r, "b2")
        _duck_merge(con, b2r.toPandas())
        got = _committed_rows(cat, spark)
        pd.testing.assert_frame_equal(got, _twin_rows(con))
        assert (got["extracted_text"].str.endswith("-v2")).sum() == 4

        # ---- b3: fresh urls -> pure INSERT half; pending() agrees with
        # the twin's NOT-IN set first.
        more = self._pages(
            spark,
            [(f"https://x.example/d/{i}", f"text-{i}") for i in range(8, 11)],
        )
        pend = cat.pending(all_pages.union(more), spark)
        twin_pend = con.execute(
            "SELECT url FROM (SELECT unnest(?) AS url) u"
            " WHERE url NOT IN (SELECT url FROM results_twin) ORDER BY url",
            [[r["url"] for r in all_pages.union(more).collect()]],
        ).df()
        assert sorted(r["url"] for r in pend.collect()) == list(twin_pend["url"])
        cat.write_batch(pend, "b3")
        _duck_merge(con, pend.toPandas())
        final = _committed_rows(cat, spark)
        pd.testing.assert_frame_equal(final, _twin_rows(con))
        assert len(final) == 11

    def test_duckdb_lacks_native_merge(self, con):
        """Receipt for why the twin runs the expansion: MERGE INTO does
        not parse in this image's DuckDB (1.0.0).  If this ever starts
        passing natively, switch _duck_merge to MERGE_SQL directly."""
        con.execute("CREATE TEMP TABLE src AS SELECT 'u' AS url, 't' AS extracted_text")
        with pytest.raises(duckdb.ParserException):
            con.execute(MERGE_SQL.format(target="results_twin", source="src"))

    def test_expansion_equals_merge_semantics_on_update_and_insert(self):
        """Pure-DuckDB pin of the expansion itself: starting state +
        mixed matched/unmatched source -> exactly the MERGE-defined
        result (matched rows updated, unmatched inserted, others kept)."""
        c = duckdb.connect()
        c.execute("CREATE TABLE results_twin (url VARCHAR, extracted_text VARCHAR)")
        c.execute("INSERT INTO results_twin VALUES ('a', 'old-a'), ('b', 'old-b')")
        c.execute(
            "CREATE TEMP VIEW b AS SELECT * FROM (VALUES ('b', 'new-b'),"
            " ('c', 'new-c')) AS t(url, extracted_text)"
        )
        for stmt in merge_expansion_sql("results_twin", "b"):
            c.execute(stmt)
        got = c.execute(
            "SELECT url, extracted_text FROM results_twin ORDER BY url"
        ).fetchall()
        assert got == [("a", "old-a"), ("b", "new-b"), ("c", "new-c")]
