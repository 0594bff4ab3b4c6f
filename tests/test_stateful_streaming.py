"""Stateful streaming (applyInPandasWithState): dedup-on-arrival must
agree with the batch exact-dedup canonical set AND suppress duplicates
planted across micro-batch boundaries."""

from __future__ import annotations


class TestDedupStream:
    def test_first_arrival_dedup_across_batches(self, spark, tmp_path):
        """Two micro-batches (one file each); batch 2 re-sends 50 of
        batch 1's texts under new doc_ids.  The state must suppress every
        cross-batch duplicate, and the surviving set must equal the batch
        exact-dedup twin."""
        import pandas as pd

        from textextraction_spark.streaming.dedup_stream import (
            batch_dedup_twin,
            run_dedup_stream,
        )

        docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
            ["doc_id", "text"]
        ].sort_values("doc_id")
        half = len(docs) // 2
        file1 = docs.iloc[:half]
        dups = docs.iloc[:50].copy()
        dups["doc_id"] = dups["doc_id"] + 100000  # planted cross-batch dups
        file2 = pd.concat([docs.iloc[half:], dups])

        docs_dir = tmp_path / "docs"
        docs_dir.mkdir()
        import time as _time

        # file-source batch order follows modification time: write 1 first
        file1.to_parquet(docs_dir / "part-1.parquet")
        _time.sleep(1.1)
        file2.to_parquet(docs_dir / "part-2.parquet")

        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            q = run_dedup_stream(
                spark, str(docs_dir), str(tmp_path / "ckpt"), sink="deduped"
            )
            # availableNow terminates after draining both files; a False
            # return (timeout) would mean partial state — fail loudly
            assert q.awaitTermination(180)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

        streamed = spark.sql(
            "select fp, doc_id, n_chars from deduped"
        ).toPandas()
        twin = (
            batch_dedup_twin(spark, str(docs_dir))
            .select("fp", "doc_id", "n_chars")
            .toPandas()
        )

        # exactly one emission per unique fingerprint
        assert streamed["fp"].is_unique
        # none of the planted duplicate ids survived (their texts arrived
        # in batch 1 — only cross-batch STATE can know that)
        assert not (streamed["doc_id"] >= 100000).any()
        # canonical set identical to the batch twin
        got = {tuple(r) for r in streamed.itertuples(index=False, name=None)}
        want = {tuple(r) for r in twin.itertuples(index=False, name=None)}
        assert got == want
        # and the fixture really exercised dedup (planted + natural dups)
        assert len(streamed) < half * 2 + 50
