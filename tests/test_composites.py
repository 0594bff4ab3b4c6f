"""Composite-coherence pins (round 3).

The driver gates at most 50 queries and ``__spark_entry__.queries()``
holds 35, so operator pairs sharing a table or shuffle are gated as
composites.  These tests pin the claim that makes the consolidation
lossless: every STANDALONE operator's output equals its exact slice of
the gated composite — so a green composite row certifies each
constituent operator, and a drift between the two surfaces fails CI.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _pdf_sorted(df):
    p = df.toPandas()
    cols = sorted(p.columns)
    return p[cols].sort_values(cols).reset_index(drop=True)


def assert_df_equal(a, b):
    pa, pb = _pdf_sorted(a), _pdf_sorted(b)
    assert list(pa.columns) == list(pb.columns)
    assert len(pa) == len(pb)
    import pandas as pd

    pd.testing.assert_frame_equal(pa, pb, check_dtype=False)


class TestTextProfileSlices:
    @pytest.mark.parametrize(
        "op, cols",
        [
            ("token_stats", ["n_tokens_ws", "n_tokens_bpe", "avg_token_len"]),
            ("quality_score", ["stopword_ratio", "quality_score", "quality_bucket"]),
            ("lang_id", ["lang_guess", "en_hits", "agrees_with_label"]),
            ("fingerprint", ["fp_int", "fp_band", "winnow_min"]),
        ],
    )
    def test_operator_equals_profile_slice(self, spark, op, cols):
        from textextraction_spark.operators import textstats as T

        profile = E.queries()["text_profile"](spark, SF).select("doc_id", *cols)
        standalone = getattr(T, op)(spark, SF)
        assert_df_equal(standalone, profile)


class TestDocQualitySlices:
    # the composite union-tags rows; the signals branch is its tag='signals'
    # slice (booleans travel as BIGINT 0/1 in the composite — cast back here)

    def _signals(self, spark):
        from pyspark.sql import functions as F

        return E.queries()["doc_quality_signals"](spark, SF).filter(
            F.col("tag") == "signals"
        )

    def test_pii_scrub_slice(self, spark):
        from textextraction_spark.operators import curation as C

        comp = self._signals(spark).select(
            "doc_id", "n_emails", "n_phones", "clean_text"
        )
        # composite is restricted to docs with >= 2 words (gopher domain)
        from pyspark.sql import functions as F

        standalone = C.pii_scrub(spark, SF).join(
            spark.read.parquet(f"{SF}/documents.parquet")
            .filter(F.expr("size(split(text, ' ')) >= 2"))
            .select("doc_id"),
            "doc_id",
        )
        assert_df_equal(standalone, comp)

    def test_gopher_slice(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import curation as C

        comp = self._signals(spark).select(
            "doc_id",
            "n_words",
            "dup_word_ratio",
            "top_bigram_count",
            "top_bigram_frac",
            F.col("keep").cast("boolean").alias("keep"),
        )
        assert_df_equal(C.gopher_repetition(spark, SF), comp)

    def test_hash_sample_is_the_in_sample_filter(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import curation as C

        comp = (
            self._signals(spark)
            .filter(F.col("in_sample") == 1)
            .select("doc_id", "coin", "rate_pct")
        )
        standalone = C.hash_sample(spark, SF).join(
            spark.read.parquet(f"{SF}/documents.parquet")
            .filter(F.expr("size(split(text, ' ')) >= 2"))
            .select("doc_id"),
            "doc_id",
        ).select("doc_id", "coin", "rate_pct")
        assert_df_equal(standalone, comp)

    def test_decontaminate_slice(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import curation as C

        comp = (
            E.queries()["doc_quality_signals"](spark, SF)
            .filter(F.col("tag") == "decon")
            .select(
                "doc_id",
                "n_shared_grams",
                F.col("contaminated").cast("boolean").alias("contaminated"),
            )
        )
        assert_df_equal(C.decontaminate(spark, SF), comp)

    def test_quality_classifier_slice(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import classifier as CL

        comp = (
            E.queries()["doc_quality_signals"](spark, SF)
            .filter(F.col("tag") == "clf")
            .select(
                "doc_id",
                F.col("clf_n_tokens").alias("n_tokens"),
                F.col("clf_score").alias("score"),
                F.col("clf_label").cast("boolean").alias("label"),
            )
        )
        assert_df_equal(CL.quality_classifier(spark, SF), comp)

    def test_bpe_slices_equal_standalone(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import bpe as B

        suite = E.queries()["bpe_suite"](spark, SF)
        merges = suite.filter(F.col("tag") == "merge").select(
            "round", "lhs", "rhs", "merged", "pair_count"
        )
        assert_df_equal(B.bpe_train(spark, SF), merges)
        docs = suite.filter(F.col("tag") == "doc").select(
            "doc_id", "n_words", "n_tokens"
        )
        assert_df_equal(B.bpe_apply(spark, SF), docs)

    def test_bpe_matches_python_recompute(self, spark):
        """Full-trajectory semantics pin against a from-scratch pure-python
        BPE trainer (greedy left-to-right merge scan, count-desc/lex
        tie-break) — independent of both SQL dialects AND of the
        double-space replace() encoding trick."""
        import re
        from collections import Counter

        import pandas as pd

        from textextraction_spark.operators import bpe as B

        docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
        word_cnt = Counter()
        doc_words: dict[int, list[str]] = {}
        for doc_id, text in docs.itertuples(index=False):
            words = [
                w
                for w in re.sub(r"[^a-z]+", " ", text.lower()).strip().split(" ")
                if w
            ]
            doc_words[doc_id] = words
            word_cnt.update(words)

        seqs = {w: list(w) for w in word_cnt}

        def greedy(syms, a, b):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        expect_merges = []
        for rnd in range(1, B.N_MERGES + 1):
            pair_cnt = Counter()
            for w, syms in seqs.items():
                for i in range(len(syms) - 1):
                    pair_cnt[(syms[i], syms[i + 1])] += word_cnt[w]
            (a, b), n = min(
                pair_cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            expect_merges.append((rnd, a, b, a + b, n))
            seqs = {w: greedy(s, a, b) for w, s in seqs.items()}

        got = B.bpe_train(spark, SF).orderBy("round").collect()
        assert [
            (r["round"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
            for r in got
        ] == expect_merges

        expect_docs = {
            doc_id: (len(ws), sum(len(seqs[w]) for w in ws))
            for doc_id, ws in doc_words.items()
            if ws
        }
        got_docs = {
            r["doc_id"]: (r["n_words"], r["n_tokens"])
            for r in B.bpe_apply(spark, SF).collect()
        }
        assert got_docs == expect_docs

    def test_decontaminate_matches_python_recompute(self, spark):
        """End-to-end semantics pin against a from-scratch pure-python
        recompute of the n-gram-overlap definition (independent of both
        SQL dialects)."""
        import pandas as pd

        from textextraction_spark.operators import curation as C

        docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
        N = C.NGRAM_N

        def grams(t):
            w = t.split(" ")
            return {
                " ".join(w[i : i + N]) for i in range(len(w) - N + 1)
            } if len(w) >= N else set()

        bench = set()
        for _, r in docs[docs.doc_id % C.BENCH_MOD == 0].iterrows():
            bench |= grams(r.text)
        want = {}
        for _, r in docs[docs.doc_id % C.BENCH_MOD != 0].iterrows():
            g = grams(r.text)
            if g:
                want[r.doc_id] = len(g & bench)
        got = {
            r.doc_id: r.n_shared_grams
            for r in C.decontaminate(spark, SF).collect()
        }
        assert got == want


class TestOperatorFamilyBranches:
    # round 4: ann_lsh / ann_ivf rotated into the single ann_bucketed
    # driver row; the method slices must still equal each family
    # composite, and each family composite its standalone variants.

    def _method(self, spark, m, cols):
        from pyspark.sql import functions as F

        return (
            E.queries()["ann_bucketed"](spark, SF)
            .filter(F.col("method") == m)
            .select(*cols)
        )

    def test_ann_lsh_branches(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import simsearch as S

        comp = self._method(spark, "lsh", ["probes", "vec_id", "bucket", "cosine"])
        assert_df_equal(S.lsh_ann(spark, SF), comp)
        assert_df_equal(
            S.lsh_bucket_ann(spark, SF),
            comp.filter(F.col("probes") == "single").drop("probes"),
        )
        assert_df_equal(
            S.lsh_multiprobe_ann(spark, SF),
            comp.filter(F.col("probes") == "multi").drop("probes"),
        )

    def test_ann_ivf_branches(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import simsearch as S

        comp = self._method(spark, "ivf", ["nprobe", "vec_id", "cell", "cosine"])
        assert_df_equal(S.ivf_ann(spark, SF), comp)
        assert_df_equal(
            S.ivf_probe_ann(spark, SF),
            comp.filter(F.col("nprobe") == 1).drop("nprobe"),
        )
        assert_df_equal(
            S.ivf_multiprobe_ann(spark, SF),
            comp.filter(F.col("nprobe") == S.NPROBE).drop("nprobe"),
        )

    def test_pq_suite_slices(self, spark):
        """Round-5 rotation: pq_encode + ann_pq_adc gate as one row;
        the encode tag stringifies the code array for the value hash."""
        from pyspark.sql import functions as F

        from textextraction_spark.operators import pq as PQ

        comp = E.queries()["pq_suite"](spark, SF)
        assert_df_equal(
            PQ.pq_encode(spark, SF).select(
                F.col("vec_id").cast("bigint").alias("vec_id"),
                F.array_join("code", ",").alias("code_str"),
            ),
            comp.filter(F.col("tag") == "encode").select("vec_id", "code_str"),
        )
        assert_df_equal(
            PQ.ann_pq_adc(spark, SF),
            comp.filter(F.col("tag") == "adc").select("vec_id", "adc", "cosine"),
        )

    def test_scored_selection_slices(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import dsir as DS
        from textextraction_spark.operators import lm as LM
        from textextraction_spark.operators import selection as SEL

        comp = E.queries()["scored_selection"](spark, SF)
        assert_df_equal(
            LM.lm_perplexity(spark, SF),
            comp.filter(F.col("tag") == "lm").select(
                "doc_id", "n_bigrams", "nll", "ppl"
            ),
        )
        assert_df_equal(
            DS.dsir_weights(spark, SF).withColumn(
                "keep", F.col("keep").cast("bigint")
            ),
            comp.filter(F.col("tag") == "dsir").select(
                "doc_id", "n_feats", "logratio", F.col("dsir_keep").alias("keep")
            ),
        )
        assert_df_equal(
            SEL.selection_verdict(spark, SF),
            comp.filter(F.col("tag") == "sel").select(
                "doc_id", "ppl", "logratio", "clf_score", "selected"
            ),
        )

    def test_selection_verdict_is_the_rule(self, spark):
        """The sel branch's verdict recomputes from its own emitted
        columns: selected == (ppl <= PPL_CUT) & (logratio>0 | clf>=0.5)."""
        from textextraction_spark.operators.selection import (
            PPL_CUT,
            selection_verdict,
        )
        from textextraction_spark.operators.classifier import THRESHOLD

        rows = selection_verdict(spark, SF).collect()
        assert rows, "verdict produced no rows"
        for r in rows:
            want = int(
                r.ppl <= PPL_CUT
                and (r.logratio > 0 or r.clf_score >= THRESHOLD)
            )
            assert r.selected == want, r

    def test_semdedup_suite_slices(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import clustering as CL

        comp = E.queries()["semdedup_suite"](spark, SF)
        assert_df_equal(
            CL.kmeans_assign(spark, SF),
            comp.filter(F.col("tag") == "assign").select(
                "vec_id", "cluster", "dist"
            ),
        )
        assert_df_equal(
            CL.semdedup_prune(spark, SF),
            comp.filter(F.col("tag") == "prune").select(
                "vec_id", "cluster", "keep"
            ),
        )

    def test_politeness_branches_identical(self, spark):
        from pyspark.sql import functions as F

        comp = E.queries()["politeness_schedule"](spark, SF)
        win = comp.filter(F.col("impl") == "window").drop("impl")
        grp = comp.filter(F.col("impl") == "grouped").drop("impl")
        assert_df_equal(win, grp)


class TestVerdictSlices:
    """The c4/gq branches of doc_quality_signals carry exactly the
    verdict surface of the standalone operators."""

    def test_c4_slice(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import curation as C

        comp = (
            E.queries()["doc_quality_signals"](spark, SF)
            .filter(F.col("tag") == "c4")
            .select(
                "doc_id",
                F.col("c4_n_sentences").alias("n_sentences"),
                F.col("keep").cast("boolean").alias("keep"),
                F.col("verdict_reason").alias("drop_reason"),
            )
        )
        standalone = C.c4_filters(spark, SF).select(
            "doc_id", "n_sentences", "keep", "drop_reason"
        )
        assert_df_equal(standalone, comp)

    def test_gq_slice(self, spark):
        from pyspark.sql import functions as F

        from textextraction_spark.operators import curation as C

        comp = (
            E.queries()["doc_quality_signals"](spark, SF)
            .filter(F.col("tag") == "gq")
            .select(
                "doc_id",
                "n_words",
                F.col("gq_mean_word_len").alias("mean_word_len"),
                F.col("gq_alpha_frac").alias("alpha_frac"),
                F.col("gq_symbol_ratio").alias("symbol_ratio"),
                F.col("gq_n_stop").alias("n_stop_distinct"),
                F.col("keep").cast("boolean").alias("keep"),
                F.col("verdict_reason").alias("drop_reason"),
            )
        )
        standalone = C.gopher_quality(spark, SF).select(
            "doc_id", "n_words", "mean_word_len", "alpha_frac",
            "symbol_ratio", "n_stop_distinct", "keep", "drop_reason",
        )
        assert_df_equal(standalone, comp)
