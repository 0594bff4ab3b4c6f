"""Operator suite tests.

The driver's full value-hash gate runs at sf0.01 (tests/oracle_check.py
replicates it; CI-speed subset here at sf0.001):
- every queries() entry has an oracle and builds a valid plan (analysis
  passes — schema resolved) without executing;
- a representative subset is executed and compared against DuckDB.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from tests.oracle_check import compare, connect_duckdb

SF = "/root/testdata/sf0.001"

FAST_SUBSET = [
    "text_profile",
    "doc_quality_signals",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "ann_brute_force_topk",
    "ann_bucketed",
    "scored_selection",
    "semdedup_suite",
    "politeness_schedule",
    "pq_suite",
    "host_pagerank",
    "exact_substr_dedup",
    "extract_any_docs",
    "bpe_suite",
]


class TestContract:
    def test_oracle_keys_align(self):
        assert set(E.queries()) == set(E.oracle_sql())

    def test_all_plans_resolve(self, spark):
        """Analysis (schema resolution) for every query — catches SQL
        dialect errors without paying execution."""
        for name, fn in E.queries().items():
            df = fn(spark, SF)
            assert len(df.schema.fields) > 0, name

    def test_entry_contract(self, spark):
        df = E.entry(spark)
        assert df.count() == 500
        assert "extracted_text" in df.columns


class TestOracleSubset:
    @pytest.fixture(scope="class")
    def duck(self):
        return connect_duckdb(SF)

    @pytest.mark.parametrize("name", FAST_SUBSET)
    def test_query_matches_oracle(self, spark, duck, name):
        got = E.queries()[name](spark, SF).toPandas()
        want = duck.execute(E.oracle_sql()[name]).df()
        problems = compare(name, got, want)
        assert not problems, problems


class TestPacking:
    """pack_sequences (LLM concat-and-chunk packing) is outside the
    50-query driver gate, so its FULL value oracle runs here instead —
    same compare as the driver's (rows + schema + value hash)."""

    def test_matches_oracle(self, spark):
        from textextraction_spark.operators.packing import (
            PACK_SEQUENCES_ORACLE,
            pack_sequences,
        )

        got = pack_sequences(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(PACK_SEQUENCES_ORACLE).df()
        problems = compare("pack_sequences", got, want)
        assert not problems, problems

    def test_stream_is_gapless_per_shard(self, spark):
        """Within a shard, each doc starts exactly where the previous one
        ended (offset = previous cum_end) and sequence spans agree with
        token counts — the invariant a shard-parallel writer relies on."""
        from textextraction_spark.operators.packing import SEQ_LEN, pack_sequences

        rows = pack_sequences(spark, SF).collect()
        by_shard: dict = {}
        for r in rows:
            by_shard.setdefault(r.shard, []).append(r)
        for shard, docs in by_shard.items():
            docs.sort(key=lambda r: r.doc_id)
            pos = 0
            for r in docs:
                assert r.offset == pos, (shard, r.doc_id)
                assert r.first_seq == r.offset // SEQ_LEN
                assert r.last_seq == (r.offset + r.n_tokens - 1) // SEQ_LEN
                assert r.n_seqs == r.last_seq - r.first_seq + 1 >= 1
                pos += r.n_tokens

    def test_single_exchange_plan(self, spark):
        """One hash exchange (by shard) — no global sort, no extra
        shuffle; the 100 TB property the sharding exists to buy."""
        from textextraction_spark.operators.packing import pack_sequences

        plan = (
            pack_sequences(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = sum(
            plan.count(f"Exchange {kind}")
            for kind in ("hashpartitioning", "rangepartitioning", "SinglePartition")
        )
        assert n == 1, plan


class TestDomainMix:
    """domain_mix (epoch-weighted source mixing) — outside the 50-query
    gate, full DuckDB value oracle here + the mix-realization invariant."""

    def test_matches_oracle(self, spark):
        from textextraction_spark.operators.packing import (
            DOMAIN_MIX_ORACLE,
            domain_mix,
        )

        got = domain_mix(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(DOMAIN_MIX_ORACLE).df()
        problems = compare("domain_mix", got, want)
        assert not problems, problems

    def test_realizes_target_token_mix(self, spark):
        """Replicated token counts per source must land near the target
        weight shares (the operator's whole purpose).  Tolerance is loose
        — the fractional part is a per-doc coin over ~25 docs/source."""
        from textextraction_spark.operators.packing import domain_mix

        rows = domain_mix(spark, SF).collect()
        toks: dict = {}
        for r in rows:
            assert r.n_copies >= 0 and r.factor > 0
            toks[r.source] = toks.get(r.source, 0) + r.n_tokens * r.n_copies
        total = sum(toks.values())
        w = {s: (int(s[3:]) % 4) + 1 for s in toks}
        wsum = sum(w.values())
        for s, t in toks.items():
            assert abs(t / total - w[s] / wsum) < 0.03, (
                s, t / total, w[s] / wsum)

    def test_big_side_never_shuffles(self, spark):
        """The corpus side must reach the output through broadcast joins
        only — the lone exchanges belong to the tiny per-source aggregate
        (hash by source + the single-row scalar fold)."""
        from textextraction_spark.operators.packing import domain_mix

        plan = (
            domain_mix(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning(doc_id") == 0
        assert "BroadcastHashJoin" in plan


class TestCanonicalize:
    """text_canonicalize (NFC + separator/control collapse — the
    cross-encoding dedup key) — outside the 50-query gate, full DuckDB
    value oracle here (nfc_normalize is the oracle twin)."""

    def test_matches_oracle(self, spark):
        from textextraction_spark.operators.curation import (
            TEXT_CANONICALIZE_ORACLE,
            text_canonicalize,
        )

        got = text_canonicalize(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(TEXT_CANONICALIZE_ORACLE).df()
        problems = compare("text_canonicalize", got, want)
        assert not problems, problems

    def test_cross_encoding_duplicates_collapse(self, spark):
        """The operator's whole purpose: the same sentence arriving as
        NFC, NFD, NBSP-spaced, zero-width-infested, or control-padded
        must produce ONE canon_hash (so exact dedup catches it), while a
        genuinely different sentence must not."""
        from pyspark.sql import functions as F

        from textextraction_spark.operators.curation import canonicalize_col

        variants = [
            "d\u00e9j\u00e0 vu caf\u00e9",               # NFC composed
            "de\u0301ja\u0300 vu cafe\u0301",            # NFD decomposed
            "d\u00e9j\u00e0\u00a0vu\u00a0caf\u00e9",   # NBSP separators
            "d\u00e9j\u00e0 vu\u200b caf\u00e9\u200b",  # zero-width spaces
            "\td\u00e9j\u00e0  vu \r\n caf\u00e9 ",   # controls + runs
        ]
        rows = [(i, v) for i, v in enumerate(variants)] + [
            (99, "d\u00e9j\u00e0 vu caf\u00e9s")         # genuinely different
        ]
        df = spark.createDataFrame(rows, ["id", "t"]).select(
            "id", canonicalize_col(F.col("t")).alias("canon")
        )
        got = {r.id: r.canon for r in df.collect()}
        assert len({got[i] for i in range(len(variants))}) == 1
        assert got[0] == "d\u00e9j\u00e0 vu caf\u00e9"
        assert got[99] != got[0]

    def test_zero_shuffle_narrow_plan(self, spark):
        """Pure narrow projection: no exchange anywhere (100 TB shape),
        and the NFC step runs as an Arrow-batched eval, not row-Python."""
        from textextraction_spark.operators.curation import text_canonicalize

        plan = (
            text_canonicalize(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan  # the row-at-a-time slow path


class TestIncrementalDedup:
    def test_persisted_signature_flow(self, spark, tmp_path):
        """The production shape: committed band signatures persisted to a
        parquet table, tonight's batch joined against the READ-BACK table;
        after committing tonight's signatures, re-running the same batch
        finds each doc matching its own committed signature (idempotent
        re-run detection)."""
        from pyspark.sql import functions as F

        from textextraction_spark.operators import dedup as D

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        committed = d.filter(F.col("doc_id") < 30).select(
            F.col("doc_id").alias("vid"), "text"
        )
        sig_table = str(tmp_path / "signatures")
        D._minhash_bands(committed).write.mode("overwrite").parquet(sig_table)

        new = d.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 5000).alias("vid"),
            F.concat("text", F.lit(D.MUTATION)).alias("text"),
        )
        nb = D._minhash_bands(new)
        m1 = D.match_new_against_committed(nb, spark.read.parquet(sig_table)).toPandas()
        # every near-dup re-crawl matches its committed original on >= 1 band
        matched_pairs = {(r.new_vid, r.committed_vid) for r in m1.itertuples()}
        assert all((v + 5000, v) in matched_pairs for v in range(10))

        # commit tonight's signatures, re-run the same batch -> each doc
        # now ALSO matches itself (signature identical, all bands)
        nb.write.mode("append").parquet(sig_table)
        m2 = D.match_new_against_committed(nb, spark.read.parquet(sig_table)).toPandas()
        self_rows = m2[(m2.new_vid == m2.committed_vid)]
        assert len(self_rows) == 10
        assert (self_rows.n_bands == D.N_HASHES).all()


class TestDedupClusters:
    def test_components_are_transitive_and_min_labeled(self, spark):
        """Cluster invariants against the pair graph it was built from:
        (1) every pair's endpoints share a cluster (edge consistency),
        (2) cluster_id == min vid of its members (canonical labeling),
        (3) cluster_size == the member count."""
        import __spark_entry__ as E

        sf = "/root/testdata/sf0.001"
        qs = E.queries()
        pairs = [
            (r.vid_a, r.vid_b)
            for r in qs["dedup_minhash_lsh"](spark, sf).collect()
        ]
        rows = qs["dedup_clusters"](spark, sf).collect()
        cluster = {r.vid: r.cluster_id for r in rows}
        size = {r.vid: r.cluster_size for r in rows}
        assert pairs and rows
        for a, b in pairs:
            assert cluster[a] == cluster[b], (a, b)
        members: dict[int, list[int]] = {}
        for v, c in cluster.items():
            members.setdefault(c, []).append(v)
        for c, vs in members.items():
            assert c == min(vs)
            for v in vs:
                assert size[v] == len(vs)
        # transitivity beyond the raw pairs: build reference components
        # with a python union-find and compare partition-for-partition
        parent = {v: v for v in cluster}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        for v in cluster:
            assert cluster[v] == find(v)

    def test_result_independent_of_parallelism(self, spark):
        """North-rule determinism for the ITERATIVE operator: the
        converged labeling must be identical at any shuffle-partition
        count (a partition-sensitive iterative op would silently break
        byte-identity on a cluster)."""
        import __spark_entry__ as E

        sf = "/root/testdata/sf0.001"
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            a = sorted(
                (r.vid, r.cluster_id, r.cluster_size)
                for r in E.queries()["dedup_clusters"](spark, sf).collect()
            )
            spark.conf.set("spark.sql.shuffle.partitions", "17")
            b = sorted(
                (r.vid, r.cluster_id, r.cluster_size)
                for r in E.queries()["dedup_clusters"](spark, sf).collect()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
        assert a == b and a


class TestAnnRecall:
    """Recall@10 of the approximate variants vs the exact brute-force
    scan, at sf0.01 (deterministic — fixed query vector, fixed corpus).
    The embeddings are random (no cluster structure), which is the
    WORST case for space-partitioning ANN; the floors below are the
    measured values on this corpus minus zero slack (deterministic), and
    the monotone probe->recall property is the real invariant:
    single-probe < multi-probe <= exact."""

    @pytest.fixture(scope="class")
    def recall(self, spark):
        # standalone variant functions (library surface; the driver gate
        # covers them via the union-tagged ann_lsh / ann_ivf composites)
        from textextraction_spark.operators import simsearch as S

        fns = {
            "ann_lsh_bucket": S.lsh_bucket_ann,
            "ann_lsh_multiprobe": S.lsh_multiprobe_ann,
            "ann_ivf_probe": S.ivf_probe_ann,
            "ann_ivf_multiprobe": S.ivf_multiprobe_ann,
        }
        sf = "/root/testdata/sf0.01"
        truth = {
            r.vec_id
            for r in E.queries()["ann_brute_force_topk"](spark, sf).collect()
        }

        def r(name):
            got = {r.vec_id for r in fns[name](spark, sf).collect()}
            return len(got & truth) / len(truth)

        return {n: r(n) for n in fns}

    def test_multiprobe_beats_single_probe(self, recall):
        assert recall["ann_lsh_multiprobe"] >= recall["ann_lsh_bucket"]
        assert recall["ann_ivf_multiprobe"] >= recall["ann_ivf_probe"]

    def test_recall_floors(self, recall):
        # measured on the sf0.01 corpus (deterministic): lsh 0.2 -> 0.6
        # with hamming<=1 probes; ivf 0.3 -> 0.8 with nprobe=2
        assert recall["ann_lsh_multiprobe"] >= 0.5
        assert recall["ann_ivf_multiprobe"] >= 0.7
        assert recall["ann_lsh_bucket"] >= 0.1
        assert recall["ann_ivf_probe"] >= 0.2


class TestCurationProperties:
    def test_pii_scrub_idempotent(self):
        """Scrubbing is idempotent: the replacement tokens never re-match
        the PII patterns (a second pass is a no-op)."""
        import re

        from textextraction_spark.operators.curation import EMAIL_RE, PHONE_RE

        def scrub(t):
            return re.sub(PHONE_RE, "<PHONE>", re.sub(EMAIL_RE, "<EMAIL>", t))

        t = "mail a.b+c@x-y.example.org or 555-123-4567 / 555-000-1111 end"
        once = scrub(t)
        assert scrub(once) == once
        assert "@" not in once and not re.search(PHONE_RE, once)

    def test_pdf_escape_roundtrip_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from textextraction_spark.core.pdfblocks import parse_pdf

        def esc(s: str) -> bytes:
            return (
                s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
            ).encode("latin-1")

        @given(
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                min_size=1,
                max_size=40,
            )
        )
        @settings(max_examples=200, deadline=None)
        def roundtrip(s):
            pdf = b"%PDF-1.4\nstream\nBT 72 700 Td (" + esc(s) + b") Tj ET\nendstream\n%%EOF"
            doc = parse_pdf(pdf)
            expect = " ".join(s.split()).strip() if s.strip() else ""
            got = doc.text()
            # parser joins show strings with single spaces and strips;
            # compare whitespace-normalized
            assert " ".join(got.split()) == " ".join(expect.split())

        roundtrip()


class TestSimhashQuality:
    def test_precision_recall_on_planted_near_dups(self, spark):
        """32-bit SimHash with 4x8-bit pigeonhole bands: on the planted
        near-dup corpus (vid, vid+1000 pairs) the hamming<=3 output is
        precision-dominated — almost every emitted pair is a true planted
        pair (the round-1 16-bit space was collision-dominated: 560+
        chance pairs).  Floors are measured deterministic values."""
        df = E.queries()["dedup_simhash"](spark, "/root/testdata/sf0.01").toPandas()
        true_pairs = df[(df.vid_b - df.vid_a) == 1000]
        precision = len(true_pairs) / max(len(df), 1)
        recall = len(true_pairs) / 150
        assert precision >= 0.9, precision
        assert recall >= 0.5, recall


class TestJpegCodec:
    """Round-5: real baseline-JPEG pixel path (operators/jpeg.py) —
    closes the r3-verdict media gap ('real crawls are dominated by full
    JPEG pixel data').  Pytest-oracle-gated; not a driver-gated query."""

    def test_flat_blocks_decode_bit_exact(self):
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            make_block_jpeg,
        )

        for doc_id in (0, 1, 7, 42, 137, 255, 499):
            wb, hb = 2 + doc_id % 3, 2 + (doc_id * 5) % 3
            want = np.zeros((hb * 8, wb * 8), dtype=np.uint8)
            for by in range(hb):
                for bx in range(wb):
                    want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                        doc_id * 7 + 13 * bx + 29 * by
                    ) % 256
            got = decode_baseline_jpeg(make_block_jpeg(doc_id))
            assert got is not None and (got == want).all(), doc_id

    def test_ac_path_error_bound(self):
        """Arbitrary content exercises the full AC run/ZRL/EOB entropy
        path; with unit quant tables the only loss is DCT rounding —
        |err| <= 2 per pixel (measured 1 across seeds)."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            encode_baseline_jpeg,
        )

        rng = np.random.RandomState(7)
        for _ in range(4):
            img = rng.randint(0, 256, size=(24, 32)).astype(np.uint8)
            dec = decode_baseline_jpeg(encode_baseline_jpeg(img))
            assert dec is not None and dec.shape == img.shape
            assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 2

    def test_corrupt_jpeg_never_raises(self):
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            make_block_jpeg,
        )

        data = make_block_jpeg(5)
        for cut in (0, 1, 2, 10, len(data) // 2, len(data) - 1):
            r = decode_baseline_jpeg(data[:cut])
            assert r is None or r.dtype == np.uint8
        rng = np.random.RandomState(3)
        for _ in range(100):
            b = bytearray(data)
            for _ in range(3):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = decode_baseline_jpeg(bytes(b))
            assert r is None or (r.dtype == np.uint8 and r.ndim == 2)

    def test_unsupported_frames_fail_soft(self):
        """The supported envelope is pinned: a truncated/lying SOF
        (ncomp=3 with one component's bytes) and a baseline scan
        re-labeled SOF2 (whose SOS has Ss=0, Se=63 — illegal for
        progressive, B.2.3) return None, not garbage."""
        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            make_block_jpeg,
        )

        data = bytearray(make_block_jpeg(10))  # even id: baseline SOF0
        sof = data.find(b"\xff\xc0")
        assert sof > 0
        lying = bytearray(data)
        lying[sof + 9] = 3  # claims 3 components, carries 1
        assert decode_baseline_jpeg(bytes(lying)) is None
        prog = bytearray(data)
        prog[sof + 1] = 0xC2  # SOF0 -> SOF2 with a baseline SOS
        assert decode_baseline_jpeg(bytes(prog)) is None

    def test_progressive_equals_baseline_decode(self):
        """The strong progressive cross-check: SOF2 (spectral selection
        + successive approximation: DC first/refine, AC band firsts with
        EOB runs, the AC correction-bit refinement) must reconstruct
        EXACTLY the coefficients the independently-validated baseline
        pipeline does — decode(progressive(img)) == decode(baseline(img))
        on arbitrary content, so complementary encoder/decoder bugs
        cannot cancel."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            encode_baseline_jpeg,
            encode_progressive_jpeg,
        )

        rng = np.random.RandomState(13)
        for _ in range(5):
            h = int(rng.choice([8, 16, 24]))
            w = int(rng.choice([8, 16, 32, 40]))
            img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
            base = decode_baseline_jpeg(encode_baseline_jpeg(img))
            prog = decode_baseline_jpeg(encode_progressive_jpeg(img))
            assert prog is not None and (prog == base).all()
        # long-EOB-run and sparse-AC shapes
        grad = np.fromfunction(lambda r, c: (r + c) % 256, (32, 48)).astype(
            np.uint8
        )
        nearflat = np.full((16, 16), 200, np.uint8)
        nearflat[0, 0] = 201
        for img in (grad, nearflat):
            assert (
                decode_baseline_jpeg(encode_progressive_jpeg(img))
                == decode_baseline_jpeg(encode_baseline_jpeg(img))
            ).all()

    def test_progressive_flat_blocks_exact_and_fuzz_soft(self):
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            encode_progressive_jpeg,
        )

        img = np.zeros((16, 24), dtype=np.uint8)
        for by in range(2):
            for bx in range(3):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    49 + 13 * bx + 29 * by
                ) % 256
        data = encode_progressive_jpeg(img)
        dec = decode_baseline_jpeg(data)
        assert dec is not None and (dec == img).all()
        rng = np.random.RandomState(4)
        for _ in range(100):
            b = bytearray(data)
            for _ in range(3):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = decode_baseline_jpeg(bytes(b))
            assert r is None or r.dtype == np.uint8

    def test_color_progressive_equals_baseline_decode(self):
        """Color progressive cross-check, all three samplings: the SOF2
        pipeline (interleaved 3-component DC scans in MCU order with
        per-component predictors, non-interleaved per-component AC band
        scans, DC/AC refinement) must reconstruct EXACTLY the
        coefficients the independently-validated baseline color pipeline
        does — decode(progressive_color) == decode(baseline_color) on
        arbitrary content, so complementary encoder/decoder bugs cannot
        cancel."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            encode_baseline_jpeg_color,
            encode_progressive_jpeg_color,
        )

        rng = np.random.RandomState(29)
        for sub, (dx, dy) in (("444", (1, 1)), ("422", (2, 1)), ("420", (2, 2))):
            for _ in range(3):
                h = 16 * int(rng.choice([1, 2]))
                w = 16 * int(rng.choice([1, 2, 3]))
                y = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
                cb = rng.randint(0, 256, size=(h // dy, w // dx)).astype(np.uint8)
                cr = rng.randint(0, 256, size=(h // dy, w // dx)).astype(np.uint8)
                base = decode_baseline_jpeg(
                    encode_baseline_jpeg_color(y, cb, cr, subsample=sub)
                )
                prog = decode_baseline_jpeg(
                    encode_progressive_jpeg_color(y, cb, cr, subsample=sub)
                )
                assert base is not None and prog is not None, sub
                assert prog.shape == (h, w, 3)
                assert (prog == base).all(), sub

    def test_dri_progressive_equals_baseline_decode(self):
        """DRI'd progressive (restart markers inside progressive scans):
        per-segment DC-predictor and EOB-run resets must still
        reconstruct exactly the baseline coefficients — grayscale for
        intervals that do and don't divide the block count, and color
        for all three samplings (interleaved-DC MCU restarts +
        non-interleaved AC block restarts)."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            encode_baseline_jpeg,
            encode_baseline_jpeg_color,
            encode_progressive_jpeg,
            encode_progressive_jpeg_color,
        )

        rng = np.random.RandomState(31)
        img = rng.randint(0, 256, size=(24, 40)).astype(np.uint8)  # 15 blocks
        base = decode_baseline_jpeg(encode_baseline_jpeg(img))
        for ri in (1, 2, 4, 7):
            prog = decode_baseline_jpeg(
                encode_progressive_jpeg(img, restart_interval=ri)
            )
            assert prog is not None and (prog == base).all(), ri
        for sub, (dx, dy) in (("444", (1, 1)), ("422", (2, 1)), ("420", (2, 2))):
            y = rng.randint(0, 256, size=(32, 48)).astype(np.uint8)
            cb = rng.randint(0, 256, size=(32 // dy, 48 // dx)).astype(np.uint8)
            cr = rng.randint(0, 256, size=(32 // dy, 48 // dx)).astype(np.uint8)
            basec = decode_baseline_jpeg(
                encode_baseline_jpeg_color(y, cb, cr, subsample=sub)
            )
            for ri in (1, 3):
                progc = decode_baseline_jpeg(
                    encode_progressive_jpeg_color(
                        y, cb, cr, subsample=sub, restart_interval=ri
                    )
                )
                assert progc is not None and (progc == basec).all(), (sub, ri)
        # fuzz: bit-flipped DRI'd progressive streams fail soft
        data = encode_progressive_jpeg(img, restart_interval=2)
        for _ in range(60):
            b = bytearray(data)
            for _ in range(3):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = decode_baseline_jpeg(bytes(b))
            assert r is None or r.dtype == np.uint8

    def test_color_progressive_fuzz_soft(self):
        """Truncations and bit-flips of a color-progressive stream never
        raise — None or a valid uint8 array, the Arrow-batch contract."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            make_color_jpeg,
        )

        data = make_color_jpeg(3)  # 4:2:0 progressive fixture family
        assert b"\xff\xc2" in data
        for cut in (0, 2, 20, len(data) // 3, len(data) - 1):
            r = decode_baseline_jpeg(data[:cut])
            assert r is None or r.dtype == np.uint8
        rng = np.random.RandomState(11)
        for _ in range(100):
            b = bytearray(data)
            for _ in range(3):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = decode_baseline_jpeg(bytes(b))
            assert r is None or r.dtype == np.uint8

    def test_color_flat_blocks_decode_bit_exact(self):
        """4:4:4 and 4:2:0 YCbCr: interleaved-MCU decode, replication
        upsampling, and the BT.601 transform reproduce the per-block
        (Y,Cb,Cr)->RGB integers exactly on the flat fixtures."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            make_color_jpeg,
        )

        def rgb_of(y, cb, cr):
            r = y + 1.402 * (cr - 128.0)
            g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
            b = y + 1.772 * (cb - 128.0)
            return np.clip(
                np.floor(np.stack([r, g, b], -1) + 0.5), 0, 255
            ).astype(np.uint8)

        for doc_id in (0, 1, 2, 3, 7, 100, 101):
            img = decode_baseline_jpeg(make_color_jpeg(doc_id))
            sub = doc_id % 2 == 1
            wb = 4 if sub else 2 + doc_id % 3
            hb = 2 + 2 * ((doc_id // 2) % 2) if sub else 2 + (doc_id * 5) % 3
            assert img is not None and img.shape == (hb * 8, wb * 8, 3)
            for by in range(hb):
                for bx in range(wb):
                    yv = (doc_id * 7 + 13 * bx + 29 * by) % 256
                    cx, cy = (bx // 2, by // 2) if sub else (bx, by)
                    cbv = (doc_id * 11 + 17 * cx + 23 * cy) % 256
                    crv = (doc_id * 5 + 19 * cx + 31 * cy) % 256
                    want = rgb_of(
                        np.float64(yv), np.float64(cbv), np.float64(crv)
                    )
                    assert (img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == want).all()

    def test_non_block_dims_crop_exact(self):
        """Real files are rarely multiples of 8: the encoder edge-pads
        to whole blocks with the TRUE dims in SOF, and the decoder
        crops back — pinned on a flat image where padding is lossless."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            encode_baseline_jpeg,
        )

        for h, w in ((13, 21), (8, 9), (17, 8), (1, 1)):
            img = np.full((h, w), 77, dtype=np.uint8)
            dec = decode_baseline_jpeg(encode_baseline_jpeg(img))
            assert dec is not None and dec.shape == (h, w), (h, w)
            assert (dec == img).all(), (h, w)

    def test_restart_markers_decode_exact(self):
        """DRI + RSTn streams (real encoders' error-resilience structure)
        decode identically to the marker-free stream: byte re-alignment
        and per-interval DC-predictor resets both exercised."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            encode_baseline_jpeg,
        )

        rng = np.random.RandomState(5)
        img = rng.randint(0, 256, size=(24, 40)).astype(np.uint8)  # 15 MCUs
        plain = decode_baseline_jpeg(encode_baseline_jpeg(img))
        for interval in (1, 2, 4, 7):
            rst = decode_baseline_jpeg(
                encode_baseline_jpeg(img, restart_interval=interval)
            )
            assert rst is not None and (rst == plain).all(), interval

    def test_422_sampling_decodes_exact(self):
        """4:2:2 (h2v1 luma) — the third real-crawl sampling — through
        the same general MCU scan: flat blocks decode bit-exact."""
        import numpy as np

        from textextraction_spark.operators.jpeg import (
            decode_baseline_jpeg,
            encode_baseline_jpeg_color,
        )

        def rgb_of(y, cb, cr):
            r = y + 1.402 * (cr - 128.0)
            g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
            b = y + 1.772 * (cb - 128.0)
            return np.clip(
                np.floor(np.stack([r, g, b], -1) + 0.5), 0, 255
            ).astype(np.uint8)

        hb, wb = 2, 4  # luma blocks; chroma halved horizontally
        y = np.zeros((hb * 8, wb * 8), dtype=np.uint8)
        cb = np.zeros((hb * 8, wb * 4), dtype=np.uint8)
        cr = np.zeros((hb * 8, wb * 4), dtype=np.uint8)
        for by in range(hb):
            for bx in range(wb):
                y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    40 + 13 * bx + 29 * by
                ) % 256
        for by in range(hb):
            for mx in range(wb // 2):
                cb[by * 8 : by * 8 + 8, mx * 8 : mx * 8 + 8] = (
                    90 + 17 * mx + 23 * by
                ) % 256
                cr[by * 8 : by * 8 + 8, mx * 8 : mx * 8 + 8] = (
                    150 + 19 * mx + 31 * by
                ) % 256
        img = decode_baseline_jpeg(
            encode_baseline_jpeg_color(y, cb, cr, subsample="422")
        )
        assert img is not None and img.shape == (hb * 8, wb * 8, 3)
        for by in range(hb):
            for bx in range(wb):
                yv = (40 + 13 * bx + 29 * by) % 256
                cbv = (90 + 17 * (bx // 2) + 23 * by) % 256
                crv = (150 + 19 * (bx // 2) + 31 * by) % 256
                want = rgb_of(np.float64(yv), np.float64(cbv), np.float64(crv))
                assert (img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == want).all()

    def test_color_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.jpeg import (
            MEDIA_JPEG_COLOR_ORACLE,
            media_jpeg_color,
        )

        got = media_jpeg_color(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(MEDIA_JPEG_COLOR_ORACLE).df()
        problems = compare("media_jpeg_color", got, want)
        assert not problems, problems

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.jpeg import (
            MEDIA_JPEG_DECODE_ORACLE,
            media_jpeg_decode,
        )

        got = media_jpeg_decode(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(MEDIA_JPEG_DECODE_ORACLE).df()
        problems = compare("media_jpeg_decode", got, want)
        assert not problems, problems


class TestPngCodec:
    """Round-5: real lossless PNG pixel path (operators/png.py) — the
    web's second-dominant image format after JPEG.  PNG is lossless,
    so every pin is bit-exact with NO error bound (stronger than the
    JPEG |err| <= 2 AC-path bound).  Pytest-oracle-gated; not a
    driver-gated query."""

    def test_fixtures_round_trip_bit_exact_all_families(self):
        """All four fixture families (gray / rgb / rgba / palette)
        reproduce the formula grid exactly.  Fixture heights are >= 4
        rows + the filter cycles row % 5, so families taller than 4
        rows exercise every filter type; across doc_ids 0..59 all five
        appear many times in each family."""
        import numpy as np

        from textextraction_spark.operators.png import (
            _png_geometry,
            decode_png,
            make_png,
        )

        for d in range(60):
            w, h = _png_geometry(d)
            dec = decode_png(make_png(d))
            assert dec is not None, d
            ctype, img = dec
            fam = d % 4
            rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            base = (d + 3 * rr + 5 * cc) % 256
            if fam == 0:
                assert ctype == 0 and (img == base).all(), d
            elif fam in (1, 2):
                spp = 3 if fam == 1 else 4
                want = np.stack(
                    [(base + 77 * k) % 256 for k in range(spp)], axis=-1
                )
                assert img.shape == (h, w, spp) and (img == want).all(), d
            else:
                n_pal = 2 + d % 15
                idx = (d + 3 * rr + 5 * cc) % n_pal
                want = np.stack(
                    [(7 * d + 11 * idx) % 256, (13 * d + 17 * idx) % 256,
                     (3 * d + 19 * idx) % 256],
                    axis=-1,
                )
                assert ctype == 3 and (img == want).all(), d

    def test_arbitrary_content_round_trips_exact(self):
        """Lossless on arbitrary pixels for every color type — the
        all-five-filter encoder means a single filter bug breaks this."""
        import numpy as np

        from textextraction_spark.operators.png import decode_png, encode_png

        rng = np.random.RandomState(9)
        for _ in range(8):
            h, w = int(rng.randint(6, 40)), int(rng.randint(1, 40))
            g = rng.randint(0, 256, (h, w)).astype(np.uint8)
            assert (decode_png(encode_png(g, 0))[1] == g).all()
            rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            assert (decode_png(encode_png(rgb, 2))[1] == rgb).all()
            rgba = rng.randint(0, 256, (h, w, 4)).astype(np.uint8)
            assert (decode_png(encode_png(rgba, 6))[1] == rgba).all()

    def test_corrupt_png_never_raises(self):
        """Truncation at every third byte and random bit flips return
        None or a valid decode, never raise — CRC-32 verification makes
        nearly every flip a deterministic None."""
        import numpy as np

        from textextraction_spark.operators.png import decode_png, make_png

        data = make_png(13)
        for cut in range(0, len(data), 3):
            assert decode_png(data[:cut]) is None, cut
        rng = np.random.RandomState(3)
        for _ in range(200):
            b = bytearray(data)
            for _ in range(2):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = decode_png(bytes(b))
            assert r is None or isinstance(r, tuple)

    def test_adam7_and_16bit_round_trip(self):
        """Round-5 close-out: Adam7 interlace and 16-bit depth are IN
        the envelope.  Bit-exact round trips for every color type x
        interlace x depth combination, including dims < 8 where Adam7
        passes are empty; the interlaced stream must decode identical
        to the sequential one (two independent scanline layouts cannot
        carry complementary bugs); fuzz on an interlaced stream fails
        soft."""
        import numpy as np

        from textextraction_spark.operators.png import decode_png, encode_png

        rng = np.random.RandomState(17)
        for h, w in [(1, 1), (2, 3), (4, 4), (5, 7), (8, 8), (9, 13), (16, 17)]:
            for ct, shape in ((0, (h, w)), (2, (h, w, 3)), (6, (h, w, 4))):
                img8 = rng.randint(0, 256, shape).astype(np.uint8)
                seq = decode_png(encode_png(img8, ct))[1]
                inter = decode_png(encode_png(img8, ct, interlace=True))[1]
                assert (seq == img8).all() and (inter == img8).all(), (h, w, ct)
                img16 = rng.randint(0, 65536, shape).astype(np.uint16)
                for il in (False, True):
                    got_ct, got = decode_png(
                        encode_png(img16, ct, depth=16, interlace=il))
                    assert got_ct == ct and got.dtype == np.uint16
                    assert (got == img16).all(), (h, w, ct, il)
            idx = rng.randint(0, 5, (h, w)).astype(np.uint8)
            pal = [(i * 11 % 256, i * 17 % 256, i * 23 % 256) for i in range(5)]
            want = np.array(pal, np.uint8)[idx]
            got = decode_png(encode_png(idx, 3, palette=pal, interlace=True))[1]
            assert (got == want).all(), (h, w, "pal")
        # truncation + bit-flip fuzz on an interlaced 16-bit stream
        data = encode_png(
            rng.randint(0, 65536, (9, 7, 3)).astype(np.uint16),
            2, depth=16, interlace=True)
        for cut in range(0, len(data), 5):
            assert decode_png(data[:cut]) is None, cut
        for _ in range(200):
            b = bytearray(data)
            for _ in range(2):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = decode_png(bytes(b))
            assert r is None or isinstance(r, tuple)

    def test_unsupported_envelope_fails_soft(self):
        """Sub-byte depths, 16-bit palette, unknown interlace methods,
        lying IHDRs, and a palette stream missing its PLTE return
        None, not garbage — the pinned envelope."""
        import struct
        import zlib

        import numpy as np

        from textextraction_spark.operators.png import (
            _SIG,
            _chunk,
            decode_png,
            encode_png,
            make_png,
        )

        img = np.zeros((4, 4), np.uint8)
        good = encode_png(img, 0)

        def with_ihdr(depth, inter, ctype=0):
            ihdr = struct.pack(">IIBBBBB", 4, 4, depth, ctype, 0, 0, inter)
            rest = good[8 + 25 :]  # skip sig + original IHDR chunk
            return _SIG + _chunk(b"IHDR", ihdr) + rest

        # lying IHDRs over 8-bit sequential payload: claiming 16-bit or
        # Adam7 changes the expected inflated length, so both must fail
        # soft even though depth 16 / interlace 1 are now in-envelope
        assert decode_png(with_ihdr(16, 0)) is None
        assert decode_png(with_ihdr(8, 1)) is None
        # lying IHDRs claiming sub-byte depths over the 8-bit payload
        # (sub-byte is in-envelope since the final sweep, but the
        # inflated length no longer matches) and genuinely-invalid
        # shapes: unknown interlace method, 16-bit palette, sub-byte
        # truecolor
        assert decode_png(with_ihdr(4, 0)) is None
        assert decode_png(with_ihdr(1, 0)) is None
        assert decode_png(with_ihdr(8, 2)) is None
        assert decode_png(with_ihdr(16, 0, ctype=3)) is None
        assert decode_png(with_ihdr(4, 0, ctype=2)) is None

    def test_subbyte_and_gray_alpha_round_trip(self):
        """The final-sweep envelope completion: depths 1/2/4 (gray and
        palette, MSB-first bit packing, byte-distance-1 filtering) and
        color type 4 (grayscale+alpha, depths 8/16), each sequential
        AND Adam7 (sub-byte rows re-pack per pass, so interlace is a
        real composition test); widths cross byte boundaries (16, 31)
        to pin the padding-bit handling."""
        import numpy as np

        from textextraction_spark.operators.png import decode_png, encode_png

        rng = np.random.RandomState(23)
        for depth in (1, 2, 4):
            mx = 1 << depth
            for h, w in [(1, 1), (3, 5), (4, 8), (7, 9), (5, 16), (2, 31)]:
                g = rng.randint(0, mx, (h, w)).astype(np.uint8)
                for inter in (False, True):
                    ct, arr = decode_png(
                        encode_png(g, 0, depth=depth, interlace=inter))
                    assert ct == 0 and (arr == g).all(), (depth, h, w, inter)
                n = min(mx, 5)
                idx = rng.randint(0, n, (h, w)).astype(np.uint8)
                pal = [(i * 31 % 256, i * 57 % 256, i * 91 % 256)
                       for i in range(n)]
                want = np.array(pal, np.uint8)[idx]
                for inter in (False, True):
                    ct, arr = decode_png(encode_png(
                        idx, 3, palette=pal, depth=depth, interlace=inter))
                    assert ct == 3 and (arr == want).all(), (depth, h, w)
        for h, w in [(1, 1), (4, 4), (9, 13)]:
            ga8 = rng.randint(0, 256, (h, w, 2)).astype(np.uint8)
            ga16 = rng.randint(0, 65536, (h, w, 2)).astype(np.uint16)
            for inter in (False, True):
                ct, arr = decode_png(encode_png(ga8, 4, interlace=inter))
                assert ct == 4 and (arr == ga8).all()
                ct, arr = decode_png(
                    encode_png(ga16, 4, depth=16, interlace=inter))
                assert ct == 4 and arr.dtype == np.uint16
                assert (arr == ga16).all()
        # fuzz an interlaced 2-bit stream: fail soft, never raise
        data = encode_png(
            rng.randint(0, 4, (9, 7)).astype(np.uint8),
            0, depth=2, interlace=True)
        for cut in range(0, len(data), 3):
            assert decode_png(data[:cut]) is None, cut
        for _ in range(300):
            b = bytearray(data)
            for _ in range(2):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = decode_png(bytes(b))
            assert r is None or isinstance(r, tuple)

    def test_plte_and_length_lies_fail_soft(self):
        """A palette stream missing its PLTE and an IHDR lying about
        the image height both return None."""
        import struct

        import numpy as np

        from textextraction_spark.operators.png import (
            _SIG,
            _chunk,
            decode_png,
            encode_png,
            make_png,
        )

        # palette stream with the PLTE chunk excised
        pal_png = make_png(3)  # fam 3 = palette
        (ln,) = struct.unpack(">I", pal_png[33:37])  # PLTE after IHDR
        no_plte = pal_png[:33] + pal_png[33 + 12 + ln :]
        assert decode_png(no_plte) is None
        # wrong inflated length: claim 5x4 but carry 4x4 scanlines
        good = encode_png(np.zeros((4, 4), np.uint8), 0)
        ihdr = struct.pack(">IIBBBBB", 4, 5, 8, 0, 0, 0, 0)
        lied = _SIG + _chunk(b"IHDR", ihdr) + good[8 + 25 :]
        assert decode_png(lied) is None

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.png import (
            MEDIA_PNG_DECODE_ORACLE,
            media_png_decode,
        )

        got = media_png_decode(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(MEDIA_PNG_DECODE_ORACLE).df()
        problems = compare("media_png_decode", got, want)
        assert not problems, problems


class TestBmpCodec:
    """Round-5: real BI_RGB BMP pixel path (operators/bmp.py) — the
    uncompressed-bitmap crawl tail.  Uncompressed format, so every pin
    is bit-exact (row de-padding, bottom-up reversal, BGR swizzle,
    palette map).  Pytest-oracle-gated; not a driver-gated query."""

    def test_fixtures_round_trip_bit_exact_all_families(self):
        import numpy as np

        from textextraction_spark.operators.bmp import (
            _bmp_geometry,
            decode_bmp,
            make_bmp,
        )

        for d in range(80):
            w, h = _bmp_geometry(d)
            img = decode_bmp(make_bmp(d))
            assert img is not None and img.shape == (h, w, 3), d
            fam = d % 8
            rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            base = (d + 3 * rr + 5 * cc) % 256
            if fam < 2 or fam == 5:
                # truecolor formula: BI_RGB fams 0/1, and the RLE8
                # palette that reproduces it exactly (fam 5)
                want = np.stack(
                    [(base + 77 * k) % 256 for k in range(3)], axis=-1
                )
            elif fam == 4:  # RLE8 gray ramp palette
                want = np.stack([base] * 3, axis=-1)
            else:
                if fam == 7:  # RLE8, run-heavy gray // 32 index
                    idx = base // 32
                else:  # pal8 fams 2/3 and the RLE8 twin fam 6
                    n_pal = 2 + d % 15
                    idx = (d + 3 * rr + 5 * cc) % n_pal
                want = np.stack(
                    [(7 * d + 11 * idx) % 256, (13 * d + 17 * idx) % 256,
                     (3 * d + 19 * idx) % 256],
                    axis=-1,
                )
            assert (img == want).all(), d

    def test_every_padding_remainder_round_trips(self):
        """Widths 1..8 hit every 4-byte row-padding remainder for both
        depths; both row orders — a stride bug cannot survive this."""
        import numpy as np

        from textextraction_spark.operators.bmp import decode_bmp, encode_bmp

        rng = np.random.RandomState(5)
        for w in range(1, 9):
            for td in (False, True):
                img = rng.randint(0, 256, (7, w, 3)).astype(np.uint8)
                got = decode_bmp(encode_bmp(img, top_down=td))
                assert (got == img).all(), (w, td)
                idx = rng.randint(0, 16, (7, w)).astype(np.uint8)
                pal = [
                    tuple(int(x) for x in rng.randint(0, 256, 3))
                    for _ in range(16)
                ]
                got = decode_bmp(encode_bmp(idx, palette=pal, top_down=td))
                assert (got == np.array(pal, np.uint8)[idx]).all(), (w, td)

    def test_corrupt_and_unsupported_fail_soft(self):
        import struct

        import numpy as np

        from textextraction_spark.operators.bmp import decode_bmp, make_bmp

        data = make_bmp(6)
        for cut in range(0, len(data), 2):
            r = decode_bmp(data[:cut])
            assert r is None or (r.ndim == 3 and r.dtype == np.uint8), cut
        rng = np.random.RandomState(3)
        for _ in range(200):
            b = bytearray(data)
            for _ in range(2):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = decode_bmp(bytes(b))
            assert r is None or (r.ndim == 3 and r.dtype == np.uint8)
        # pinned envelope: 16-bit depth -> None; RLE8 claimed on a
        # 24-bit stream -> None (RLE8 is 8-bit only; it moved INSIDE
        # the envelope for 8-bit in the round-5 close-out); RLE4 ->
        # None; RLE8 with negative height (top-down is illegal under
        # RLE) -> None
        bad = bytearray(make_bmp(0))
        struct.pack_into("<H", bad, 28, 16)
        assert decode_bmp(bytes(bad)) is None
        bad = bytearray(make_bmp(0))  # fam 0: 24-bit BI_RGB
        struct.pack_into("<I", bad, 30, 1)
        assert decode_bmp(bytes(bad)) is None
        bad = bytearray(make_bmp(6))  # fam 6: genuine RLE8
        struct.pack_into("<I", bad, 30, 2)  # relabel as RLE4
        assert decode_bmp(bytes(bad)) is None
        bad = bytearray(make_bmp(6))
        (h,) = struct.unpack("<i", bad[22:26])
        struct.pack_into("<i", bad, 22, -h)
        assert decode_bmp(bytes(bad)) is None

    def test_rle8_round_trips_and_escapes(self):
        """BI_RLE8: bit-exact round trips on random, low-cardinality,
        and constant-row content (encoded runs, absolute mode, and the
        word-alignment pad all exercised); a hand-built stream pins the
        delta escape (skipped pixels are index 0) and a stream without
        the end-of-bitmap escape fails soft."""
        import numpy as np

        from textextraction_spark.operators.bmp import (
            _rle8_decode,
            decode_bmp,
            encode_bmp,
            rle8_encode,
        )

        rng = np.random.RandomState(9)
        for _ in range(30):
            h, w = int(rng.randint(1, 25)), int(rng.randint(1, 25))
            for gen in (
                lambda: rng.randint(0, 256, (h, w)),   # literal-heavy
                lambda: rng.randint(0, 3, (h, w)),     # mixed runs
                lambda: np.tile(rng.randint(0, 5, (h, 1)), (1, w)),  # rows
            ):
                idx = gen().astype(np.uint8)
                assert (_rle8_decode(rle8_encode(idx), 0, w, h) == idx).all()
                pal = [
                    tuple(int(x) for x in rng.randint(0, 256, 3))
                    for _ in range(256)
                ]
                got = decode_bmp(encode_bmp(idx, palette=pal, rle=True))
                assert (got == np.array(pal, np.uint8)[idx]).all(), (h, w)
        # delta escape: run of two 9s, jump (+2, +1), run of three 5s
        stream = (
            bytes([2, 9]) + bytes([0, 2, 2, 1]) + bytes([3, 5])
            + b"\x00\x00" + b"\x00\x01"
        )
        want = np.zeros((2, 8), np.uint8)
        want[1, 0:2] = 9  # storage row 0 = visual bottom row
        want[0, 4:7] = 5  # post-delta row lands on the visual top row
        got = _rle8_decode(stream, 0, 8, 2)
        assert got is not None and (got == want).all()
        # missing end-of-bitmap -> None; run past the row edge -> None
        assert _rle8_decode(bytes([2, 9]) + b"\x00\x00", 0, 8, 2) is None
        assert _rle8_decode(bytes([9, 1]) + b"\x00\x01", 0, 8, 2) is None

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.bmp import (
            MEDIA_BMP_DECODE_ORACLE,
            media_bmp_decode,
        )

        got = media_bmp_decode(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(MEDIA_BMP_DECODE_ORACLE).df()
        problems = compare("media_bmp_decode", got, want)
        assert not problems, problems


class TestExtractionSurfaceProperties:
    """Hypothesis properties for the round-5 extraction surfaces —
    beyond the formula fixtures: arbitrary values (including
    XML/HTML-escapable characters), arbitrary attribute order, and
    arbitrary transport wrapping must all round-trip."""

    # visible ASCII + space, excluding raw markup metachars — the
    # builders escape &, <, > explicitly, so include them
    _TEXT = None

    @staticmethod
    def _esc(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    @staticmethod
    def _attr(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")
        )

    def test_feed_parse_roundtrips_arbitrary_values(self):
        """Hand-built RSS with hypothesis-drawn titles (escapable
        chars included), epochs, and offsets parses back to the exact
        inputs — the parser is not specialized to the fixture
        formulas."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from textextraction_spark.operators.feeds import (
            extract_feed_items,
        )

        # titles only cross XML (fully general printable ASCII);
        # summaries also cross the HTML pipeline, whose char strip and
        # whitespace normalization transform markup metachars BY
        # DESIGN — so the summary strategy stays inside the pipeline's
        # preserved alphabet
        title_s = st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=40,
        ).map(str.strip).filter(bool)
        body_s = st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789 .,:-",
            min_size=1,
            max_size=40,
        ).map(lambda s: " ".join(s.split())).filter(bool)

        @given(
            items_src=st.lists(
                st.tuples(title_s, body_s), min_size=1, max_size=5
            ),
            epoch=st.integers(min_value=0, max_value=2_000_000_000),
            off=st.sampled_from([0, -480, 330, 60, 840, -720]),
        )
        @settings(max_examples=120, deadline=None)
        def roundtrip(items_src, epoch, off):
            from datetime import datetime, timedelta, timezone
            from email.utils import format_datetime

            tz = timezone(timedelta(minutes=off))
            items = []
            for i, (t, b) in enumerate(items_src):
                dt = datetime.fromtimestamp(epoch + i, tz=tz)
                items.append(
                    f"<item><title>{self._esc(t)}</title>"
                    f"<link>https://x.example.com/{i}</link>"
                    f"<pubDate>{format_datetime(dt)}</pubDate>"
                    f"<description>&lt;p&gt;{b}&lt;/p&gt;"
                    f"</description></item>"
                )
            doc = (
                '<rss version="2.0"><channel><title>c</title>'
                + "".join(items)
                + "</channel></rss>"
            ).encode()
            got = extract_feed_items(doc)
            assert got is not None
            n = len(items_src)
            assert [g[1] for g in got] == [t for t, _ in items_src]
            assert [g[3] for g in got] == [epoch + i for i in range(n)]
            assert [g[4] for g in got] == [b for _, b in items_src]

        roundtrip()

    def test_metadata_scan_attribute_order_and_escape_invariance(self):
        """og content survives arbitrary attribute order, interleaved
        junk metas, and attribute-value escaping; robots tokenization
        survives arbitrary case and padding."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from textextraction_spark.operators.metadata import (
            extract_page_metadata,
        )

        val = st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=30,
        ).map(str.strip).filter(bool)

        @given(
            og=val,
            title=val,
            flip=st.booleans(),
            junk=st.integers(min_value=0, max_value=3),
            ni=st.booleans(),
            nf=st.booleans(),
            pad=st.sampled_from(["", " ", "  \t"]),
            case=st.sampled_from([str.lower, str.upper, str.title]),
        )
        @settings(max_examples=150, deadline=None)
        def scan(og, title, flip, junk, ni, nf, pad, case):
            og_attr = self._attr(og)
            meta = (
                f'<meta content="{og_attr}" property="og:title">'
                if flip
                else f'<meta property="og:title" content="{og_attr}">'
            )
            junk_metas = '<meta name="viewport" content="x">' * junk
            toks = [
                w
                for w, on in (("noindex", ni), ("nofollow", nf))
                if on
            ]
            robots = (
                f'<meta name="robots" content="{pad}'
                + f",{pad}".join(case(t) for t in toks)
                + '">'
                if toks
                else ""
            )
            page = (
                f"<html><head><title>{self._esc(title)}</title>"
                f"{junk_metas}{meta}{robots}</head><body></body></html>"
            ).encode()
            m = extract_page_metadata(page)
            assert m["og_title"] == og
            assert m["title"] == title
            assert m["robots_noindex"] is ni
            assert m["robots_nofollow"] is nf

        scan()

    def test_dispatch_transport_invariance(self):
        """gzip-wrapping any non-wrapped blob changes ONLY the gz
        flag — fmt and text are invariant under transport."""
        import gzip as _gz

        from textextraction_spark.operators.dispatch import (
            extract_any,
            make_any,
        )

        for d in range(40):
            if d % 8 in (1, 6, 7):  # already gzip-wrapped families
                continue
            blob = make_any(d)
            fmt0, gz0, txt0 = extract_any(blob)
            fmt1, gz1, txt1 = extract_any(_gz.compress(blob, mtime=0))
            assert (gz0, gz1) == (False, True), d
            assert (fmt1, txt1) == (fmt0, txt0), d


class TestPageMetadata:
    """Round-5: page-metadata extraction (operators/metadata.py) —
    title / base+canonical resolution / OpenGraph / JSON-LD, with
    decoy furniture (second canonical, repeated og:title, ld+json
    inside an HTML comment) pinning first-wins and comment-blindness,
    attribute-order variation pinning read-by-name, and the
    publication epoch recomputed by the oracle in integer SQL.
    Pytest-oracle-gated (outside the pinned 50-query driver cap)."""

    def test_formula_exact_including_decoys(self):
        from textextraction_spark.operators.metadata import (
            _expected_fields,
            extract_page_metadata,
            make_meta_page,
        )

        for d in range(120):  # covers every decoy family several times
            assert extract_page_metadata(make_meta_page(d)) == (
                _expected_fields(d)
            ), d
        # the decoys are really in the fixtures (pin the pin)
        assert b"/wrong/5" in make_meta_page(5)  # d%4==1 second canonical
        assert b'content="WRONG"' in make_meta_page(7)  # d%5==2 og decoy
        assert b'"@type":"Decoy"' in make_meta_page(9)  # d%6==3 comment

    def test_robots_directives_and_lang_normalization(self):
        """Index-control parse is comma-tokenized, case-insensitive,
        whitespace-tolerant; html lang lowercases BCP 47 tags; both
        default correctly when absent."""
        from textextraction_spark.operators.metadata import (
            extract_page_metadata,
            make_meta_page,
        )

        m8 = extract_page_metadata(make_meta_page(8))  # 8%7==1: both
        assert (m8["robots_noindex"], m8["robots_nofollow"]) == (True, True)
        assert b" NOINDEX , NoFollow " in make_meta_page(8)
        m3 = extract_page_metadata(make_meta_page(3))  # 3%7==3: noindex
        assert (m3["robots_noindex"], m3["robots_nofollow"]) == (True, False)
        m5 = extract_page_metadata(make_meta_page(5))  # 5%7==5: nofollow
        assert (m5["robots_noindex"], m5["robots_nofollow"]) == (False, True)
        m0 = extract_page_metadata(make_meta_page(0))  # absent: defaults
        assert (m0["robots_noindex"], m0["robots_nofollow"]) == (False, False)
        assert extract_page_metadata(make_meta_page(3))["html_lang"] == (
            "zh-cn"  # fixture renders ZH-cn
        )
        assert b'lang="ZH-cn"' in make_meta_page(3)
        assert extract_page_metadata(make_meta_page(4))["html_lang"] is None

    def test_relative_canonical_needs_base_resolution(self):
        """The d % 3 == 0 family stores ``../c/{d}`` — an extractor
        that skips urljoin surfaces the raw relative path and fails."""
        from textextraction_spark.operators.metadata import (
            extract_page_metadata,
            make_meta_page,
        )

        m = extract_page_metadata(make_meta_page(6))
        assert m["canonical"] == "https://site6.example.com/a/c/6"
        assert b'href="../c/6"' in make_meta_page(6)

    def test_fail_soft(self):
        import numpy as np

        from textextraction_spark.operators.metadata import (
            extract_page_metadata,
            make_meta_page,
        )

        junk = extract_page_metadata(b"\x00\xff junk")
        assert all(
            v is (False if k.startswith("robots_") else None)
            for k, v in junk.items()
        ), junk
        # malformed JSON-LD nulls the ld_* fields, keeps the rest
        page = make_meta_page(4).replace(b'"@context"', b'"@context')
        m = extract_page_metadata(page)
        assert m["ld_type"] is None and m["title"] is not None
        rng = np.random.RandomState(13)
        data = make_meta_page(3)
        for cut in range(0, len(data), 7):
            assert isinstance(extract_page_metadata(data[:cut]), dict)
        for _ in range(200):
            b = bytearray(data)
            for _ in range(2):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            assert isinstance(extract_page_metadata(bytes(b)), dict)

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.metadata import (
            PAGE_METADATA_ORACLE,
            page_metadata,
        )

        got = page_metadata(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(PAGE_METADATA_ORACLE).df()
        problems = compare("page_metadata", got, want)
        assert not problems, problems


class TestExtractAny:
    """Round-5: the universal content-sniffing front door
    (operators/dispatch.py) — one extractor routed purely by magic
    bytes across html / gzip transport / pdf / docx / odt / epub /
    rss / atom, with every family's expected text rebuilt by the
    oracle so a mis-route cannot pass.  Pytest-oracle-gated (outside
    the pinned 50-query driver cap)."""

    def test_routing_and_transport_composition(self):
        import gzip as _gz

        from textextraction_spark.operators.dispatch import (
            FAMILIES,
            extract_any,
            make_any,
            sniff_format,
        )
        from textextraction_spark.sources.pages import make_pdf_bytes

        for d in range(32):
            fmt, gz, txt = extract_any(make_any(d))
            fam = FAMILIES[d % 8]
            assert fmt == ("html" if fam == "html_gz" else fam), (d, fmt)
            assert gz == (fam in ("html_gz", "rss", "atom")), (d, gz)
            assert txt is not None, d
        # transport composes with ANY content format, not just html:
        pdf = make_pdf_bytes("doc 9 pdf value 279", 9)
        assert extract_any(_gz.compress(pdf, mtime=0))[:2] == ("pdf", True)
        # opaque zip and non-feed XML take the default route, fail-soft
        import io as _io
        import zipfile as _zf

        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr("data.bin", b"\x00\x01")
        assert sniff_format(buf.getvalue()) == "html"
        assert sniff_format(b'<?xml version="1.0"?><urlset/>') == "html"

    def test_fail_soft_on_truncation_and_bit_flips(self):
        import numpy as np

        from textextraction_spark.operators.dispatch import (
            extract_any,
            make_any,
        )

        rng = np.random.RandomState(11)
        for d in range(8):  # one blob per family
            data = make_any(d)
            for cut in range(0, len(data), max(1, len(data) // 40)):
                fmt, gz, txt = extract_any(data[:cut])
                assert txt is None or isinstance(txt, str), (d, cut)
            for _ in range(60):
                b = bytearray(data)
                for _ in range(2):
                    b[rng.randint(len(b))] ^= 1 << rng.randint(8)
                fmt, gz, txt = extract_any(bytes(b))
                assert txt is None or isinstance(txt, str), d

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.dispatch import (
            EXTRACT_ANY_ORACLE,
            extract_any_docs,
        )

        got = extract_any_docs(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(EXTRACT_ANY_ORACLE).df()
        problems = compare("extract_any_docs", got, want)
        assert not problems, problems


class TestFeedItems:
    """Round-5: RSS 2.0 / Atom feed extraction (operators/feeds.py) —
    two independent XML envelope walks and two date grammars (RFC 822
    vs RFC 3339, cycling UTC offsets) must agree on identical item
    tuples, summaries route through the package's own HTML pipeline,
    and the oracle recomputes the publication epoch with integer
    arithmetic so neither Python date parser can vouch for itself.
    Pytest-oracle-gated (outside the pinned 50-query driver cap)."""

    def test_formula_exact_and_cross_format(self):
        from textextraction_spark.operators.feeds import (
            _item_fields,
            _n_items,
            extract_feed_items,
            make_atom,
            make_rss,
        )

        for d in range(60):
            r = extract_feed_items(make_rss(d))
            a = extract_feed_items(make_atom(d))
            assert r is not None and a is not None, d
            assert len(r) == len(a) == _n_items(d), d
            for j, (ri, ai) in enumerate(zip(r, a)):
                title, link, epoch, summary = _item_fields(d, j)
                stripped = summary[3:-4]  # <p>...</p> -> HTML-extracted
                assert ri == ("rss", title, link, epoch, stripped), (d, j)
                assert ai == ("atom", title, link, epoch, stripped), (d, j)
        # byte-deterministic fixtures (gzip mtime=0 on the % 4 >= 2 tail)
        assert make_rss(6) == make_rss(6)
        assert make_atom(7) == make_atom(7)
        assert make_rss(6)[:2] == b"\x1f\x8b"  # gzip transport family

    def test_timezone_normalization_is_load_bearing(self):
        """Dropping the UTC offset would shift the epoch by hours: pin
        that at least one fixture item carries a non-zero offset whose
        naive wall-clock parse differs from the normalized epoch."""
        from datetime import datetime, timezone
        from email.utils import parsedate_to_datetime

        from textextraction_spark.operators.feeds import (
            _item_fields,
            make_rss,
        )
        import gzip as _gz
        from xml.etree import ElementTree as ET

        data = make_rss(2)  # (d + j) % 4 hits -08:00 and +05:30
        root = ET.fromstring(_gz.decompress(data))
        pubs = [i.findtext("pubDate") for i in root.iter("item")]
        shifted = 0
        for j, pub in enumerate(pubs):
            dt = parsedate_to_datetime(pub)
            naive_utc = dt.replace(tzinfo=timezone.utc)
            epoch = _item_fields(2, j)[2]
            assert int(dt.timestamp()) == epoch, (j, pub)
            if int(naive_utc.timestamp()) != epoch:
                shifted += 1
        assert shifted >= 1, pubs

    def test_fail_soft_on_truncation_and_bit_flips(self):
        import numpy as np

        from textextraction_spark.operators.feeds import (
            extract_feed_items,
            make_atom,
            make_rss,
        )

        rng = np.random.RandomState(7)
        for maker in (make_rss, make_atom):
            data = maker(6)  # gzip transport family
            for cut in range(0, len(data), 5):
                r = extract_feed_items(data[:cut])
                assert r is None or isinstance(r, list), cut
            for _ in range(200):
                b = bytearray(data)
                for _ in range(2):
                    b[rng.randint(len(b))] ^= 1 << rng.randint(8)
                r = extract_feed_items(bytes(b))
                assert r is None or isinstance(r, list)
        assert extract_feed_items(b"<html><p>x</p></html>") is None
        assert extract_feed_items(b"") is None

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.feeds import (
            FEED_ITEMS_ORACLE,
            feed_items,
        )

        got = feed_items(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(FEED_ITEMS_ORACLE).df()
        problems = compare("feed_items", got, want)
        assert not problems, problems


class TestOfficeText:
    """Round-5: DOCX/ODT text extraction (operators/office.py) — real
    ZIP + XML walks over genuine office containers, the document-format
    family beyond HTML/PDF.  Both formats emit identical text for the
    same doc_id (cross-format pin), and the oracle rebuilds the exact
    extracted string in SQL.  Pytest-oracle-gated (outside the pinned
    50-query driver cap)."""

    def test_extraction_exact_and_cross_format(self):
        """Run joins (docx splits every paragraph into two runs, one
        bolded), explicit tabs, and ODT text:s expansion all reproduce
        the formula text exactly — and the two independent container
        walks agree character for character."""
        from textextraction_spark.operators.office import (
            _n_paras,
            _para_text,
            extract_docx_text,
            extract_odt_text,
            make_docx,
            make_odt,
        )

        for d in range(60):
            want = "\n".join(_para_text(d, j) for j in range(_n_paras(d)))
            assert extract_docx_text(make_docx(d)) == want, d
            assert extract_odt_text(make_odt(d)) == want, d
        # byte-deterministic fixtures (fixed DOS timestamps)
        assert make_docx(7) == make_docx(7)
        assert make_odt(7) == make_odt(7)

    def test_odt_nested_spans_and_counted_spaces(self):
        """Document-order assembly through nested spans with tails, and
        the namespaced text:c space count."""
        import io
        import zipfile

        from textextraction_spark.operators.office import extract_odt_text

        xml = (
            b'<?xml version="1.0"?>'
            b'<office:document-content xmlns:office="urn:oasis:names:tc:'
            b'opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:names:tc:'
            b'opendocument:xmlns:text:1.0"><office:body><office:text>'
            b'<text:p>a<text:span>b<text:s text:c="3"/>c</text:span>d</text:p>'
            b"</office:text></office:body></office:document-content>"
        )
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("mimetype", "application/vnd.oasis.opendocument.text")
            zf.writestr("content.xml", xml)
        assert extract_odt_text(buf.getvalue()) == "ab   cd"

    def test_corrupt_archives_fail_soft(self):
        import numpy as np

        from textextraction_spark.operators.office import (
            extract_docx_text,
            extract_odt_text,
            make_docx,
            make_odt,
        )

        rng = np.random.RandomState(3)
        for make, ext in (
            (make_docx, extract_docx_text),
            (make_odt, extract_odt_text),
        ):
            data = make(5)
            for cut in range(0, len(data), 7):
                r = ext(data[:cut])
                assert r is None or isinstance(r, str), cut
            for _ in range(150):
                b = bytearray(data)
                for _ in range(2):
                    b[rng.randint(len(b))] ^= 1 << rng.randint(8)
                r = ext(bytes(b))
                assert r is None or isinstance(r, str)
        # wrong container for the extractor -> None, not a crash
        assert extract_docx_text(make_odt(4)) is None
        assert extract_odt_text(make_docx(4)) is None

    def test_epub_spine_order_via_html_pipeline(self):
        """EPUB chapters extract through the package's own HTML
        pipeline (core.extract_document) and concatenate in SPINE
        order — odd doc_ids store chapters forward in the archive but
        list them reversed in the spine, so archive-order extraction
        cannot pass; truncation/bit-flip fuzz fails soft."""
        import numpy as np

        from textextraction_spark.operators.office import (
            extract_epub_text,
            make_epub,
        )

        for d in range(40):
            n_ch = 1 + d % 3
            order = range(n_ch - 1, -1, -1) if d % 2 else range(n_ch)
            want = "\n".join(
                "\n".join(
                    f"doc {d} ch {c} para {j} value "
                    f"{(31 * d + 17 * j + 7 * c) % 1000}"
                    for j in range(2)
                )
                for c in order
            )
            assert extract_epub_text(make_epub(d)) == want, d
        rng = np.random.RandomState(3)
        data = make_epub(5)
        for cut in range(0, len(data), 7):
            r = extract_epub_text(data[:cut])
            assert r is None or isinstance(r, str), cut
        for _ in range(150):
            b = bytearray(data)
            for _ in range(2):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = extract_epub_text(bytes(b))
            assert r is None or isinstance(r, str)

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.office import (
            OFFICE_TEXT_ORACLE,
            office_text,
        )

        got = office_text(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(OFFICE_TEXT_ORACLE).df()
        problems = compare("office_text", got, want)
        assert not problems, problems


class TestRobots:
    """robots_filter (RFC 9309 frontier gate) — outside the 50-query
    gate, full DuckDB value oracle here + semantic pins."""

    def test_matches_oracle(self, spark):
        from textextraction_spark.operators.scheduling import (
            ROBOTS_FILTER_ORACLE,
            robots_filter,
        )

        got = robots_filter(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(ROBOTS_FILTER_ORACLE).df()
        problems = compare("robots_filter", got, want)
        assert not problems, problems

    def test_rfc9309_semantics(self, spark):
        """The three behaviors that make it robots.txt and not a grep:
        (1) a non-* agent group (googlebot: Disallow /) is attributed and
        IGNORED; (2) longest-match wins — Allow /d/44 re-allows under
        Disallow /d/4; (3) no matching rule = allowed."""
        from textextraction_spark.operators.scheduling import robots_filter

        got = {
            r.url: r.allowed for r in robots_filter(spark, SF).collect()
        }
        # h3.example.com (len 14 -> digit 4): Disallow /d/4, Allow /d/44,
        # Disallow /d/*4$, Allow /d/*44$
        assert got["https://h3.example.com/d/43"] == 0    # Disallow /d/4
        assert got["https://h3.example.com/d/443"] == 1   # Allow /d/44 longer
        # round-5 wildcards (RFC 9309 2.2.3): /d/44 now wins via the
        # 9-octet Allow /d/*44$ over the 7-octet Disallow /d/*4$
        assert got["https://h4.example.com/d/44"] == 1
        # wildcard-ONLY disallow: no prefix rule touches /d/384, but it
        # ends in the digit -> blocked purely by Disallow /d/*4$
        assert got["https://h4.example.com/d/384"] == 0
        # ...and the doubled-digit end re-allows via Allow /d/*44$
        assert got["https://h4.example.com/d/344"] == 1
        # if the googlebot 'Disallow: /' group leaked into *, EVERYTHING
        # would be blocked:
        vals = list(got.values())
        assert sum(vals) > len(vals) * 0.8

    def test_frontier_side_never_shuffles(self, spark):
        """Rules broadcast onto the frontier: the url side must reach the
        output without an exchange (the only exchanges belong to the
        tiny per-host robots derivation)."""
        from textextraction_spark.operators.scheduling import robots_filter

        plan = (
            robots_filter(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange hashpartitioning(url") == 0


class TestSitemap:
    """sitemap_frontier (XML sitemap ingestion via JVM-side XPath) —
    outside the 50-query gate, full DuckDB value oracle here
    (regexp_extract_all is the oracle twin of the XPath)."""

    def test_matches_oracle(self, spark):
        from textextraction_spark.operators.scheduling import (
            SITEMAP_FRONTIER_ORACLE,
            sitemap_frontier,
        )

        got = sitemap_frontier(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(SITEMAP_FRONTIER_ORACLE).df()
        problems = compare("sitemap_frontier", got, want)
        assert not problems, problems

    def test_seen_and_new_classes_both_present(self, spark):
        """Entries 0/1 are urls the host genuinely owns (already
        crawled), entry 2 is never-crawled — both classes must appear or
        the seen-join is vacuous."""
        from textextraction_spark.operators.scheduling import sitemap_frontier

        rows = sitemap_frontier(spark, SF).collect()
        assert len(rows) == 63  # 21 hosts x 3 entries
        new = [r for r in rows if r.is_new == 1]
        seen = [r for r in rows if r.is_new == 0]
        assert len(new) == 21 and len(seen) == 42
        assert all("/d/10000" in r.url for r in new)
        for r in rows:
            assert r.lastmod is not None and 0.0 <= r.priority <= 0.9


class TestRecrawl:
    """recrawl_candidates (if-modified-since crawl economics) — outside
    the 50-query gate, full DuckDB value oracle here."""

    def test_matches_oracle(self, spark):
        from textextraction_spark.operators.scheduling import (
            RECRAWL_CANDIDATES_ORACLE,
            recrawl_candidates,
        )

        got = recrawl_candidates(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(RECRAWL_CANDIDATES_ORACLE).df()
        problems = compare("recrawl_candidates", got, want)
        assert not problems, problems

    def test_all_three_reasons_fire(self, spark):
        from textextraction_spark.operators.scheduling import recrawl_candidates

        rows = recrawl_candidates(spark, SF).collect()
        by = {}
        for r in rows:
            by.setdefault(r.reason, []).append(r)
            assert r.fetch == (0 if r.reason == "fresh" else 1)
        assert set(by) == {"new", "stale", "fresh"}
        # 'new' rows must be exactly the never-crawled sitemap entries
        # (the 1_000_000-offset family) — a regression that labels seen
        # urls 'new' fails here
        assert all("/d/10000" in r.url for r in by["new"])
        assert not any("/d/10000" in r.url for r in by["stale"] + by["fresh"])


class TestHostGraph:
    """Link-graph suite (operators/graph.py) — outside the 50-query
    gate, full DuckDB value oracle here at sf0.001 and sf0.01."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_pagerank_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.graph import (
            HOST_PAGERANK_ORACLE,
            host_pagerank,
        )

        got = host_pagerank(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(HOST_PAGERANK_ORACLE).df()
        problems = compare("host_pagerank", got, want)
        assert not problems, problems

    def test_profile_matches_oracle(self, spark):
        from textextraction_spark.operators.graph import (
            HOST_GRAPH_PROFILE_ORACLE,
            host_graph_profile,
        )

        got = host_graph_profile(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(HOST_GRAPH_PROFILE_ORACLE).df()
        problems = compare("host_graph_profile", got, want)
        assert not problems, problems

    def test_pagerank_properties(self, spark):
        """Ranks form a sub-stochastic vector (no dangling hosts in the
        fixture → mass conserved to ~1), every host present, heavy host
        (extra in-links by construction) ranks top-3."""
        from textextraction_spark.operators.graph import host_pagerank

        rows = host_pagerank(spark, SF).collect()
        assert len(rows) == 21  # heavy + h0..h19
        total = sum(r["rank"] for r in rows)
        assert abs(total - 1.0) < 1e-3
        top = sorted(rows, key=lambda r: -r["rank"])[:3]
        assert "heavy.example.com" in {r["host"] for r in top}

    def test_no_collect_in_plan(self, spark):
        """The iteration must stay lazy: a 5-iteration plan builds and
        explains without executing a job, and the scalar N is a
        broadcast, not a collected literal."""
        from textextraction_spark.operators.graph import host_pagerank

        plan = host_pagerank(spark, SF)._jdf.queryExecution().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


class TestLmPerplexity:
    """CCNet-style bigram-LM scoring (operators/lm.py) — outside the
    50-query gate, full DuckDB value oracle here."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.lm import (
            LM_PERPLEXITY_ORACLE,
            lm_perplexity,
        )

        got = lm_perplexity(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(LM_PERPLEXITY_ORACLE).df()
        problems = compare("lm_perplexity", got, want)
        assert not problems, problems

    def test_scores_are_sane(self, spark):
        """Every scored doc has >= 1 bigram, nll > 0 (probabilities < 1)
        and ppl = exp(nll) within rounding."""
        import math

        from textextraction_spark.operators.lm import lm_perplexity

        rows = lm_perplexity(spark, SF).collect()
        assert rows, "no docs scored"
        for r in rows:
            assert r.n_bigrams >= 1
            assert r.nll > 0
            assert abs(r.ppl - math.exp(r.nll)) / r.ppl < 1e-3


class TestClustering:
    """k-means + SemDeDup pruning (operators/clustering.py) — outside
    the 50-query gate, full DuckDB value oracle (unrolled Lloyd rounds)."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_kmeans_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.clustering import (
            KMEANS_ASSIGN_ORACLE,
            kmeans_assign,
        )

        got = kmeans_assign(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(KMEANS_ASSIGN_ORACLE).df()
        problems = compare("kmeans_assign", got, want)
        assert not problems, problems

    def test_semdedup_matches_oracle(self, spark):
        from textextraction_spark.operators.clustering import (
            SEMDEDUP_PRUNE_ORACLE,
            semdedup_prune,
        )

        got = semdedup_prune(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(SEMDEDUP_PRUNE_ORACLE).df()
        problems = compare("semdedup_prune", got, want)
        assert not problems, problems

    def test_shared_assignment_cache_does_not_stack(self, spark):
        """Round-4 advice: repeated gate runs must reuse ONE persisted
        Lloyd assignment per (session, sf_dir), not stack a new cached
        DataFrame in executor storage memory per call."""
        from textextraction_spark.operators import clustering as C

        a = C._shared_assignment(spark, SF)
        C.kmeans_assign(spark, SF).count()
        C.semdedup_prune(spark, SF).count()
        C.semdedup_suite(spark, SF).count()
        assert C._shared_assignment(spark, SF) is a
        keys = [k for k in C._ASSIGN_CACHE if k[1] == SF]
        assert len(keys) == 1

    def test_prunes_exactly_the_planted_copies(self, spark):
        """The identity copies (vec_id+10000 of the first 200 vectors)
        land in their source's cluster and are pruned; every base vector
        is kept (max base-pair cosine ~0.48, far below tau)."""
        from textextraction_spark.operators.clustering import semdedup_prune

        rows = semdedup_prune(spark, SF).collect()
        pruned = sorted(r.vec_id for r in rows if r.keep == 0)
        assert pruned == list(range(10_000, 10_200))

    def test_assignment_is_argmin(self, spark):
        """Recompute cluster sizes + mass: every vector assigned to
        exactly one of the 10 seeded clusters, dist nonnegative."""
        from textextraction_spark.operators.clustering import kmeans_assign

        rows = kmeans_assign(spark, SF).collect()
        assert len(rows) == 700  # 500 base + 200 copies
        assert {r.cluster for r in rows} <= set(range(10))
        assert all(r.dist >= 0 for r in rows)


class TestKeywords:
    """TF-IDF keyword extraction (operators/keywords.py) — outside the
    50-query gate, full DuckDB value oracle here."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.keywords import (
            DOC_KEYWORDS_ORACLE,
            doc_keywords,
        )

        got = doc_keywords(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(DOC_KEYWORDS_ORACLE).df()
        problems = compare("doc_keywords", got, want)
        assert not problems, problems

    def test_topk_shape(self, spark):
        from textextraction_spark.operators.keywords import TOP_K, doc_keywords

        rows = doc_keywords(spark, SF).collect()
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r.doc_id, []).append(r.rk)
        assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_doc.values())
        assert all(len(v) <= TOP_K for v in per_doc.values())


class TestBloomFrontier:
    """Bloom seen-set pre-filter (operators/frontier.py).  The sketch
    bit layout is Spark-native, so the gate pins the exact guarantees
    instead of a value hash: zero false negatives vs the exact
    anti-join, and a bounded false-positive rate."""

    def test_no_false_negatives_and_bounded_fp(self, spark):
        from textextraction_spark.operators.frontier import (
            FPP,
            bloom_new_urls,
            exact_new_urls,
        )

        bloom_new = {r.url for r in bloom_new_urls(spark, SF).collect()}
        exact_new = {r.url for r in exact_new_urls(spark, SF).collect()}
        # no false negatives: anything the Bloom path emits is truly new
        assert bloom_new <= exact_new
        # false positives only shrink the Bloom output, boundedly
        missed = len(exact_new - bloom_new)
        assert missed <= max(4, 4 * FPP * len(exact_new)), (
            missed,
            len(exact_new),
        )

    def test_seen_urls_never_pass(self, spark):
        from textextraction_spark.operators.frontier import (
            bloom_new_urls,
            seen_urls,
        )

        seen = {r.url for r in seen_urls(spark, SF).collect()}
        out = {r.url for r in bloom_new_urls(spark, SF).collect()}
        assert not (out & seen)


class TestNewOperatorPlans:
    """Shuffle-shape pins for the late-round-3 operators that live
    outside the gated SHUFFLE_BUDGETS table (tests/test_plans.py)."""

    def test_bloom_probe_is_map_side(self, spark):
        """The Bloom path's whole point: the frontier side has ZERO
        exchanges and exactly one Arrow-batched eval (the membership
        UDF) — a shuffle or a per-row BatchEvalPython here means the
        pre-filter stopped being a pre-filter."""
        from textextraction_spark.operators.frontier import bloom_new_urls

        p = bloom_new_urls(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert p.count("Exchange") == 0, p
        assert p.count("ArrowEvalPython") == 1
        assert "BatchEvalPython" not in p

    def test_keywords_and_lm_shuffle_budget(self, spark):
        """tf/df/count-table aggs and joins only — budget chosen from
        the audited plans (BENCH/PLAN_AUDIT.md); growth means a new
        unplanned shuffle slipped in."""
        from textextraction_spark.operators.keywords import doc_keywords
        from textextraction_spark.operators.lm import lm_perplexity

        for fn, budget in ((doc_keywords, 8), (lm_perplexity, 9)):
            p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
            assert p.count("Exchange") <= budget, (fn.__name__, p.count("Exchange"))
            assert "BatchEvalPython" not in p


class TestAnchorCorpus:
    """Anchor-text mining from the stored html bytes (operators/graph.py)
    — outside the 50-query gate, full DuckDB value oracle."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.graph import (
            ANCHOR_CORPUS_ORACLE,
            anchor_corpus,
        )

        got = anchor_corpus(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(ANCHOR_CORPUS_ORACLE).df()
        problems = compare("anchor_corpus", got, want)
        assert not problems, problems

    def test_pairs_stay_aligned(self, spark):
        """The two regexp passes must yield paired (href, anchor): every
        shell-A nav anchor lands with its own text, never a neighbor's."""
        from textextraction_spark.operators.graph import anchor_corpus

        rows = anchor_corpus(spark, SF).collect()
        by = {(r.host, r.href): r.anchor for r in rows if r.href in ("/", "/b")}
        # shell A (even doc_ids): <a href=/>Home</a> <a href=/b>Blog</a>;
        # shell B (odd): <a href=/>BrandB</a> <a href=/b>jobs</a> — both
        # parities exist on every host, so both anchors appear
        anchors = {r.anchor for r in rows if r.href == "/"}
        assert anchors == {"Home", "BrandB"}


class TestDomainFilter:
    """Host-level quality rollup + domain filtering (operators/domains.py)
    — outside the 50-query gate, full DuckDB value oracle."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_rollup_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.domains import (
            HOST_QUALITY_ROLLUP_ORACLE,
            host_quality_rollup,
        )

        got = host_quality_rollup(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(HOST_QUALITY_ROLLUP_ORACLE).df()
        problems = compare("host_quality_rollup", got, want)
        assert not problems, problems

    def test_filter_matches_oracle(self, spark):
        from textextraction_spark.operators.domains import (
            DOMAIN_FILTER_ORACLE,
            domain_filter,
        )

        got = domain_filter(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(DOMAIN_FILTER_ORACLE).df()
        problems = compare("domain_filter", got, want)
        assert not problems, problems

    def test_filter_consistency(self, spark):
        """Every surviving doc's host carries keep=true in the rollup,
        and survivors = sum of n_docs over kept hosts."""
        from textextraction_spark.operators.domains import (
            domain_filter,
            host_quality_rollup,
        )

        roll = {r.host: r for r in host_quality_rollup(spark, SF).collect()}
        survivors = domain_filter(spark, SF).collect()
        assert all(roll[r.host].keep for r in survivors)
        assert len(survivors) == sum(r.n_docs for r in roll.values() if r.keep)
        # the verdict must SPLIT the fixture (some hosts kept, some
        # dropped) — a vacuous all-drop/all-keep filter tests nothing
        kept = {h for h, r in roll.items() if r.keep}
        assert kept and kept != set(roll)


class TestQualityClassifier:
    """Hashed-feature linear classifier (operators/classifier.py) —
    outside the 50-query gate, full DuckDB value oracle."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.classifier import (
            QUALITY_CLASSIFIER_ORACLE,
            quality_classifier,
        )

        got = quality_classifier(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(QUALITY_CLASSIFIER_ORACLE).df()
        problems = compare("quality_classifier", got, want)
        assert not problems, problems

    def test_scores_and_split(self, spark):
        """Scores live strictly inside (0, 1) and the fixture weights
        split the corpus (both labels occur) — a degenerate all-one-label
        classifier would make the threshold untested."""
        from textextraction_spark.operators.classifier import quality_classifier

        rows = quality_classifier(spark, SF).collect()
        assert len(rows) == 500
        assert all(0.0 < r.score < 1.0 for r in rows)
        assert {r.label for r in rows} == {True, False}


class TestChunking:
    """chunk_passages: value-compared against the DuckDB twin (the same
    compare the driver gate runs) + a pure-python recompute of the
    window spec, independent of both engines."""

    def test_matches_duckdb_twin(self, spark):
        from textextraction_spark.operators.chunking import (
            CHUNK_PASSAGES_ORACLE,
            chunk_passages,
        )

        got = chunk_passages(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(CHUNK_PASSAGES_ORACLE).df()
        problems = compare("chunk_passages", got, want)
        assert not problems, problems

    def test_matches_python_recompute(self, spark):
        import re as _re

        import pandas as pd

        from textextraction_spark.operators.chunking import (
            CHUNK,
            STRIDE,
            chunk_passages,
        )

        docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
        expect = {}
        overlap = CHUNK - STRIDE
        for doc_id, text in docs.itertuples(index=False):
            toks = [
                w
                for w in _re.sub(r"[^a-z]+", " ", text.lower()).strip().split(" ")
                if w
            ]
            for i, start in enumerate(range(0, max(len(toks), 1), STRIDE)):
                if start != 0 and start >= len(toks) - overlap:
                    continue
                chunk = toks[start : start + CHUNK]
                if chunk:
                    expect[(doc_id, i)] = (len(chunk), " ".join(chunk))
        got = {
            (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
            for r in chunk_passages(spark, SF).collect()
        }
        assert got == expect

    def test_overlap_property(self, spark):
        """Consecutive chunks of one doc overlap by CHUNK - STRIDE tokens
        whenever the earlier chunk is full-size."""
        from textextraction_spark.operators.chunking import (
            CHUNK,
            STRIDE,
            chunk_passages,
        )

        rows = chunk_passages(spark, SF).collect()
        by_doc: dict[int, dict[int, str]] = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text
        checked = 0
        for chunks in by_doc.values():
            for cid, text in chunks.items():
                nxt = chunks.get(cid + 1)
                if nxt is None or len(text.split()) < CHUNK:
                    continue
                tail = text.split()[STRIDE:]
                assert nxt.split()[: len(tail)] == tail
                checked += 1
        assert checked > 0  # the fixture must contain multi-chunk docs

    def test_zero_shuffle_plan(self, spark):
        from textextraction_spark.operators.chunking import chunk_passages

        plan = (
            chunk_passages(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = sum(
            plan.count(f"Exchange {k}")
            for k in ("hashpartitioning", "rangepartitioning", "SinglePartition")
        )
        assert n == 0


class TestDsir:
    """dsir_weights: full value compare vs the DuckDB twin (the gate's
    own compare) + a pure-python recompute of the importance weights."""

    def test_matches_duckdb_twin(self, spark):
        from textextraction_spark.operators.dsir import (
            DSIR_WEIGHTS_ORACLE,
            dsir_weights,
        )

        got = dsir_weights(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(DSIR_WEIGHTS_ORACLE).df()
        problems = compare("dsir_weights", got, want)
        assert not problems, problems

    def test_matches_python_recompute(self, spark):
        import hashlib
        import math
        import re as _re
        from collections import Counter

        import pandas as pd

        from textextraction_spark.operators.dsir import (
            N_BUCKETS,
            TARGET_LANG,
            dsir_weights,
        )

        docs = pd.read_parquet(f"{SF}/documents.parquet")[
            ["doc_id", "text", "lang"]
        ]

        def buckets(text):
            w = [
                x
                for x in _re.sub(r"[^a-z]+", " ", text.lower()).strip().split(" ")
                if x
            ]
            return [
                int(hashlib.md5(f"{w[i]}_{w[i+1]}".encode()).hexdigest()[:8], 16)
                % N_BUCKETS
                for i in range(len(w) - 1)
            ]

        feats = {
            r.doc_id: (buckets(r.text), r.lang) for r in docs.itertuples()
        }
        cr, ct = Counter(), Counter()
        for bs, lang in feats.values():
            cr.update(bs)
            if lang == TARGET_LANG:
                ct.update(bs)
        tr, tt = sum(cr.values()), sum(ct.values())
        ratio = {
            b: math.log(
                (ct.get(b, 0) + 1.0) * (tr + N_BUCKETS)
                / ((cr[b] + 1.0) * (tt + N_BUCKETS))
            )
            for b in cr
        }
        expect = {}
        for doc_id, (bs, _) in feats.items():
            if bs:
                lr = round(sum(ratio[b] for b in bs) / len(bs), 5)
                expect[doc_id] = (len(bs), lr, lr > 0)
        got = {
            r.doc_id: (r.n_feats, round(r.logratio, 5), r.keep)
            for r in dsir_weights(spark, SF).collect()
        }
        assert got == expect

    def test_importance_weight_invariant(self, spark):
        """Gibbs' inequality, the invariant that makes these importance
        weights: the TARGET-frequency-weighted mean of log(p_t/p_r) must
        exceed the RAW-frequency-weighted mean (their gap is
        KL(t||r) + KL(r||t) >= 0, up to smoothing).  Holds for ANY
        target slice — the synthetic fixture's langs share one
        vocabulary, so per-doc rank separation is NOT asserted (there is
        genuinely none to find); the weighting math is what's pinned."""
        import hashlib
        import math
        import re as _re
        from collections import Counter

        import pandas as pd

        from textextraction_spark.operators.dsir import N_BUCKETS, TARGET_LANG

        docs = pd.read_parquet(f"{SF}/documents.parquet")[
            ["doc_id", "text", "lang"]
        ]
        cr, ct = Counter(), Counter()
        for r in docs.itertuples():
            w = [
                x
                for x in _re.sub(r"[^a-z]+", " ", r.text.lower()).strip().split(" ")
                if x
            ]
            bs = [
                int(hashlib.md5(f"{w[i]}_{w[i+1]}".encode()).hexdigest()[:8], 16)
                % N_BUCKETS
                for i in range(len(w) - 1)
            ]
            cr.update(bs)
            if r.lang == TARGET_LANG:
                ct.update(bs)
        tr, tt = sum(cr.values()), sum(ct.values())
        lr = {
            b: math.log(
                (ct.get(b, 0) + 1.0) * (tr + N_BUCKETS)
                / ((cr[b] + 1.0) * (tt + N_BUCKETS))
            )
            for b in cr
        }
        target_mean = sum(ct[b] * lr[b] for b in ct) / tt
        raw_mean = sum(cr[b] * lr[b] for b in cr) / tr
        assert target_mean >= raw_mean - 1e-9, (target_mean, raw_mean)


class TestPq:
    """Product quantization (operators/pq.py): full value compares vs the
    DuckDB twins + recall/plan guarantees (IVF-PQ's code side)."""

    def test_encode_matches_duckdb_twin(self, spark):
        from textextraction_spark.operators.pq import PQ_ENCODE_ORACLE, pq_encode

        got = pq_encode(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(PQ_ENCODE_ORACLE).df()
        problems = compare("pq_encode", got, want)
        assert not problems, problems

    def test_ann_matches_duckdb_twin(self, spark):
        from textextraction_spark.operators.pq import ANN_PQ_ORACLE, ann_pq_adc

        got = ann_pq_adc(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(ANN_PQ_ORACLE).df()
        problems = compare("ann_pq_adc", got, want)
        assert not problems, problems

    def test_codes_in_range_and_nontrivial(self, spark):
        from textextraction_spark.operators.pq import K, M, pq_encode

        codes = pq_encode(spark, SF).toPandas()["code"]
        assert all(len(c) == M and all(0 <= j < K for j in c) for c in codes)
        # the quantizer must actually discriminate: every subspace uses
        # more than one codeword across the corpus
        for m in range(M):
            assert len({c[m] for c in codes}) > 1, f"subspace {m} degenerate"

    def test_recall_floor_vs_exact(self, spark):
        """ADC shortlist + exact re-rank must recover a pinned fraction of
        the true cosine top-k (PQ is lossy; the floor documents HOW lossy
        at M=4 x K=4 on this corpus)."""
        from textextraction_spark.operators.pq import TOP_K, ann_pq_adc
        from textextraction_spark.operators.simsearch import brute_force_topk

        got = {r["vec_id"] for r in ann_pq_adc(spark, SF).collect()}
        exact = {r["vec_id"] for r in brute_force_topk(spark, SF).collect()}
        recall = len(got & exact) / TOP_K
        # measured 0.6 at K=8 / SHORTLIST=100 on the synthetic corpus
        # (i.i.d.-random embeddings are PQ's worst case — see pq.py);
        # floor at 0.5 tolerates fixture regeneration
        assert recall >= 0.5, recall

    def test_plan_shape(self, spark):
        """pq_encode is a zero-Exchange narrow projection; the ADC search
        plan is shortlist-top-k + ONE broadcast join, never cartesian."""
        from textextraction_spark.operators.pq import ann_pq_adc, pq_encode

        enc_plan = pq_encode(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in enc_plan
        ann_plan = ann_pq_adc(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in ann_plan
        assert "TakeOrderedAndProject" in ann_plan
        assert "BroadcastHashJoin" in ann_plan or "BroadcastExchange" in ann_plan


class TestCorpusAssembly:
    """training_order + quota_sample (operators/packing.py): full value
    compares vs the DuckDB twins + the invariants that make them usable
    as corpus-build steps."""

    def test_training_order_matches_duckdb_twin(self, spark):
        from textextraction_spark.operators.packing import (
            TRAINING_ORDER_ORACLE,
            training_order,
        )

        got = training_order(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(TRAINING_ORDER_ORACLE).df()
        problems = compare("training_order", got, want)
        assert not problems, problems

    def test_training_order_is_a_permutation(self, spark):
        """Every doc appears exactly once; positions within each shard are
        gapless 0..n-1 (a data loader can stream shards independently)."""
        from textextraction_spark.operators.packing import training_order

        df = training_order(spark, SF).toPandas()
        assert df["doc_id"].is_unique and len(df) == 500
        for _shard, grp in df.groupby("shard"):
            assert sorted(grp["pos"]) == list(range(len(grp)))

    def test_training_order_seed_sensitivity(self, spark):
        """A different seed produces a genuinely different order (the
        reshuffle-per-epoch property)."""
        import textextraction_spark.operators.packing as P

        a = P.training_order(spark, SF).toPandas().set_index("doc_id")
        old = P.SHUFFLE_SEED
        P.SHUFFLE_SEED = "ep2"
        try:
            b = P.training_order(spark, SF).toPandas().set_index("doc_id")
        finally:
            P.SHUFFLE_SEED = old
        b = b.reindex(a.index)
        moved = ((a["shard"] != b["shard"]) | (a["pos"] != b["pos"])).mean()
        assert moved > 0.9, moved

    def test_quota_sample_matches_duckdb_twin(self, spark):
        from textextraction_spark.operators.packing import (
            QUOTA_SAMPLE_ORACLE,
            quota_sample,
        )

        got = quota_sample(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(QUOTA_SAMPLE_ORACLE).df()
        problems = compare("quota_sample", got, want)
        assert not problems, problems

    def test_quota_sample_exact_quotas(self, spark):
        from textextraction_spark.operators.packing import (
            QUOTA_PER_LANG,
            quota_sample,
        )

        df = quota_sample(spark, SF).toPandas()
        counts = df.groupby("lang")["doc_id"].count()
        # every language in the sf0.001 corpus has >= QUOTA docs, so the
        # quota binds exactly for all of them
        assert set(counts) == {QUOTA_PER_LANG}, counts.to_dict()
        assert df["doc_id"].is_unique

    def test_plan_shape(self, spark):
        """Both ops are one hash exchange + a window — no joins, no
        collects, nothing driver-side."""
        from textextraction_spark.operators.packing import (
            quota_sample,
            training_order,
        )

        for fn in (training_order, quota_sample):
            plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
            n_exch = plan.count("Exchange") - plan.count("BroadcastExchange")
            assert n_exch == 1, (fn.__name__, n_exch)
            assert "Join" not in plan, fn.__name__


class TestExactSubstr:
    """exact_substr_dedup (operators/dedup.py): the removal half of
    Lee-et-al. exact-substring dedup — outside the 50-query gate cap,
    full DuckDB value oracle + a pure-python recompute independent of
    both engines + the coverage property."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.dedup import (
            EXACT_SUBSTR_ORACLE,
            exact_substr_dedup,
        )

        got = exact_substr_dedup(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(EXACT_SUBSTR_ORACLE).df()
        problems = compare("exact_substr_dedup", got, want)
        assert not problems, problems

    @staticmethod
    def _recompute(sf):
        import pandas as pd

        from textextraction_spark.operators.dedup import (
            ES_BOILERS,
            ES_NDOCS,
            ES_W,
        )

        docs = pd.read_parquet(f"{sf}/documents.parquet")[["doc_id", "text"]]
        docs = docs[docs.doc_id < ES_NDOCS]
        toks = {
            r.doc_id: (r.text + " " + ES_BOILERS[r.doc_id % 4]).split(" ")
            for r in docs.itertuples(index=False)
        }
        gram_docs: dict[tuple, set] = {}
        positions: dict[int, list] = {d: [] for d in toks}
        for d, t in toks.items():
            for i in range(len(t) - ES_W + 1):
                gram_docs.setdefault(tuple(t[i : i + ES_W]), set()).add(d)
        dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
        for d, t in toks.items():
            for i in range(len(t) - ES_W + 1):
                if tuple(t[i : i + ES_W]) in dup:
                    positions[d].append(i)
        out = {}
        for d, t in toks.items():
            covered = set()
            for p in positions[d]:
                covered.update(range(p, p + ES_W))
            kept = [tok for i, tok in enumerate(t) if i not in covered]
            out[d] = (len(t), len(t) - len(kept), " ".join(kept))
        return out

    def test_matches_python_recompute(self, spark):
        from textextraction_spark.operators.dedup import exact_substr_dedup

        expect = self._recompute(SF)
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
            for r in exact_substr_dedup(spark, SF).collect()
        }
        assert got == expect

    def test_boilerplate_removed_body_kept(self, spark):
        """Every doc loses at least the boiler sentence it shares with
        ~ES_NDOCS/4 others, and no cleaned text still contains a full
        boiler sentence."""
        from textextraction_spark.operators.dedup import (
            ES_BOILERS,
            exact_substr_dedup,
        )

        min_boiler = min(len(b.split(" ")) for b in ES_BOILERS)
        rows = exact_substr_dedup(spark, SF).collect()
        assert rows and all(r.n_removed >= min_boiler for r in rows)
        for r in rows:
            assert not any(b in r.cleaned_text for b in ES_BOILERS)
        # the corpus is not degenerate: most bodies survive
        assert sum(1 for r in rows if r.n_removed < r.n_tokens) > len(rows) // 2

    def test_plan_shape(self, spark):
        """Gram agg + dup join + per-doc regroup: <= 5 exchanges, zero
        Python in the plan (the whole operator is JVM expressions).
        The 2 BHJs at test scale are AQE size-gated downgrades (no
        broadcast hints in the code), same note as dedup_minhash_lsh in
        BENCH/PLAN_AUDIT.md."""
        from textextraction_spark.operators.dedup import exact_substr_dedup

        p = (
            exact_substr_dedup(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert p.count("Exchange") <= 5, p.count("Exchange")
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


class TestSearch:
    """build_postings / term_search (operators/keywords.py): inverted
    index + conjunctive TF-IDF search — outside the 50-query gate cap,
    full DuckDB value oracles."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.keywords import (
            BUILD_POSTINGS_ORACLE,
            TERM_SEARCH_ORACLE,
            build_postings,
            term_search,
        )

        con = connect_duckdb(sf)
        for name, fn, sql in (
            ("build_postings", build_postings, BUILD_POSTINGS_ORACLE),
            ("term_search", term_search, TERM_SEARCH_ORACLE),
        ):
            problems = compare(
                name, fn(spark, sf).toPandas(), con.execute(sql).df()
            )
            assert not problems, (name, problems)

    def test_postings_consistent(self, spark):
        """df equals the posting-list length and doc_ids are sorted —
        the invariants an index consumer relies on."""
        from textextraction_spark.operators.keywords import build_postings

        for r in build_postings(spark, SF).collect():
            entries = r.postings.split(",")
            assert r.df == len(entries)
            ids = [int(e.split(":")[0]) for e in entries]
            assert ids == sorted(ids)

    def test_and_semantics(self, spark):
        """Every hit contains ALL query terms in its raw text; a query
        with an absent term returns no rows (true conjunction)."""
        import re as _re

        import pandas as pd

        from textextraction_spark.operators.keywords import QUERIES, term_search

        terms = dict(QUERIES)
        docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
        toks = {
            r.doc_id: set(
                _re.sub(r"[^a-z]+", " ", r.text.lower()).split()
            )
            for r in docs.itertuples(index=False)
        }
        rows = term_search(spark, SF).collect()
        assert rows and not any(r.qid == "q_absent" for r in rows)
        for r in rows:
            assert set(terms[r.qid]) <= toks[r.doc_id], (r.qid, r.doc_id)

    def test_plan_shape(self, spark):
        """Query side broadcast (tiny by construction), tf/df partial
        aggs, per-qid window: bounded exchanges, zero Python."""
        from textextraction_spark.operators.keywords import (
            build_postings,
            term_search,
        )

        for fn, budget in ((build_postings, 2), (term_search, 9)):
            p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
            assert p.count("Exchange") <= budget, (fn.__name__, p.count("Exchange"))
            assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


class TestDrift:
    """snapshot_drift (operators/drift.py): unigram JS/KL drift between
    adjacent crawl snapshots — outside the 50-query gate cap, full
    DuckDB value oracle + a pure-python recompute."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.drift import (
            SNAPSHOT_DRIFT_ORACLE,
            snapshot_drift,
        )

        got = snapshot_drift(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(SNAPSHOT_DRIFT_ORACLE).df()
        problems = compare("snapshot_drift", got, want)
        assert not problems, problems

    def test_matches_python_recompute(self, spark):
        import math
        import re as _re
        from collections import Counter

        import pandas as pd

        from textextraction_spark.operators.drift import N_SNAPS, snapshot_drift

        docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
        counts: dict[str, Counter] = {f"snap{i}": Counter() for i in range(N_SNAPS)}
        for r in docs.itertuples(index=False):
            toks = [
                t
                for t in _re.sub(r"[^a-z]+", " ", r.text.lower()).strip().split(" ")
                if t
            ]
            counts[f"snap{r.doc_id % N_SNAPS}"].update(toks)
        vocab = sorted(set().union(*counts.values()))
        V = len(vocab)

        def p(snap):
            total = sum(counts[snap].values())
            return {t: (counts[snap][t] + 1.0) / (total + V) for t in vocab}

        expect = {}
        for i in range(N_SNAPS - 1):
            a, b = f"snap{i}", f"snap{i + 1}"
            pa, pb = p(a), p(b)
            kl_ab = sum(pa[t] * math.log(pa[t] / pb[t]) for t in vocab)
            kl_ba = sum(pb[t] * math.log(pb[t] / pa[t]) for t in vocab)
            js = 0.5 * sum(
                pa[t] * math.log(pa[t] / ((pa[t] + pb[t]) / 2)) for t in vocab
            ) + 0.5 * sum(
                pb[t] * math.log(pb[t] / ((pa[t] + pb[t]) / 2)) for t in vocab
            )
            expect[(a, b)] = (round(kl_ab, 6), round(kl_ba, 6), round(js, 6))
        got = {
            (r.snap_a, r.snap_b): (r.kl_ab, r.kl_ba, r.js)
            for r in snapshot_drift(spark, SF).collect()
        }
        assert got == expect

    def test_divergence_bounds(self, spark):
        """JS is bounded by ln 2 and non-negative; KL is non-negative —
        the sanity floor any monitoring consumer alarms on."""
        import math

        from textextraction_spark.operators.drift import snapshot_drift

        rows = snapshot_drift(spark, SF).collect()
        assert len(rows) == 3
        for r in rows:
            assert 0 <= r.js <= math.log(2) + 1e-9
            assert r.kl_ab >= 0 and r.kl_ba >= 0

    def test_plan_shape(self, spark):
        """The only volume-proportional shuffle is the (snap, tok) count
        partial agg; everything else is vocabulary-bounded (grid is
        derived twice, once per pair side — same trade as semdedup's
        persisted assignment).  Zero Python in-plan."""
        from textextraction_spark.operators.drift import snapshot_drift

        p = (
            snapshot_drift(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert p.count("Exchange") <= 30, p.count("Exchange")
        assert "EvalPython" not in p


class TestC4Filters:
    """c4_filters (operators/curation.py): the named C4 cleaning rules —
    outside the 50-query gate cap, full DuckDB value oracle + rule
    semantics + the curation-suite zero-shuffle plan pin."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.curation import (
            C4_FILTERS_ORACLE,
            c4_filters,
        )

        got = c4_filters(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(C4_FILTERS_ORACLE).df()
        problems = compare("c4_filters", got, want)
        assert not problems, problems

    def test_rule_semantics(self, spark):
        from textextraction_spark.operators.curation import (
            C4_MIN_SENTENCES,
            c4_filters,
        )

        rows = c4_filters(spark, SF).collect()
        reasons = {r.drop_reason for r in rows}
        assert {"", "terminal", "short", "brace", "lorem", "blockterm"} <= reasons
        for r in rows:
            assert r.keep == (r.drop_reason == "")
            if r.keep:
                assert (
                    r.ends_terminal
                    and r.n_sentences >= C4_MIN_SENTENCES
                    and not (r.has_brace or r.has_lorem or r.has_blockterm)
                )
            # planted families fire their rule unless an earlier one did
            if r.doc_id % 11 == 0:
                assert r.has_brace
            if r.doc_id % 7 == 0:
                assert r.has_lorem
            if r.doc_id % 13 == 0:
                assert r.has_blockterm

    def test_zero_shuffle_plan(self, spark):
        from textextraction_spark.operators.curation import c4_filters

        p = (
            c4_filters(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert p.count("Exchange") == 0, p
        assert "EvalPython" not in p


class TestGopherQuality:
    """gopher_quality (operators/curation.py): the Gopher A1.1 quality
    rules — outside the 50-query gate cap, full DuckDB value oracle +
    rule semantics + zero-shuffle plan pin."""

    @pytest.mark.parametrize("sf", [SF, "/root/testdata/sf0.01"])
    def test_matches_oracle(self, spark, sf):
        from textextraction_spark.operators.curation import (
            GOPHER_QUALITY_ORACLE,
            gopher_quality,
        )

        got = gopher_quality(spark, sf).toPandas()
        want = connect_duckdb(sf).execute(GOPHER_QUALITY_ORACLE).df()
        problems = compare("gopher_quality", got, want)
        assert not problems, problems

    def test_rule_semantics(self, spark):
        from textextraction_spark.operators.curation import (
            GOPHER_MAX_WORDS,
            GOPHER_MIN_WORDS,
            gopher_quality,
        )

        rows = gopher_quality(spark, SF).collect()
        reasons = {r.drop_reason for r in rows}
        assert {"", "word_count", "word_length", "alpha", "symbol"} <= reasons
        assert any(r.keep for r in rows)
        for r in rows:
            assert r.keep == (r.drop_reason == "")
            if r.keep:
                assert GOPHER_MIN_WORDS <= r.n_words <= GOPHER_MAX_WORDS
                assert 3 <= r.mean_word_len <= 10
                assert r.alpha_frac >= 0.8 and r.symbol_ratio <= 0.1
                assert r.n_stop_distinct >= 2
            # planted families measurably move their signal
            if r.doc_id % 4 == 2:
                assert r.alpha_frac < 1.0
            if r.doc_id % 4 == 3:
                assert r.symbol_ratio > 0.0
            if r.doc_id % 4 == 0:
                assert r.n_stop_distinct >= 2  # stops appended

    def test_zero_shuffle_plan(self, spark):
        from textextraction_spark.operators.curation import gopher_quality

        p = (
            gopher_quality(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert p.count("Exchange") == 0, p
        assert "EvalPython" not in p


class TestIcoCodec:
    """Round-5 close-out: ICO / favicon container (operators/ico.py) —
    ICONDIR walk, payload-header entry ranking (directory bytes are
    untrusted), doubled-height DIB payloads (8/24/32-bit) with the
    32-bit-stride AND mask, alpha/mask transparency composited onto
    black, PNG payloads through the package's own PNG codec.
    Pytest-oracle-gated; not a driver-gated query."""

    def test_fixture_families_bit_exact(self):
        """All five fixture families decode to the exact composited
        formulas (the same check the DuckDB oracle aggregates)."""
        import numpy as np

        from textextraction_spark.operators.ico import decode_ico, make_ico

        for d in range(60):
            w, h = 4 + d % 5, 4 + (d * 3) % 5
            fam = d % 5
            rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            base = (d + 3 * rr + 5 * cc) % 256
            rgb = np.stack(
                [(base + 77 * k) % 256 for k in range(3)], -1
            ).astype(np.int64)
            mask = (d + rr + 2 * cc) % 7 == 0
            if fam == 0:
                want, wfmt = rgb * ~mask[:, :, None], "dib24"
            elif fam == 1:
                n_pal = 2 + d % 15
                idx = (d + 3 * rr + 5 * cc) % n_pal
                pal = np.array(
                    [
                        [(7 * d + 11 * i) % 256, (13 * d + 17 * i) % 256,
                         (3 * d + 19 * i) % 256]
                        for i in range(n_pal)
                    ]
                )
                want, wfmt = pal[idx] * ~mask[:, :, None], "dib8"
            elif fam == 2:
                a = (d + 7 * rr + 11 * cc) % 256
                want, wfmt = rgb * a[:, :, None] // 255, "dib32"
            else:
                want, wfmt = rgb, "png"
            fmt, img = decode_ico(make_ico(d))
            assert fmt == wfmt and (img.astype(np.int64) == want).all(), d

    def test_mask_stride_is_32_bits(self):
        """AND-mask rows pad to 32 BITS (4-byte words), a different
        stride rule than the XOR plane's: a 40-px-wide icon needs
        2 mask words/row, and a decoder using byte padding mis-reads
        every row past the first."""
        import numpy as np

        from textextraction_spark.operators.ico import (
            decode_ico,
            dib_payload,
            encode_ico,
        )

        rng = np.random.RandomState(7)
        img = rng.randint(0, 256, (5, 40, 3)).astype(np.uint8)
        mask = (rng.randint(0, 2, (5, 40))).astype(np.uint8)
        ico = encode_ico([(dib_payload(img, mask=mask), 40, 5, 24)])
        fmt, dec = decode_ico(ico)
        want = img.astype(np.int64) * (1 - mask[:, :, None])
        assert fmt == "dib24" and (dec.astype(np.int64) == want).all()

    def test_directory_dims_untrusted(self):
        """The fam-4 fixture's directory claims 255x255 for a junk
        3x3 entry; payload-ranked selection must land on the real PNG
        (pinned in the family test) — and a 256-wide payload decodes
        at its payload width even though its directory byte reads 0
        (the 0-means-256 convention)."""
        import numpy as np

        from textextraction_spark.operators.ico import (
            decode_ico,
            dib_payload,
            encode_ico,
        )

        img = np.zeros((2, 256, 3), np.uint8)
        img[:, ::2] = 200
        ico = encode_ico([(dib_payload(img), 256, 2, 24)])
        fmt, dec = decode_ico(ico)
        assert dec.shape == (2, 256, 3) and (dec == img).all()

    def test_fail_soft_envelope(self):
        """Cursors, empty directories, payload overruns, unsupported
        DIB layouts, and corrupt PNG payloads return None; a bad entry
        NEXT TO a good one is skipped, not fatal."""
        import struct

        import numpy as np

        from textextraction_spark.operators.ico import (
            decode_ico,
            dib_payload,
            encode_ico,
            make_ico,
        )

        good = make_ico(0)
        assert decode_ico(b"") is None
        assert decode_ico(good[:5]) is None
        # type 2 = cursor
        assert decode_ico(b"\x00\x00\x02\x00" + good[4:]) is None
        # count = 0
        assert decode_ico(struct.pack("<HHH", 0, 1, 0)) is None
        # payload overrun
        assert decode_ico(good[:-3]) is None
        # 16-bit DIB: only entry unparseable -> None
        img = np.zeros((2, 2, 3), np.uint8)
        payload = bytearray(dib_payload(img))
        struct.pack_into("<H", payload, 14, 16)
        assert decode_ico(encode_ico([(bytes(payload), 2, 2, 16)])) is None
        # ...but skipped when a good entry exists
        ok = dib_payload(np.full((3, 3, 3), 9, np.uint8))
        two = encode_ico([(bytes(payload), 2, 2, 16), (ok, 3, 3, 24)])
        fmt, dec = decode_ico(two)
        assert fmt == "dib24" and (dec == 9).all()
        # corrupt PNG payload (flip a byte inside IDAT)
        png_ico = bytearray(make_ico(3))
        png_ico[-20] ^= 0xFF
        assert decode_ico(bytes(png_ico)) is None

    def test_round_trip_property(self):
        """Hypothesis: arbitrary RGB + arbitrary mask (24-bit) and
        arbitrary RGBA (32-bit) DIB icons decode to the exact
        composite."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        import numpy as np

        from textextraction_spark.operators.ico import (
            decode_ico,
            dib_payload,
            encode_ico,
        )

        @settings(max_examples=40, deadline=None)
        @given(
            st.integers(1, 37), st.integers(1, 9), st.integers(0, 2**32 - 1)
        )
        def prop(w, h, seed):
            rng = np.random.RandomState(seed)
            img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            mask = rng.randint(0, 2, (h, w)).astype(np.uint8)
            fmt, dec = decode_ico(
                encode_ico([(dib_payload(img, mask=mask), w, h, 24)])
            )
            want = img.astype(np.int64) * (1 - mask[:, :, None])
            assert fmt == "dib24" and (dec.astype(np.int64) == want).all()
            alpha = rng.randint(0, 256, (h, w)).astype(np.uint8)
            fmt, dec = decode_ico(
                encode_ico([(dib_payload(img, alpha=alpha), w, h, 32)])
            )
            want = img.astype(np.int64) * alpha[:, :, None] // 255
            assert fmt == "dib32" and (dec.astype(np.int64) == want).all()

        prop()


class TestSheetFormats:
    """Round-5: XLSX/PPTX extraction (operators/sheets.py) — the other
    two OOXML containers.  Every indirection is load-bearing: workbook
    order resolves through rels whose rId numbering opposes the sheet
    file numbering, shared strings intern with real reuse, cell order
    comes from A1 refs (written reversed), and sldIdLst permutes
    slides vs their file numbering.  Pytest-oracle-gated."""

    def test_xlsx_indirections(self):
        """Workbook-order sheets (rels-resolved), ref-sorted cells,
        interned shared strings in rich-text runs, all three value
        channels; the A1 parser handles multi-letter columns."""
        from textextraction_spark.operators.sheets import (
            _col_name,
            _parse_ref,
            extract_xlsx_text,
            make_xlsx,
        )

        # A1 ref algebra: base-26 with no zero digit
        assert _col_name(0) == "A" and _col_name(25) == "Z"
        assert _col_name(26) == "AA" and _col_name(27 * 26 - 1) == "ZZ"
        assert _parse_ref("AB12") == (11, 27)
        assert _parse_ref("12AB") is None and _parse_ref("") is None
        for d in range(0, 40, 2):
            txt = extract_xlsx_text(make_xlsx(d))
            n_sheets = 1 + d % 3
            lines = txt.split("\n")
            assert len(lines) == sum(
                2 + (d + s) % 3 for s in range(n_sheets)
            ), d
            # first sheet's first row, first cell (i=0, j=0)
            kind = d % 3
            first = lines[0].split("\t")[0]
            if kind == 0:
                assert first == f"sh {d}.0.0"
            elif kind == 1:
                assert first == str((7 * d) % 1000)
            else:
                assert first == f"in {d}.0.0.0"

    def test_pptx_slide_order(self):
        """doc_id % 4 == 3 lists slides reversed in sldIdLst: file
        order extraction cannot pass."""
        from textextraction_spark.operators.sheets import (
            extract_pptx_text,
            make_pptx,
        )

        for d in (3, 7, 11, 15):
            n = 1 + d % 4  # == 4
            txt = extract_pptx_text(make_pptx(d))
            want = "\n".join(
                f"slide {s} para {j} of {d} v "
                f"{(31 * d + 17 * j + 7 * s) % 1000}"
                for s in range(n - 1, -1, -1)
                for j in range(2)
            )
            assert txt == want, d
        # forward order for the other residues
        d = 5
        txt = extract_pptx_text(make_pptx(d))
        assert txt.startswith(f"slide 0 para 0 of {d}")

    def test_fail_soft(self):
        """Corrupt archives, cross-format containers, missing parts,
        dangling rIds, truncation/bit-flip fuzz: None, never raise."""
        import io
        import zipfile

        import numpy as np

        from textextraction_spark.operators.sheets import (
            extract_pptx_text,
            extract_xlsx_text,
            make_pptx,
            make_xlsx,
        )

        assert extract_xlsx_text(b"") is None
        assert extract_pptx_text(b"PK\x03\x04junk") is None
        assert extract_xlsx_text(make_pptx(3)) is None
        assert extract_pptx_text(make_xlsx(2)) is None
        # dangling rId: drop the rels part
        src = zipfile.ZipFile(io.BytesIO(make_xlsx(4)))
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for n in src.namelist():
                if "workbook.xml.rels" not in n:
                    zf.writestr(n, src.read(n))
        assert extract_xlsx_text(buf.getvalue()) is None
        rng = np.random.RandomState(11)
        for make, ext in (
            (make_xlsx, extract_xlsx_text),
            (make_pptx, extract_pptx_text),
        ):
            data = make(9 if make is make_pptx else 8)
            for cut in range(0, len(data), 13):
                r = ext(data[:cut])
                assert r is None or isinstance(r, str), cut
            for _ in range(120):
                b = bytearray(data)
                for _ in range(2):
                    b[rng.randint(len(b))] ^= 1 << rng.randint(8)
                r = ext(bytes(b))
                assert r is None or isinstance(r, str)

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.sheets import (
            SHEET_TEXT_ORACLE,
            sheet_text,
        )

        got = sheet_text(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(SHEET_TEXT_ORACLE).df()
        problems = compare("sheet_text", got, want)
        assert not problems, problems


class TestDispatchSheets:
    """Round-5 close-out: the universal front door sniffs the other
    two OOXML containers by PART NAME (xl/workbook.xml /
    ppt/presentation.xml), routes them through operators/sheets.py,
    and composes with gzip transport — still from bytes alone."""

    def test_sniff_and_extract(self):
        import gzip as _gz

        from textextraction_spark.operators.dispatch import extract_any
        from textextraction_spark.operators.sheets import (
            extract_pptx_text,
            extract_xlsx_text,
            make_pptx,
            make_xlsx,
        )

        for d in (2, 4, 7, 9):
            if d % 2 == 0:
                blob, want = make_xlsx(d), extract_xlsx_text(make_xlsx(d))
                wfmt = "xlsx"
            else:
                blob, want = make_pptx(d), extract_pptx_text(make_pptx(d))
                wfmt = "pptx"
            assert extract_any(blob) == (wfmt, False, want), d
            assert extract_any(_gz.compress(blob, mtime=0)) == (
                wfmt, True, want,
            ), d

    def test_opaque_zip_still_defaults(self):
        """A zip with none of the known parts keeps taking the HTML
        default route (the pre-existing opaque-zip contract)."""
        import io
        import zipfile

        from textextraction_spark.operators.dispatch import sniff_format

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("data/blob.bin", b"\x00\x01")
        assert sniff_format(buf.getvalue()) == "html"


class TestRefinedWebLines:
    """Round-5: RefinedWeb §G.2 line-wise filters (curation suite) —
    SHOUTING / numeric / counter / one-word navigation-residue lines
    removed per line, document dropped when the filters removed too
    much of it.  Pure JVM higher-order functions, zero shuffle."""

    def test_planted_families_and_verdicts(self, spark):
        from textextraction_spark.operators.curation import (
            RW_MIN_KEEP_FRAC,
            refinedweb_lines,
        )

        texts = {
            d: t
            for d, t in connect_duckdb(SF)
            .execute("select doc_id, text from documents")
            .fetchall()
        }
        rows = {r.doc_id: r for r in refinedweb_lines(spark, SF).collect()}
        for d, r in rows.items():
            fam = d % 5
            planted = (
                r.n_upper if fam == 0 else r.n_numeric if fam == 1
                else r.n_counter if fam == 2 else r.n_oneword if fam == 3
                else 0
            )
            # a SHORT doc's second content slice is a single word — the
            # one-word rule legitimately drops it (residue and content
            # are indistinguishable at that granularity)
            tail = texts[d][44:79]
            tail_oneword = 1 if tail and " " not in tail else 0
            if d % 10 == 5:  # the mostly-residue family
                assert (r.n_lines, r.n_upper, r.n_numeric) == (5, 2, 1), d
                assert not r.doc_keep, d
                assert r.keep_frac == round((2 - tail_oneword) / 5, 6), d
            else:
                assert r.n_lines == 3, d
                extra = tail_oneword if fam == 3 else 0
                assert planted == (0 if fam == 4 else 1) + extra, d
                if fam != 3:
                    assert r.n_oneword == tail_oneword, d
                kept = 3 - (0 if fam == 4 else 1) - tail_oneword
                assert r.keep_frac == round(kept / 3, 6), d
                assert r.doc_keep == (kept / 3 >= RW_MIN_KEEP_FRAC), d
            # cleaned text keeps only surviving lines, content first
            assert "SHARE THIS ARTICLE" not in r.cleaned
            assert "\nMenu" not in r.cleaned
            assert r.cleaned.count("\n") + 1 == round(
                r.keep_frac * r.n_lines
            ), d

    def test_first_match_categories_disjoint(self, spark):
        """A numeric line is also one-word; first-match order must
        count it once, as numeric (the %10==5 family's '4242')."""
        from textextraction_spark.operators.curation import refinedweb_lines

        r = {r.doc_id: r for r in refinedweb_lines(spark, SF).collect()}[5]
        assert r.n_numeric == 1 and r.n_oneword == 0

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.curation import (
            REFINEDWEB_LINES_ORACLE,
            refinedweb_lines,
        )

        got = refinedweb_lines(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(REFINEDWEB_LINES_ORACLE).df()
        problems = compare("refinedweb_lines", got, want)
        assert not problems, problems

    def test_zero_shuffle_plan(self, spark):
        from textextraction_spark.operators.curation import refinedweb_lines

        p = (
            refinedweb_lines(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert p.count("Exchange") == 0, p
        assert "EvalPython" not in p


class TestTemperatureMix:
    """Round-5: multilingual temperature sampling (mC4/XLM-R
    p_lang^(1/T)) with the UniMax epoch cap — the language twin of
    domain_mix, one tiny broadcast aggregate over a narrow corpus."""

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.packing import (
            TEMPERATURE_MIX_ORACLE,
            temperature_mix,
        )

        got = temperature_mix(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(TEMPERATURE_MIX_ORACLE).df()
        problems = compare("temperature_mix", got, want)
        assert not problems, problems

    def test_direction_and_expectation(self, spark):
        """The majority language downsamples, minorities upsample, and
        realized copies track the factor in expectation (the md5 coin
        is deterministic, so the realized mix is a fixed number)."""
        import math

        from textextraction_spark.operators.packing import (
            MIX_TEMPERATURE,
            temperature_mix,
        )

        df = temperature_mix(spark, SF).toPandas()
        by = df.groupby("lang")
        factors = by["factor"].first()
        toks = by["n_tokens"].sum().astype(float)
        assert factors["en"] < 1.0 < factors[toks.idxmin()]
        # T=1 identity check, recomputed from the same totals
        p = toks / toks.sum()
        q = p ** (1.0 / MIX_TEMPERATURE)
        q /= q.sum()
        for lang in factors.index:
            assert math.isclose(
                factors[lang], round(q[lang] / p[lang], 6), abs_tol=2e-6
            ), lang
        # realized copies within the coin's permille granularity
        for lang, grp in df.groupby("lang"):
            want = grp["factor"].iloc[0]
            got = grp["n_copies"].mean()
            assert abs(got - want) < 0.1, (lang, got, want)

    def test_unimax_cap_binds_on_extreme_skew(self, spark, tmp_path):
        """A near-empty language would get a huge factor under pure
        temperature scaling; the UniMax cap pins it at MAX_EPOCHS."""
        from textextraction_spark.operators.packing import (
            MAX_EPOCHS,
            temperature_mix,
        )

        rows = [(i, "en", "w " * 50) for i in range(1000)] + [
            (5000 + i, "xx", "w " * 5) for i in range(2)
        ]
        spark.createDataFrame(
            rows, "doc_id long, lang string, text string"
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        f = {
            r.lang: r.factor
            for r in temperature_mix(spark, str(tmp_path)).collect()
        }
        assert f["xx"] == MAX_EPOCHS  # capped, not ~8.9
        assert f["en"] < 1.01


class TestSitemapIndex:
    """Round-5: namespaced two-level sitemaps — <sitemapindex> parsed,
    child sitemap files dereferenced by absolute-url join, namespaced
    urlsets parsed with local-name() XPath (portable across
    namespace-aware processors; this build's xpath() is
    namespace-unaware, a measured fact noted in the module)."""

    def test_operator_matches_oracle(self, spark):
        from textextraction_spark.operators.scheduling import (
            SITEMAP_INDEX_FRONTIER_ORACLE,
            sitemap_index_frontier,
        )

        got = sitemap_index_frontier(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(
            SITEMAP_INDEX_FRONTIER_ORACLE
        ).df()
        problems = compare("sitemap_index_frontier", got, want)
        assert not problems, problems

    def test_dereference_is_load_bearing(self, spark):
        """Every entry arrives via a child sitemap named in the index
        (never the index itself), children split 2/1, and the
        never-crawled family is flagged new."""
        from textextraction_spark.operators.scheduling import (
            sitemap_index_frontier,
        )

        rows = sitemap_index_frontier(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.sitemap.endswith(("/sitemap1.xml", "/sitemap2.xml"))
            assert r.sitemap.startswith(f"https://{r.host}/")
        by_host = {}
        for r in rows:
            by_host.setdefault(r.host, []).append(r)
        for host, hr in by_host.items():
            c1 = [r for r in hr if r.sitemap.endswith("/sitemap1.xml")]
            c2 = [r for r in hr if r.sitemap.endswith("/sitemap2.xml")]
            assert len(c1) == 2 and len(c2) == 1, host
            assert all(r.is_new == 1 for r in c2), host  # 1e6-offset family


class TestCrawlDelay:
    """Round-5: the de-facto Crawl-delay directive composed into the
    politeness closed form — per-host d, star-group attribution,
    decoy directive in a non-star group ignored."""

    def test_matches_oracle(self, spark):
        from textextraction_spark.operators.scheduling import (
            CRAWL_DELAY_ORACLE,
            crawl_delay_schedule,
        )

        got = crawl_delay_schedule(spark, SF).toPandas()
        want = connect_duckdb(SF).execute(CRAWL_DELAY_ORACLE).df()
        problems = compare("crawl_delay_schedule", got, want)
        assert not problems, problems

    def test_directive_attribution_and_default(self, spark):
        """Even-length hosts carry 'Crawl-delay: 3' in the star group;
        odd-length hosts fall back to MIN_DELAY; googlebot's decoy
        'Crawl-delay: 99' must never leak into any host's schedule."""
        from textextraction_spark.operators.scheduling import (
            MIN_DELAY_US,
            crawl_delay_schedule,
        )

        df = crawl_delay_schedule(spark, SF).toPandas()
        per_host = df.groupby("host")["crawl_delay_us"].first()
        for host, d_us in per_host.items():
            want = (
                (1 + len(host) % 3) * 1_000_000
                if len(host) % 2 == 0
                else MIN_DELAY_US
            )
            assert d_us == want, (host, d_us)
        assert 99_000_000 not in set(df["crawl_delay_us"])

    def test_recurrence_matches_imperative(self, spark):
        """The closed form reproduces the sequential recurrence with
        the per-host d (the politeness proof, re-run at the new key)."""
        from textextraction_spark.operators.scheduling import (
            crawl_delay_schedule,
        )

        df = crawl_delay_schedule(spark, SF).toPandas()
        # recompute arrival tus from the url's doc_id (warc_ts formula)
        doc_id = df["url"].str.rsplit("/", n=1).str[1].astype(int)
        epoch_2026 = 1767225600
        df["tus"] = (epoch_2026 + doc_id) * 1_000_000
        for host, grp in df.groupby("host"):
            grp = grp.sort_values(["tus", "url"])
            d = int(grp["crawl_delay_us"].iloc[0])
            prev = None
            for tus, delay in zip(grp["tus"], grp["delay_us"]):
                start = tus if prev is None else max(tus, prev + d)
                assert delay == start - tus, host
                prev = start
