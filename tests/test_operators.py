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


class TestNewOperatorPlans:
    """Shuffle budget for `doc_keywords` and `lm_perplexity`, which are
    not gated queries and so are outside the SHUFFLE_BUDGETS table
    (tests/test_plans.py)."""

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
