"""Unit tests for the pure-Python kernel (SURVEY.md §5.2 item 3).

No Spark here — these pin the semantics the Spark layer vectorizes.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from textextraction_spark.core.boilerplate import extract_html
from textextraction_spark.core.dategrammar import find_first_date, recognize_date
from textextraction_spark.core.extract import extract_document
from textextraction_spark.core.gazetteer import find_org, find_person
from textextraction_spark.core.model import rect_to_pdf_points
from textextraction_spark.core.pdfblocks import parse_pdf
from textextraction_spark.core.spans import extract_spans
from textextraction_spark.core.textfilter import (
    SPECIAL_CHARS,
    has_special_characters,
    remove_special_characters,
)


# ---------------------------------------------------------------- P1 filter
class TestFilter:
    def test_keeps_allowed_set(self):
        s = "ab(#-@&$:/.,|)cd 12_3"
        assert remove_special_characters(s) == s

    def test_strips_specials_and_rtrims(self):
        assert remove_special_characters("a*b!c?  ") == "abc"
        assert remove_special_characters("x%^=+[]{}y") == "xy"

    def test_preserves_leading_ws(self):
        assert remove_special_characters("  a! ") == "  a"

    @given(st.text(st.characters(max_codepoint=127)) | st.text())
    @settings(max_examples=300, deadline=None)
    def test_has_special_characters_is_the_regex(self, s):
        assert has_special_characters(s) == (SPECIAL_CHARS.search(s) is not None)


# ------------------------------------------------------------- date grammar
class TestDateGrammar:
    @pytest.mark.parametrize(
        "text,expect",
        [
            ("DOB 01/02/1980", "01/02/1980"),
            ("x 9/5/2021 y", "9/5/2021"),
            ("12-31-1999", "12-31-1999"),
            ("Date of Birth: March 5, 1975 ok", "March 5, 1975"),
            ("JAN 02, 2020", "JAN 02, 2020"),
            ("due 13/01/2020", ""),  # 13 invalid month; \b blocks partial match
            ("no date here", ""),
            ("v1.2 released 2020", ""),
        ],
    )
    def test_cases(self, text, expect):
        assert recognize_date(text) == expect

    def test_first_match_wins(self):
        got = find_first_date("a 01/01/2001 b 02/02/2002")
        assert got is not None and got[0] == "01/01/2001"


# ---------------------------------------------------------------- gazetteer
class TestGazetteer:
    def test_person_and_boundaries(self):
        assert find_person("PATIENT NAME: JAMES SMITH JR")[0] == "JAMES SMITH"
        assert find_person("XJAMES SMITH") is None or find_person("XJAMES SMITH")[0] != "JAMES SMITH"

    def test_golden_vendors(self):
        for v in ("J.J. MARIN, LLC", "COMFREIGHT HAULPAY", "RTS FINANCIAL SERVICE, INC"):
            assert find_org(f"FROM {v} THANKS")[0] == v


# ------------------------------------------------------------- boilerplate
SHELL = """<html><head><title>T</title><script>junk()</script></head><body>
<nav><a href=/>A</a> <a href=/b>B</a> <a href=/c>C</a></nav>
<div><ul><li><a href=/1>ad</a></li><li><a href=/2>ad</a></li></ul></div>
{main}
<footer><a href=/x>x</a> <a href=/y>y</a> <a href=/z>z</a></footer>
</body></html>"""

SHELL2 = """<html><body><header><a href=/>H</a> <a href=/2>H2</a> <a href=/3>H3</a></header>
<aside>side <a href=/s>links</a> <a href=/t>here</a> <a href=/u>now</a></aside>
<main>{main}</main></body></html>"""


class TestBoilerplate:
    def test_strips_shell_keeps_main(self):
        doc = extract_html(SHELL.format(main="<p>alpha beta gamma</p>").encode())
        assert doc.text() == "alpha beta gamma"

    def test_shell_invariance(self):
        """FIXTURES.md §4 invariant 4: different shell, same main content,
        identical extracted text."""
        main = "<p>one two three</p><p>four five six</p>"
        a = extract_html(SHELL.format(main=main).encode()).text()
        b = extract_html(SHELL2.format(main=main).encode()).text()
        assert a == b == "one two three\nfour five six"

    def test_link_farm_div_dropped(self):
        html = SHELL.format(
            main="<p>real content words here</p>"
            '<div><a href=/1>buy</a> <a href=/2>now</a> <a href=/3>cheap</a></div>'
        )
        assert extract_html(html.encode()).text() == "real content words here"

    def test_malformed_unclosed(self):
        doc = extract_html(b"<html><body><p>unclosed paragraph text")
        assert doc.text() == "unclosed paragraph text"

    def test_empty_body(self):
        assert extract_html(b"<html><body></body></html>").text() == ""

    def test_non_utf8_latin1(self):
        doc = extract_html("<p>caf\xe9 m\xfcnchen</p>".encode("latin-1"))
        assert doc.text() == "caf\xe9 m\xfcnchen"

    def test_confidence_ratio(self):
        doc = extract_html(SHELL.format(main="<p>w1 w2 w3 w4</p>").encode())
        assert 0.0 < doc.confidence < 1.0

    def test_offsets_and_words(self):
        doc = extract_html(b"<p>aa bb</p><p>cc</p>")
        t = doc.text()
        for ln in doc.lines:
            assert t[ln.start : ln.end] == ln.text
            for w in ln.words:
                assert t[w.start : w.end] == w.text


# --------------------------------------------------------------- PDF blocks
class TestPdf:
    def _pdf(self, blocks):
        body = "".join(f"BT {x} {y} Td ({t}) Tj ET\n" for x, y, t in blocks)
        return f"%PDF-1.4\n1 0 obj\nstream\n{body}endstream\n%%EOF".encode()

    def test_reading_order_sort(self):
        data = self._pdf([(50, 100, "bottom"), (300, 700, "top right"), (50, 700, "top left")])
        doc = parse_pdf(data)
        assert doc.text() == "top left\ntop right\nbottom"

    def test_multi_page(self):
        p1 = "BT 10 700 Td (page one) Tj ET\n"
        p2 = "BT 10 700 Td (page two) Tj ET\n"
        data = f"%PDF-1.4\n{p1}%%PageBreak\n{p2}%%EOF".encode()
        doc = parse_pdf(data)
        assert [p.page_no for p in doc.pages] == [1, 2]
        assert doc.text() == "page one\npage two"

    def test_rect_emitted(self):
        doc = parse_pdf(self._pdf([(100, 200, "hello")]))
        spanstr = rect_to_pdf_points(doc.lines[0].bbox)
        assert spanstr.startswith("24.00,48.00,")

    def test_hex_strings(self):
        """<hex> Tj and hex members inside TJ arrays; whitespace inside
        the hex run and odd digit counts are legal (trailing 0 pad)."""
        body = (
            "BT 10 700 Td <68656c 6c6f> Tj ET\n"
            "BT 10 300 Td [(wo) -250 <726c64>] TJ ET\n"
            "BT 10 100 Td <7> Tj ET\n"  # odd count -> 0x70 = 'p'
        )
        data = f"%PDF-1.4\nstream\n{body}endstream\n%%EOF".encode()
        assert parse_pdf(data).text() == "hello\nworld\np"

    def test_relative_td_td_tstar_chaining(self):
        """Td is RELATIVE to the previous line start; TD sets leading;
        T* advances one leading down — the standard multi-line form."""
        body = (
            "BT 72 700 Td (line one) Tj"
            " 0 -400 Td (line two) Tj"  # 700-400 = 300
            " ET\n"
            "BT 300 TL 72 650 Td (a) Tj T* (b) Tj T* (c) Tj ET\n"
            # a at 650, b at 350, c at 50
        )
        data = f"%PDF-1.4\nstream\n{body}endstream\n%%EOF".encode()
        doc = parse_pdf(data)
        assert doc.text() == "line one\na\nb\nline two\nc"
        ys = [ln.bbox[1] for ln in doc.lines]
        assert ys == [700, 650, 350, 300, 50]

    def test_td_sets_leading(self):
        """tx ty TD == set leading to -ty, then move — T* after it
        advances by that leading."""
        body = "BT 72 700 TD (x) Tj 0 -250 TD (y) Tj T* (z) Tj ET\n"
        # x at 700; y at 450 (leading now 250); z at 200
        data = f"%PDF-1.4\nstream\n{body}endstream\n%%EOF".encode()
        doc = parse_pdf(data)
        assert doc.text() == "x\ny\nz"
        assert [ln.bbox[1] for ln in doc.lines] == [700, 450, 200]

    def test_real_number_forms_in_positioning(self):
        """PDF reals admit '+5', '.5', and '5.' (32000-1 §7.3.3); a
        dropped number desyncs the operand stack and silently skips the
        positioning op."""
        body = (
            "BT 1 0 0 1 +72 700. Tm (top) Tj ET\n"
            "BT .5 0 0 .5 72 300 Tm (bottom) Tj ET\n"
        )
        data = f"%PDF-1.4\nstream\n{body}endstream\n%%EOF".encode()
        doc = parse_pdf(data)
        assert doc.text() == "top\nbottom"
        assert [ln.bbox[:2] for ln in doc.lines] == [(72, 700), (72, 300)]

    def test_consecutive_shows_join_without_move(self):
        body = "BT 72 700 Td (alpha) Tj (beta) Tj ET\n"
        data = f"%PDF-1.4\nstream\n{body}endstream\n%%EOF".encode()
        assert parse_pdf(data).text() == "alpha beta"

    def test_realistic_file_structure_with_xref(self):
        """A structurally realistic PDF — catalog/pages/page objects, the
        content stream as a numbered object with /Length, an xref table
        and trailer — extracts identically: the linear BT..ET scan +
        generic flate inflation make the xref machinery transparent (we
        never need to walk it for text)."""
        import zlib

        content = (
            b"BT 72 700 Td (Real structure) Tj 0 -400 Td (second line) Tj ET\n"
        )
        payload = zlib.compress(content)
        objs = [
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n",
            b"4 0 obj\n<< /Filter /FlateDecode /Length "
            + str(len(payload)).encode()
            + b" >>\nstream\n"
            + payload
            + b"\nendstream\nendobj\n",
        ]
        pdf = b"%PDF-1.4\n"
        offsets = []
        for o in objs:
            offsets.append(len(pdf))
            pdf += o
        xref_pos = len(pdf)
        pdf += b"xref\n0 5\n0000000000 65535 f \n" + b"".join(
            f"{off:010d} 00000 n \n".encode() for off in offsets
        )
        pdf += (
            b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n"
            + str(xref_pos).encode()
            + b"\n%%EOF"
        )
        doc = parse_pdf(pdf)
        assert doc.text() == "Real structure\nsecond line"
        assert doc.confidence == 1.0

    def test_flate_dict_with_nested_decodeparms(self):
        """A stream dict containing a nested << >> (e.g. /DecodeParms)
        must still be recognized as FlateDecode."""
        import zlib

        body = "BT 10 700 Td (nested dict) Tj ET\n"
        payload = zlib.compress(body.encode())
        data = (
            b"%PDF-1.4\n<< /Filter /FlateDecode /DecodeParms << /Predictor 1 >> "
            b"/Length " + str(len(payload)).encode() + b" >>\nstream\n"
            + payload + b"\nendstream\n%%EOF"
        )
        assert parse_pdf(data).text() == "nested dict"


# ------------------------------------------------------------ span extract
class TestPdfQuoteOps:
    """PDF 9.4.3 compact show operators: (s) ' = T*-then-show and
    aw ac (s) \" = set-spacing-then-T*-then-show, with leading re-sets
    mid-block — the per-line form older producers emit."""

    def test_quote_operators_advance_by_leading(self):
        pdf = (
            b"%PDF-1.4\nstream\nBT 400 TL 72 700 Td (first line) Tj"
            b" (second line) ' 200 TL 1 2 (third line) \" ET\n"
            b"endstream\n%%EOF"
        )
        d = parse_pdf(pdf)
        assert d.text() == "first line\nsecond line\nthird line"

    def test_quote_without_string_is_noop(self):
        pdf = b"%PDF-1.4\nstream\nBT 72 700 Td (x words) Tj ' ET\nendstream\n%%EOF"
        assert parse_pdf(pdf).text() == "x words"


class TestSpans:
    def _doc(self, *lines):
        html = "".join(f"<p>{ln}</p>" for ln in lines)
        return extract_html(html.encode())

    def test_invoice_fields_first_match_wins(self):
        doc = self._doc(
            "INVOICE 4329",
            "INVOICE DATE 09/23/2020",
            "DUE DATE 10/01/2030",
            "LOAD REF48215X",
            "TOTAL $1,250.00",
            "INVOICE 9999",  # later duplicate must lose
            "TOTAL $9.99",
        )
        spans = {s.field: s for s in extract_spans(doc)}
        assert spans["invoice.number"].text == "4329"
        assert spans["invoice.date"].text == "09/23/2020"
        assert spans["invoice.order_number"].text == "REF48215X"
        assert spans["invoice.total"].text == "$1,250.00"

    def test_due_date_not_invoice_date(self):
        doc = self._doc("DUE DATE 10/01/2030")
        assert "invoice.date" not in {s.field for s in extract_spans(doc)}

    def test_rate_amount(self):
        doc = self._doc("RATE $980")
        spans = {s.field: s for s in extract_spans(doc)}
        assert spans["invoice.total"].text == "$980"

    def test_balance_due_amount(self):
        doc = self._doc("BALANCE DUE $12,345.67")
        spans = {s.field: s for s in extract_spans(doc)}
        assert spans["invoice.total"].text == "$12,345.67"

    def test_medical_gate_blocks_ungated_person(self):
        """A person on a line without a patient key must NOT extract
        (the gate at Worker.cs:220 is part of the semantics)."""
        doc = self._doc("CONTACT JAMES SMITH TODAY")
        assert "patient.name" not in {s.field for s in extract_spans(doc)}

    def test_medical_fields(self):
        doc = self._doc(
            "CONTACT MARY JONES TODAY",  # decoy: no key
            "Patient Name: JAMES SMITH",
            "DOB 01/02/1980",
        )
        spans = {s.field: s for s in extract_spans(doc)}
        assert spans["patient.name"].text == "JAMES SMITH"
        assert spans["patient.birth_date"].text == "01/02/1980"

    def test_span_offsets_valid(self):
        doc = self._doc("filler words", "INVOICE 77", "TOTAL $5.00")
        text = doc.text()
        for s in extract_spans(doc):
            assert text[s.start : s.end] == s.text

    def test_invoice_number_not_matched_by_invoice_date_line(self):
        doc = self._doc("INVOICE DATE 09/23/2020")
        spans = {s.field: s for s in extract_spans(doc)}
        assert "invoice.number" not in spans  # \W+ can't cross "DATE"
        assert spans["invoice.date"].text == "09/23/2020"


# -------------------------------------------------------- property tests
WORDS = st.lists(
    st.text(alphabet="abcdefghij", min_size=1, max_size=8), min_size=1, max_size=30
)


class TestProperties:
    @given(WORDS)
    @settings(max_examples=50, deadline=None)
    def test_shell_injection_invariance(self, words):
        main = "<p>" + " ".join(words) + "</p>"
        a = extract_html(SHELL.format(main=main).encode()).text()
        b = extract_html(SHELL2.format(main=main).encode()).text()
        assert a == b == " ".join(words)

    @given(WORDS)
    @settings(max_examples=50, deadline=None)
    def test_idempotence(self, words):
        """extract(wrap(extract(x))) is stable (SURVEY.md §5.2 item 4)."""
        main = "<p>" + " ".join(words) + "</p>"
        t1 = extract_html(SHELL.format(main=main).encode()).text()
        t2 = extract_html(f"<p>{t1}</p>".encode()).text()
        assert t1 == t2

    @given(st.binary(max_size=400))
    @settings(max_examples=50, deadline=None)
    def test_never_raises(self, data):
        r = extract_document(data)
        assert r.error == "" or r.extracted_text == ""

    @given(WORDS)
    @settings(max_examples=30, deadline=None)
    def test_transport_invariance(self, words):
        """gzip / BOM transport wrapping never changes extraction output
        (north_rule: pure function of the underlying document)."""
        import gzip

        html = ("<p>" + " ".join(words) + "</p>").encode()
        base = extract_document(html)
        for payload in (gzip.compress(html, mtime=0), b"\xef\xbb\xbf" + html):
            r = extract_document(payload)
            assert r.extracted_text == base.extracted_text
            assert [vars(s) for s in r.spans] == [vars(s) for s in base.spans]

    @given(WORDS)
    @settings(max_examples=30, deadline=None)
    def test_offsets_always_valid(self, words):
        main = "".join(f"<p>{w}</p>" for w in words)
        doc = extract_html(main.encode())
        t = doc.text()
        for ln in doc.lines:
            assert t[ln.start : ln.end] == ln.text


# -------------------------------------------- fast vs stdlib parser parity
from textextraction_spark.core.dom import parse_blocks  # noqa: E402


def _blockkey(bs):
    return [(b.text, b.n_words, b.n_link_words, b.boiler_ancestor) for b in bs]


class TestParserParity:
    """The fast regex scanner must match the html.parser oracle
    block-for-block (dom.py dual front-end contract)."""

    CASES = [
        b"<p>plain</p>",
        b"<a href=/>L</a> after",
        b"<p/>selfclosed block",
        b"<br/><p>x</p><img src=y title='a>b'/>",
        b"<script>var x = '</p>';</script><p>real</p>",
        b"<!-- comment --><p>a &amp; b &lt;c&gt;</p>",
        b"<P CLASS='z'>UPPER</P>",
        b"<p>unclosed",
        b"<div><ul><li><a href='/x'>l1</a></li></ul></div>",
        "<p>caf\xe9 üml</p>".encode("latin-1"),
        b"\x00\xffgarbage<<>>",
        b"<nav><a href=/1>a</a> <a href=/2>b</a></nav><main><p>keep</p></main>",
        b"<p>a</p><script/><p>after</p>",
        b"<p>a<script>x</SCRIPT >b</p><p>c</p>",
        b"<p>a</p><script>var x = 1; <p>never",
        b"<p><a href=/>home</a> text</p>",
        b"<p>plain</p><p>bad \xff byte</p><p>more</p>",
        b"<script><!-- </script><p>close tag inside a comment match</p>",
        b"<style>a{}</style><p>s</p><script>b</script><p>t</p>",
        b'<script src="x" /><p>after</p>',
        b"<script a=/>x</script><p>y</p>",
        b"<p>a</p><script type=x>b",
        b"<style media='a>b'>x{}</style><p>s</p>",
        b"<script/x>y</script><p>z</p>",
        b"<p>a</p><script>x</style><p>b</p>",
        b"<scripts>x</scripts><p>y</p>",
        b"<script a />x</script><p>y</p>",
        b'<script a="x" />y<p title="z">w</p>',
    ]

    @pytest.mark.parametrize("case", CASES)
    def test_fixed_cases(self, case):
        assert _blockkey(parse_blocks(case, "fast")) == _blockkey(
            parse_blocks(case, "stdlib")
        )

    @given(WORDS)
    @settings(max_examples=60, deadline=None)
    def test_generated_docs(self, words):
        html = SHELL.format(main="<p>" + " ".join(words) + "</p>").encode()
        assert _blockkey(parse_blocks(html, "fast")) == _blockkey(
            parse_blocks(html, "stdlib")
        )

    @pytest.mark.parametrize("unit", [b"<script></script>", b"<script><!--</script>"])
    def test_rawtext_elements_are_tokenized_once(self, monkeypatch, unit):
        """A 1 MB page of script elements, even ones whose body opens an
        unterminated comment, is one split of the page with one match
        per element: no script body is tokenized, and no byte twice."""
        from textextraction_spark.core import dom

        real = dom._TAG_RE
        splits = []

        class CountingSplit:
            def split(self, s, maxsplit=0):
                out = real.split(s, maxsplit)
                splits.append((len(s), len(out)))
                return out

        monkeypatch.setattr(dom, "_TAG_RE", CountingSplit())
        k = (1 << 20) // len(unit)
        data = unit * k + b"<p>after</p>"
        assert [b.text for b in parse_blocks(data, "fast")] == ["after"]
        # a text chunk, then per match its groups and the chunk after it
        assert splits == [(len(data), 1 + dom._STRIDE * (k + 2))]

    @pytest.mark.parametrize("matches", [1, 2, 3])
    def test_split_in_rounds(self, monkeypatch, matches):
        """A tag-dense page is split a bounded number of matches at a
        time; rounds of any size give the same blocks."""
        from textextraction_spark.core import dom

        monkeypatch.setattr(dom, "_SPLIT_MATCHES", matches)
        extra = [b"<p>a</p><script></script><p>b</p>", SHELL.format(main="<p>a</p>").encode()]
        for case in self.CASES + extra:
            assert _blockkey(parse_blocks(case, "fast")) == _blockkey(
                parse_blocks(case, "stdlib")
            ), case

    def test_scanner_fault_is_an_error_not_partial_text(self, monkeypatch):
        """A fast-scanner fault after some blocks reached the sink must
        surface as the row's error with empty text, never as a row whose
        text is a prefix of the page and whose error is empty."""
        from textextraction_spark.core import dom

        def faulty_scan(data, sink):
            sink.start("p")
            sink.text("partial words here")
            sink.end("p")
            raise RuntimeError("scanner fault")

        monkeypatch.setattr(dom, "_scan_fast", faulty_scan)
        r = extract_document(b"<p>x</p>")
        assert r.error == "RuntimeError: scanner fault"
        assert r.extracted_text == ""


class TestExtendedDateGrammar:
    """D3 (ISO) and D4 (day-first) additions to the frozen grammar."""

    @pytest.mark.parametrize(
        "text,expect",
        [
            ("invoice date 2020-09-23 net", "2020-09-23"),
            ("born 5 March 1975 in", "5 March 1975"),
            ("on 23rd Sep, 2020 we", "23rd Sep, 2020"),
            ("v2020-13-01 not a date", ""),
            ("meeting 2020-09-23 then 01/01/2001", "2020-09-23"),
        ],
    )
    def test_cases(self, text, expect):
        assert recognize_date(text) == expect


# ------------------------------------------------- transport normalization
class TestNormalizeBytes:
    HTML = b"<body><p>hello main content words here</p></body>"

    def test_gzip_payload_extracts_identically(self):
        import gzip

        from textextraction_spark.core.extract import normalize_bytes

        plain = extract_document(self.HTML)
        gz = extract_document(gzip.compress(self.HTML, mtime=0))
        assert gz.extracted_text == plain.extracted_text
        assert normalize_bytes(gzip.compress(b"x", mtime=0)) == b"x"

    def test_bom_stripped(self):
        plain = extract_document(self.HTML)
        bom = extract_document(b"\xef\xbb\xbf" + self.HTML)
        assert bom.extracted_text == plain.extracted_text
        assert not bom.extracted_text.startswith("﻿")

    def test_gzipped_pdf_routes_to_pdf_path(self):
        import gzip

        pdf = b"%PDF-1.4\nstream\nBT 72 700 Td (alpha beta) Tj ET\nendstream\n%%EOF"
        r = extract_document(gzip.compress(pdf, mtime=0))
        assert r.is_pdf and r.extracted_text == "alpha beta"

    def test_corrupt_gzip_surfaces_error(self):
        """Compressed junk must never be parsed as HTML 'content': corrupt
        gzip lands in the error column with NO extracted text."""
        r = extract_document(b"\x1f\x8bnot really gzip")
        assert r.extracted_text == ""
        assert "TransportError" in r.error

    def test_multi_member_gzip_concatenates(self):
        """WARC payloads may be multiple concatenated gzip members —
        gzip.decompress semantics, not first-member-only."""
        import gzip

        m1 = gzip.compress(b"<body><p>alpha beta gamma", mtime=0)
        m2 = gzip.compress(b" delta epsilon</p></body>", mtime=0)
        joined = extract_document(m1 + m2)
        plain = extract_document(b"<body><p>alpha beta gamma delta epsilon</p></body>")
        assert joined.error == ""
        assert joined.extracted_text == plain.extracted_text

    def test_gzip_member_plus_trailing_garbage_rejected(self):
        import gzip

        payload = gzip.compress(b"<p>x</p>", mtime=0) + b"JUNK"
        r = extract_document(payload)
        assert r.extracted_text == "" and "TransportError" in r.error


class TestCharsetSniff:
    """HTML5 encoding sniff (core/extract.py normalize_charset): BOM >
    declared <meta charset>; unknown/identity declarations are no-ops;
    crawl dirt never raises.  Real Common-Crawl HTML is routinely
    windows-125x / Shift_JIS / UTF-16 — without the sniff these pages
    become latin-1 mojibake 'content'."""

    def _text(self, payload: bytes) -> str:
        return extract_document(payload).extracted_text

    def test_meta_cp1251_decodes_cyrillic(self):
        html = (
            '<meta http-equiv="Content-Type" '
            'content="text/html; charset=windows-1251">'
            "<body><p>привет мир ОТЧЁТ № 9</p></body>"
        )
        assert self._text(html.encode("windows-1251")) == "привет мир ОТЧЁТ № 9"

    def test_meta_shift_jis_decodes(self):
        html = "<meta charset=shift_jis><body><p>日本語のテキストです</p></body>"
        assert self._text(html.encode("shift_jis")) == "日本語のテキストです"

    def test_utf16_le_bom(self):
        import codecs

        html = "<body><p>déjà vu naïve café</p></body>"
        payload = codecs.BOM_UTF16_LE + html.encode("utf-16-le")
        assert self._text(payload) == "déjà vu naïve café"

    def test_utf16_be_bom(self):
        import codecs

        html = "<body><p>ascii words here</p></body>"
        payload = codecs.BOM_UTF16_BE + html.encode("utf-16-be")
        assert self._text(payload) == "ascii words here"

    def test_bom_outranks_conflicting_meta(self):
        """whatwg precedence: a UTF-16 BOM wins over a (wrong) declared
        meta charset."""
        import codecs

        html = "<meta charset=windows-1251><body><p>résumé text</p></body>"
        payload = codecs.BOM_UTF16_LE + html.encode("utf-16-le")
        assert self._text(payload) == "résumé text"

    def test_gzip_then_utf16(self):
        """Transport layers compose: gunzip first, then charset sniff."""
        import codecs
        import gzip

        html = "<body><p>compressed déjà words</p></body>"
        payload = gzip.compress(
            codecs.BOM_UTF16_LE + html.encode("utf-16-le"), mtime=0
        )
        assert self._text(payload) == "compressed déjà words"

    def test_declared_utf8_is_noop(self):
        from textextraction_spark.core.extract import normalize_charset

        b = '<meta charset="utf-8"><body><p>x words</p></body>'.encode()
        assert normalize_charset(b) is b

    def test_unknown_label_keeps_bytes(self):
        from textextraction_spark.core.extract import normalize_charset

        b = b'<meta charset="x-no-such-charset"><body><p>ok words</p></body>'
        assert normalize_charset(b) is b
        assert self._text(b) == "ok words"

    def test_misdeclared_charset_never_raises(self):
        """A page declaring cp1251 but carrying bytes undefined in cp1251
        (0x98) must extract with replacement, not crash the batch."""
        payload = b"<meta charset=windows-1251><body><p>bad \x98 byte</p></body>"
        r = extract_document(payload)
        assert r.error == ""
        assert "bad" in r.extracted_text and "byte" in r.extracted_text

    def test_pdf_bytes_never_transcoded(self):
        from textextraction_spark.core.extract import normalize_bytes

        pdf = b"%PDF-1.4\nstream\nBT 72 700 Td (charset=x \xff) Tj ET\nendstream\n%%EOF"
        assert normalize_bytes(pdf) is pdf

    @settings(max_examples=60, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("C",), exclude_characters="<>&"
            ),
            min_size=1,
            max_size=80,
        ),
        st.sampled_from(["utf-16-le", "utf-16-be", "windows-1251", "shift_jis"]),
    )
    def test_roundtrip_property(self, words, codec):
        """ANY text a codec can represent, served in that codec (BOM for
        UTF-16, meta declaration otherwise), must extract char-identical
        to the CODEC'S OWN round-trip of that text served as UTF-8.

        The round-trip on the expectation side matters: a codec can be
        encode/decode-ASYMMETRIC — Shift_JIS maps U+00A5 (yen) to byte
        0x5C, which every Python consumer decodes back as backslash
        (the classic 0x5C ambiguity; same for U+203E/0x7E).  The engine
        must agree with Python's decoder, not with the pre-encode
        original (hypothesis found '¥' in round 5)."""
        import codecs as C

        text = " ".join(words.split())  # canonical spacing survives the DOM
        if not text:
            return
        try:
            if codec.startswith("utf-16"):
                bom = C.BOM_UTF16_LE if codec.endswith("le") else C.BOM_UTF16_BE
                html = f"<body><p>{text}</p></body>"
                payload = bom + html.encode(codec)
                text_rt = text
            else:
                text_rt = text.encode(codec).decode(codec)
                if any(ch in text_rt for ch in "<>&"):
                    return  # round-trip produced markup chars: not this case
                payload = (
                    f"<meta charset={codec}><body><p>{text}</p></body>"
                ).encode(codec)
        except UnicodeEncodeError:
            return  # text outside the codec's repertoire: not this case
        twin = f"<body><p>{text_rt}</p></body>".encode("utf-8")
        want = extract_document(twin).extracted_text
        got = extract_document(payload).extracted_text
        assert got == want

    def test_meta_utf16_label_means_utf8(self):
        """whatwg prescan: a BOM-less document whose <meta> was readable
        as ASCII-compatible bytes cannot BE UTF-16 — the label must be
        read as UTF-8, not honored literally (review finding: honoring
        it turned valid pages into CJK garbage)."""
        for label in ("utf-16", "utf-16le", "utf-16be", "utf-32"):
            payload = (
                f"<meta charset={label}><body><p>plain english words</p></body>"
            ).encode("utf-8")
            assert self._text(payload) == "plain english words", label

    def test_charset_mention_in_comment_ignored(self):
        """Prescan skips comments: a commented-out legacy declaration
        must not override the real one (review finding)."""
        payload = (
            b"<!-- <meta charset=shift_jis> -->"
            b"<meta charset=utf-8><body><p>d\xc3\xa9j\xc3\xa0 page</p></body>"
        )
        assert self._text(payload) == "déjà page"

    def test_charset_mention_in_attribute_value_ignored(self):
        """Only a charset attribute or an http-equiv Content-Type content
        attribute counts — 'charset=' inside a meta DESCRIPTION is page
        text about charsets, not a declaration (review finding)."""
        payload = (
            b'<meta name="description" '
            b'content="how to set charset=koi8-r in pages">'
            b"<body><p>d\xc3\xa9j\xc3\xa0 valid utf-8</p></body>"
        )
        assert self._text(payload) == "déjà valid utf-8"

    def test_x_user_defined_maps_to_cp1252(self):
        """Encoding Standard: x-user-defined is decoded like a
        windows-1252 superset for legacy pages."""
        payload = b"<meta charset=x-user-defined><body><p>caf\xe9 legacy</p></body>"
        assert self._text(payload) == "café legacy"

    def test_meta_outside_prescan_window_ignored(self):
        """The sniff reads a bounded prefix (O(1) per doc at crawl scale);
        a declaration buried past it falls back to utf-8/latin-1."""
        from textextraction_spark.core.extract import normalize_charset

        filler = b"<!--" + b"x" * 2100 + b"-->"
        b = filler + b"<meta charset=windows-1251><p>late words</p>"
        assert normalize_charset(b) is b


class TestFlateDecodePdf:
    TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu"

    def test_flate_stream_extracts_identically(self):
        """doc_id 40 stores FlateDecode-compressed, doc_id 60 raw — same
        text formula, byte-identical extraction (storage is transport)."""
        from textextraction_spark.sources.pages import make_pdf_bytes

        from textextraction_spark.sources.pages import total_amount_str

        flate = make_pdf_bytes(self.TEXT, doc_id=40)
        raw = make_pdf_bytes(self.TEXT, doc_id=0)  # same %40 family, raw
        assert b"/FlateDecode" in flate and b"/FlateDecode" not in raw
        assert b"BT" not in flate.split(b"stream", 1)[1].split(b"endstream")[0]
        rf, rr = extract_document(flate), extract_document(raw)
        assert rf.error == ""
        # identical layout up to the doc_id-dependent TOTAL amount
        assert rf.extracted_text.replace(
            total_amount_str(40), "$AMT"
        ) == rr.extracted_text.replace(total_amount_str(0), "$AMT")
        # doc 40 also carries the TOTAL block -> span + rect on flate path
        assert any(s.field == "invoice.total" for s in rf.spans)

    def test_compressed_multipage(self):
        from textextraction_spark.sources.pages import make_pdf_bytes

        # doc_id 100: % 40 == 20 (two pages) AND % 60 == 40 (compressed;
        # the %240==100 residue stores LZWDecode — round 5's filter split)
        lzw = make_pdf_bytes(self.TEXT, doc_id=100)
        plain = make_pdf_bytes(self.TEXT, doc_id=20)
        assert b"/LZWDecode" in lzw and b"/FlateDecode" not in lzw
        rf, rp = extract_document(lzw), extract_document(plain)
        assert rf.error == ""
        assert rf.extracted_text == rp.extracted_text
        assert len(rf.doc.pages) == 2

    def test_corrupt_flate_surfaces_error(self):
        bad = (
            b"%PDF-1.4\n<< /Filter /FlateDecode /Length 9 >>\nstream\n"
            b"notzlib!!\nendstream\n%%EOF"
        )
        r = extract_document(bad)
        assert r.extracted_text == "" and "FlateDecode" in r.error

    def test_length_slices_binary_payload(self):
        """The /Length is authoritative: zlib bytes containing the literal
        'endstream' token must not truncate the stream."""
        import zlib

        from textextraction_spark.core.pdfblocks import parse_pdf

        body = b"BT 72 700 Td (endstream trick works) Tj ET\n"
        # craft payload by compressing until the token appears... instead,
        # verify robustness directly: inject the token into the dict-free
        # fallback is NOT used when /Length present.
        payload = zlib.compress(body)
        pdf = (
            b"%PDF-1.4\n<< /Filter /FlateDecode /Length "
            + str(len(payload)).encode()
            + b" >>\nstream\n"
            + payload
            + b"\nendstream\n%%EOF"
        )
        doc = parse_pdf(pdf)
        assert doc.text() == "endstream trick works"


class TestPdfStreamFilters:
    """Round-5 close-out: the five standard non-image stream filters
    (PDF 32000-1 §7.4) and left-to-right chains.  Extracted text is
    invariant across storage forms, so every text/rect oracle
    transitively gates every decode path."""

    TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"

    def test_all_filter_forms_extract_identically(self):
        from textextraction_spark.sources.pages import (
            make_pdf_bytes,
            total_amount_str,
        )

        def norm(d, t):
            return t.replace(total_amount_str(d), "$AMT")

        base = norm(0, extract_document(
            make_pdf_bytes(self.TEXT, 0)).extracted_text)
        base2 = extract_document(make_pdf_bytes(self.TEXT, 20)).extracted_text
        for d, token in (
            (40, b"/FlateDecode"),
            (100, b"/LZWDecode"),
            (160, b"[/ASCII85Decode /FlateDecode]"),
            (220, b"[/ASCIIHexDecode /RunLengthDecode]"),
        ):
            pdf = make_pdf_bytes(self.TEXT, d)
            assert token in pdf, d
            r = extract_document(pdf)
            assert r.error == "", (d, r.error)
            if d % 40 == 20:
                assert r.extracted_text == base2, d
            else:
                assert norm(d, r.extracted_text) == base, d

    def test_filter_primitives(self):
        """Each decoder against hand-built §7.4 streams, including the
        EOD conventions and the hex odd-digit pad.  The LZW cases: the
        20k-random input walks every early-change width bump
        (9->10->11->12) and a 4094-entry ClearCode table reset; the
        compressible shapes exercise long matches and the KwKwK corner;
        every truncation raises."""
        import zlib

        import numpy as np

        from textextraction_spark.core.pdfblocks import (
            _ascii85_decode,
            _ascii_hex_decode,
            _apply_filters,
            _lzw_decode_pdf,
            _runlength_decode,
        )
        from textextraction_spark.sources.pages import _lzw_encode

        assert _ascii_hex_decode(b"48 65 6C6C 6F>") == b"Hello"
        assert _ascii_hex_decode(b"7>") == b"p"  # odd digit pads with 0
        assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
        assert _ascii85_decode(b"87cURD]j7B~>") == b"Hello wo"
        assert _ascii85_decode(b"87cUR~>") == b"Hell"  # partial final group
        assert _runlength_decode(b"\x02abc\xfeZ\x80") == b"abc" + b"Z" * 3
        rng = np.random.RandomState(11)
        for data in (
            bytes(range(256)) * 5 + b"aaaaaaaa" * 40,
            b"",
            b"A",
            b"A" * 500,
            b"AB" * 4000,
            bytes(range(256)) * 40,
            bytes(rng.randint(0, 256, 20000, dtype=np.uint8)),
            bytes(rng.randint(0, 4, 30000, dtype=np.uint8)),
        ):
            assert _lzw_decode_pdf(_lzw_encode(data)) == data
        full = _lzw_encode(bytes(rng.randint(0, 256, 400, dtype=np.uint8)))
        for cut in range(0, len(full) - 1, 7):
            with pytest.raises(ValueError):
                _lzw_decode_pdf(full[:cut])
        # chain order is left-to-right
        payload = zlib.compress(b"chained", 6)
        import base64

        wrapped = base64.a85encode(payload) + b"~>"
        assert _apply_filters(
            wrapped, ["ASCII85Decode", "FlateDecode"]
        ) == b"chained"

    def test_corrupt_streams_name_the_filter(self):
        pdfs = {
            "LZWDecode": (
                b"%PDF-1.4\n<< /Filter /LZWDecode /Length 4 >>\nstream\n"
                b"\xff\xff\xff\xff\nendstream\n%%EOF"
            ),
            "ASCII85Decode": (
                b"%PDF-1.4\n<< /Filter /ASCII85Decode /Length 6 >>\nstream\n"
                b"\xffuuuu~>\nendstream\n%%EOF"
            ),
            "RunLengthDecode": (
                b"%PDF-1.4\n<< /Filter /RunLengthDecode /Length 3 >>\n"
                b"stream\n\x7fab\nendstream\n%%EOF"
            ),
        }
        for name, pdf in pdfs.items():
            r = extract_document(pdf)
            assert r.extracted_text == "" and name in r.error, (name, r.error)

    def test_unsupported_filter_passthrough_and_structural_raise(self):
        """Byte-soup: a /DCTDecode stream passes through undecoded (no
        crash, no phantom text).  Structural: a page whose /Contents
        names an image filter raises with the filter named."""
        jpeg_ish = b"\xff\xd8\xff\xdb" + bytes(range(40))
        soup = (
            b"%PDF-1.4\nstream\nBT 72 700 Td (visible) Tj ET\nendstream\n"
            b"<< /Filter /DCTDecode /Length "
            + str(len(jpeg_ish)).encode()
            + b" >>\nstream\n"
            + jpeg_ish
            + b"\nendstream\n%%EOF"
        )
        r = extract_document(soup)
        assert r.error == "" and r.extracted_text == "visible"
        content = b"BT 72 700 Td (x) Tj ET"
        structural = (
            b"%PDF-1.5\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
            b"endobj\n"
            b"4 0 obj << /Filter /DCTDecode /Length "
            + str(len(content)).encode()
            + b" >>\nstream\n"
            + content
            + b"\nendstream\nendobj\n%%EOF"
        )
        r = extract_document(structural)
        assert r.extracted_text == "" and "DCTDecode" in r.error

    def test_roundtrip_property(self):
        """Hypothesis: arbitrary content-stream text survives every
        filter form bit-exact (the whole body, not just fixtures)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from textextraction_spark.core.pdfblocks import (
            _apply_filters,
            _runlength_decode,
        )
        from textextraction_spark.sources.pages import _runlength_encode

        @settings(max_examples=60, deadline=None)
        @given(st.binary(min_size=0, max_size=600))
        def prop(raw):
            import base64
            import zlib

            assert _runlength_decode(_runlength_encode(raw)) == raw
            assert _apply_filters(raw.hex().encode() + b">",
                                  ["ASCIIHexDecode"]) == raw
            assert _apply_filters(base64.a85encode(raw) + b"~>",
                                  ["ASCII85Decode"]) == raw
            assert _apply_filters(
                base64.a85encode(zlib.compress(raw)) + b"~>",
                ["ASCII85Decode", "FlateDecode"],
            ) == raw

        prop()


class TestParserRealismFamilies:
    def test_indented_html_folds_whitespace(self):
        pretty = b"<body>\n  <p>alpha beta</p>\n  <p>gamma</p>\n</body>\n"
        dense = b"<body><p>alpha beta</p><p>gamma</p></body>"
        assert (
            extract_document(pretty).extracted_text
            == extract_document(dense).extracted_text
            == "alpha beta\ngamma"
        )

    def test_entity_unescape(self):
        html = b"<body><p>COPYRIGHT &amp; TRADEMARK &#169; now</p></body>"
        assert extract_document(html).extracted_text == "COPYRIGHT & TRADEMARK \xa9 now"


class TestGzipBombGuard:
    def test_bomb_over_limit_rejected(self, monkeypatch):
        import gzip

        from textextraction_spark.core import extract as X

        html = b"<p>" + b"a" * 10_000 + b"</p>"
        payload = gzip.compress(html, mtime=0)
        monkeypatch.setattr(X, "MAX_INFLATE_BYTES", 1024)
        r = X.extract_document(payload)
        # over-limit: rejected wholesale — no partial text, no parsing of
        # compressed bytes; the bomb is visible in the error column
        assert r.extracted_text == ""
        assert "TransportError" in r.error and "bomb" in r.error

    def test_under_limit_inflates(self):
        import gzip

        from textextraction_spark.core import extract as X

        html = b"<p>" + b"b" * 10_000 + b"</p>"
        r = X.extract_document(gzip.compress(html, mtime=0))
        assert r.extracted_text == "b" * 10_000


class TestPolitenessClosedForm:
    @given(st.lists(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=60))
    @settings(max_examples=100, deadline=None)
    def test_recurrence_equals_prefix_max_form(self, ts_list):
        """start_n = max(ts_n, start_{n-1}+d)  ==  n*d + max_{i<=n}(ts_i - i*d)
        (the identity operators/scheduling.py's oracle relies on)."""
        d = 1000
        ts = sorted(ts_list)
        # imperative recurrence
        starts, prev = [], None
        for t in ts:
            s = t if prev is None else max(t, prev + d)
            starts.append(s)
            prev = s
        # closed form
        closed, m = [], None
        for n, t in enumerate(ts, start=1):
            v = t - n * d
            m = v if m is None else max(m, v)
            closed.append(m + n * d)
        assert starts == closed


class TestPdfRealWorldOperators:
    def test_tm_tj_array_form_extracts_identically(self):
        """doc_id 80 (% 120 == 80) emits `1 0 0 1 x y Tm [(a) kern (b)] TJ`
        blocks — same expected text as the plain Td/Tj form."""
        from textextraction_spark.sources.pages import make_pdf_bytes, total_amount_str

        text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
        tj = make_pdf_bytes(text, doc_id=80)   # Tm + TJ array (+ TOTAL: 80%40==0)
        td = make_pdf_bytes(text, doc_id=0)    # plain Td/Tj (+ TOTAL)
        assert b" Tm " in tj and b"] TJ" in tj and b" Tm " not in td
        rt, rd = extract_document(tj), extract_document(td)
        assert rt.error == ""
        assert rt.extracted_text.replace(
            total_amount_str(80), "$AMT"
        ) == rd.extracted_text.replace(total_amount_str(0), "$AMT")

    def test_octal_and_named_escapes(self):
        from textextraction_spark.core.pdfblocks import parse_pdf

        pdf = (
            b"%PDF-1.4\nstream\n"
            b"BT 72 700 Td (\\101lpha \\(beta\\) \\164ail) Tj ET\n"
            b"endstream\n%%EOF"
        )
        assert parse_pdf(pdf).text() == "Alpha (beta) tail"

    def test_tj_kerning_numbers_ignored(self):
        from textextraction_spark.core.pdfblocks import parse_pdf

        pdf = (
            b"%PDF-1.4\nstream\n"
            b"BT 1 0 0 1 72 700 Tm [(Hel) -120 (lo) 80 ( world)] TJ ET\n"
            b"endstream\n%%EOF"
        )
        # show strings concatenate with NO separator; kern numbers ignored
        assert parse_pdf(pdf).text() == "Hello world"


class TestEtInsideString:
    def test_et_in_show_string_does_not_terminate_block(self):
        """Regression (hypothesis-found): 'ET' bytes inside a string
        literal — e.g. (BUDGET) — must not end the text object."""
        from textextraction_spark.core.pdfblocks import parse_pdf

        pdf = (
            b"%PDF-1.4\nstream\n"
            b"BT 72 700 Td (BUDGET REPORT) Tj (ET ET) Tj ET\n"
            b"endstream\n%%EOF"
        )
        assert parse_pdf(pdf).text() == "BUDGET REPORT ET ET"


class TestReviewRegressions:
    def test_tj_array_with_bracket_inside_string(self):
        """']' inside a TJ show string must not truncate the array match
        (code-review finding: the array body now consumes string
        literals atomically)."""
        from textextraction_spark.core.pdfblocks import parse_pdf

        pdf = (
            b"%PDF-1.4\nstream\n"
            b"BT 1 0 0 1 72 700 Tm [(a]b) -250 ( c\\(d\\)e)] TJ ET\n"
            b"endstream\n%%EOF"
        )
        assert parse_pdf(pdf).text() == "a]b c(d)e"

    def test_spark_email_count_matches_raw_pattern(self, spark):
        """Code-review finding: EMAIL_RE inside a plain SQL literal was
        unescaped (\\. -> .) and counted a laxer pattern than the
        replacement; the r'...' literal must count exactly the raw
        pattern."""
        from pyspark.sql import functions as F

        from textextraction_spark.operators.curation import EMAIL_RE

        row = (
            spark.range(1)
            .select(
                F.expr(
                    f"regexp_count('a x@y!zz b u1@mail1.example.com', r'{EMAIL_RE}')"
                ).alias("n")
            )
            .first()
        )
        assert row["n"] == 1  # the mangled literal counted 2


class TestStructuralPdf:
    """PDF 1.5 object-graph mode (pdfblocks structural path): catalog +
    ObjStm page tree + per-page flate /Contents + binary xref stream."""

    TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu"

    def test_structural_extracts_identically_to_soup_form(self):
        from textextraction_spark.sources.pages import make_pdf_bytes

        st_pdf = make_pdf_bytes(self.TEXT, doc_id=60)  # % 240 == 60
        plain = make_pdf_bytes(self.TEXT, doc_id=20)  # same two-page text
        assert st_pdf.startswith(b"%PDF-1.5")
        assert b"/ObjStm" in st_pdf and b"/XRef" in st_pdf
        # page dicts live ONLY inside the compressed ObjStm
        assert b"/Type /Page /Parent" not in st_pdf
        rs, rp = extract_document(st_pdf), extract_document(plain)
        assert rs.error == ""
        assert rs.extracted_text == rp.extracted_text
        assert len(rs.doc.pages) == 2
        # span offsets identical across containers (storage is transport)
        assert [(ln.start, ln.end) for p in rs.doc.pages for ln in p.lines] == [
            (ln.start, ln.end) for p in rp.doc.pages for ln in p.lines
        ]

    def test_xref_binary_never_leaks_into_text_scan(self):
        """Byte-soup fallback: an inflated /Type /XRef (or /ObjStm) payload
        is random-looking binary that can contain phantom BT..ET runs —
        such streams must be skipped, not inflated into the scan."""
        import zlib

        phantom = zlib.compress(b"BT 10 10 Td (PHANTOM) Tj ET", 6)
        soup = (
            b"%PDF-1.4\n<< /Type /XRef /W [1 4 2] /Filter /FlateDecode"
            b" /Length " + str(len(phantom)).encode() + b" >>\nstream\n"
            + phantom
            + b"\nendstream\nstream\nBT 72 700 Td (Real text) Tj ET\nendstream\n%%EOF"
        )
        doc = parse_pdf(soup)
        assert doc.text() == "Real text"

    def test_contents_array_concatenates_in_order(self):
        pdf = (
            b"%PDF-1.5\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >> endobj\n"
            b"4 0 obj << /Length 26 >> stream\n"
            b"BT 72 700 Td (First) Tj ET\nendstream endobj\n"
            b"5 0 obj << /Length 27 >> stream\n"
            b"BT 72 600 Td (Second) Tj ET\nendstream endobj\n"
            b"%%EOF"
        )
        doc = parse_pdf(pdf)
        assert len(doc.pages) == 1
        assert doc.text() == "First\nSecond"

    def test_incremental_update_later_definition_wins(self):
        """Appended (incremental-update) redefinitions of an object number
        shadow the original; ObjStm-contained objects never shadow a
        top-level definition."""
        from textextraction_spark.core.pdfblocks import (
            _expand_objstms,
            _scan_objects,
        )

        import zlib

        pay = zlib.compress(b"7 0 " + b"<< /Inside /ObjStmCopy >>", 6)
        data = (
            b"7 0 obj << /V /Old >> endobj\n"
            b"9 0 obj << /Type /ObjStm /N 1 /First 4 /Filter /FlateDecode"
            b" /Length " + str(len(pay)).encode() + b" >>\nstream\n"
            + pay
            + b"\nendstream endobj\n"
            b"7 0 obj << /V /New >> endobj\n"
        )
        objs = _scan_objects(data)
        _expand_objstms(objs)
        assert b"/New" in objs[7][0]

    def test_broken_page_tree_surfaces_error(self):
        bad = b"%PDF-1.5\n1 0 obj << /Type /Catalog >> endobj\n%%EOF"
        r = extract_document(bad)
        assert r.extracted_text == "" and "Pages" in r.error

    def test_binary_payload_cannot_register_phantom_objects(self):
        """'N 0 obj' byte runs inside a stream payload are not objects."""
        from textextraction_spark.core.pdfblocks import _scan_objects

        data = (
            b"4 0 obj << /Length 14 >> stream\n"
            b"99 0 obj << \n\nendstream endobj\n"
            b"5 0 obj << /V 1 >> endobj\n"
        )
        objs = _scan_objects(data)
        assert set(objs) == {4, 5}


class TestNoTextLayer:
    """Image-only (scanned) PDFs must surface error='no_text_layer' —
    distinguishable from an empty document — where the reference would
    run OCR (Worker.cs:144-200)."""

    def test_image_only_pdf_surfaces_error(self):
        from textextraction_spark.sources.pages import make_image_only_pdf

        r = extract_document(make_image_only_pdf(180))
        assert r.error == "no_text_layer"
        assert r.extracted_text == "" and r.spans == []
        assert r.is_pdf and r.confidence == 0.0

    def test_fixture_family_routes_to_image_only(self):
        from textextraction_spark.sources.pages import make_pdf_bytes

        pdf = make_pdf_bytes("ignored words here", doc_id=180)
        assert b"/Subtype /Image" in pdf and b"BT" not in pdf
        assert extract_document(pdf).error == "no_text_layer"

    def test_empty_document_stays_distinct(self):
        """A PDF with neither text nor images is an EMPTY document (text
        '' and no error) — not a no_text_layer row."""
        r = extract_document(b"%PDF-1.4\nstream\nq Q\nendstream\n%%EOF")
        assert r.error == "" and r.extracted_text == ""

    def test_mixed_text_and_image_extracts_text(self):
        """A page tree carrying BOTH an image XObject and a text layer
        extracts the text layer with no error (only zero-text files are
        not-extractable)."""
        pdf = (
            b"%PDF-1.5\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R"
            b" /Resources 6 0 R >> endobj\n"
            b"6 0 obj << /XObject << /Im0 5 0 R >> >> endobj\n"
            b"4 0 obj << /Length 45 >> stream\n"
            b"q /Im0 Do Q BT 72 700 Td (Caption text) Tj ET\nendstream endobj\n"
            b"5 0 obj << /Subtype /Image /Width 8 /Height 8 /Length 3 >>"
            b" stream\nabc\nendstream endobj\n"
            b"%%EOF"
        )
        r = extract_document(pdf)
        assert r.error == "" and r.extracted_text == "Caption text"


class TestCidFontPdf:
    """Round-5: subset-font (Type0/CID) PDFs — 2-byte glyph codes
    through a /ToUnicode CMap, the shape real crawl PDFs take.  The
    %240==140 fixture family extracts byte-identically to its plain
    two-page twin, so every PDF oracle transitively gates the CMap
    decode; a raw latin-1 read of the show string is garbage."""

    TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"

    def test_cid_family_extracts_identically(self):
        from textextraction_spark.sources.pages import make_pdf_bytes

        cid = make_pdf_bytes(self.TEXT, doc_id=140)
        plain = make_pdf_bytes(self.TEXT, doc_id=20)
        assert b"/ToUnicode" in cid and b"Tf" in cid
        # mapping is load-bearing: no plaintext head in the content obj
        assert b"alpha" not in cid.split(b"7 0 obj")[0].split(b"6 0 obj")[1]
        rc, rp = extract_document(cid), extract_document(plain)
        assert rc.error == ""
        assert rc.extracted_text == rp.extracted_text
        assert len(rc.doc.pages) == 2

    def test_parse_tounicode_semantics(self):
        """bfchar pairs, bfrange increment-on-last-unit, multi-char
        (ligature) dst, and the range-overflow guard."""
        from textextraction_spark.core.pdfblocks import parse_tounicode

        cmap = (
            b"begincmap\n"
            b"2 beginbfchar\n<D001> <0041>\n<D002> <00660066>\nendbfchar\n"
            b"1 beginbfrange\n<E000> <E002> <0061>\nendbfrange\n"
            b"endcmap\n"
        )
        m = parse_tounicode(cmap)
        assert m[0xD001] == "A"
        assert m[0xD002] == "ff"  # UTF-16BE multi-char ligature target
        assert (m[0xE000], m[0xE001], m[0xE002]) == ("a", "b", "c")
        assert 0xE003 not in m
        # hi < lo and overflow ranges are ignored, never raise
        assert parse_tounicode(
            b"1 beginbfrange\n<0005> <0001> <0041>\nendbfrange\n"
        ) == {}

    def test_unmapped_codes_render_replacement(self):
        """A code outside the map renders U+FFFD — visible, never a
        silent wrong character."""
        from textextraction_spark.core.pdfblocks import parse_pdf
        from textextraction_spark.sources.pages import make_cid_pdf

        # map covers 0xE000+codepoint; inject a code past the range
        pdf = bytearray(make_cid_pdf("ab", "tail words here and more pad"))
        # content obj shows <d001 e062>; flip e062 -> f062 (unmapped)
        i = pdf.find(b"<d001e0")
        assert i > 0
        pdf[i + 5 : i + 6] = b"f"
        doc = parse_pdf(bytes(pdf))
        assert doc.pages[0].lines[0].text == "a�"

    def test_font_without_tounicode_keeps_raw_read(self):
        """A font object with no /ToUnicode leaves hex shows as the raw
        latin-1 read (the pre-round-5 behavior, unchanged)."""
        from textextraction_spark.core.pdfblocks import parse_pdf
        from textextraction_spark.sources.pages import make_cid_pdf

        pdf = make_cid_pdf("ab", "tail words here and more pad")
        pdf = pdf.replace(b"/ToUnicode 10 0 R", b"/FontDescriptor 1 0 R")
        doc = parse_pdf(pdf)
        raw = doc.pages[0].lines[0].text
        assert raw == bytes.fromhex("d001e062").decode("latin-1")

    def test_fuzz_fail_soft(self):
        import numpy as np

        from textextraction_spark.sources.pages import make_pdf_bytes

        data = make_pdf_bytes(self.TEXT, doc_id=140)
        rng = np.random.RandomState(9)
        for cut in range(0, len(data), 37):
            r = extract_document(data[:cut])
            assert isinstance(r.extracted_text, str)
        for _ in range(150):
            b = bytearray(data)
            for _ in range(2):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            r = extract_document(bytes(b))
            assert isinstance(r.extracted_text, str)


class TestDifferencesEncoding:
    """Round-5: the OTHER font mechanism — simple (1-byte) fonts with
    /Encoding /Differences glyph-name remaps (the pdflatex-era Type1
    subset shape).  Page 2 of the %240==140 family rides it, so the
    same oracles gate both mechanisms side by side."""

    def test_parse_differences(self):
        from textextraction_spark.core.pdfblocks import parse_differences

        enc = (
            b"<< /Type /Encoding /Differences "
            b"[65 /a /b 160 /space /zero /uni0041 /bogusname] >>"
        )
        m = parse_differences(enc)
        assert (m[65], m[66]) == ("a", "b")  # names consume+increment
        assert (m[160], m[161]) == (" ", "0")  # AGL punct + digit names
        assert m[162] == "A"  # algorithmic uniXXXX
        assert m[163] == "�"  # unknown glyph name: visible
        assert parse_differences(b"<< /Type /Encoding >>") == {}

    def test_both_mechanisms_in_one_file(self):
        """The %240==140 family now shows page 1 through a 2-byte
        ToUnicode CMap and page 2 through a 1-byte Differences font —
        neither page's text appears in the clear, and extraction still
        equals the plain twin byte-for-byte."""
        from textextraction_spark.sources.pages import make_pdf_bytes

        TEXT = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
        )
        cid = make_pdf_bytes(TEXT, doc_id=140)
        plain = make_pdf_bytes(TEXT, doc_id=20)
        assert b"/Differences" in cid and b"/ToUnicode" in cid
        assert b"alpha" not in cid and b"lam" not in cid
        rc, rp = extract_document(cid), extract_document(plain)
        assert rc.error == "" and rc.extracted_text == rp.extracted_text

    def test_unmapped_code_and_width(self):
        """Codes outside the Differences array render U+FFFD, and the
        1-byte width means a 2-char show is TWO codes (not one 16-bit
        code)."""
        from textextraction_spark.core.pdfblocks import parse_pdf
        from textextraction_spark.sources.pages import make_cid_pdf

        pdf = bytearray(make_cid_pdf("zq", "ab ab ab and more pad here"))
        # page-2 content shows tail codes starting at 160 (0xa0): flip
        # the first byte pair to a code before the array (0x9f)
        i = pdf.find(b"BT /F2 10 Tf 72 700 Td <")
        j = pdf.find(b"<", i) + 1
        pdf[j : j + 2] = b"9f"
        doc = parse_pdf(bytes(pdf))
        line = doc.pages[1].lines[0].text
        assert line.startswith("�") and line[1:] == "b ab ab and more pad here"
