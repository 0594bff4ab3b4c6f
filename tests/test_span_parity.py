"""The span kernel against its per-line oracle (``tests/span_oracle.py``).

``core/spans.py`` gates each field at document level and maps document
offsets back to lines; ``core/gazetteer.py`` compiles its lexicons as
prefix-factored patterns.  Both must give exactly what the per-line walk
over plain alternations gives: the same spans, field by field.
"""

from __future__ import annotations

import random
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from tests import span_oracle as oracle
from textextraction_spark.core.extract import extract_document
from textextraction_spark.core.gazetteer import (
    _load,
    _trie,
    find_org,
    find_person,
    generate_org_list,
    generate_person_list,
)
from textextraction_spark.core.model import Doc, Line, Page
from textextraction_spark.core.spans import extract_spans

PERSONS = _load("persons.txt", generate_person_list)
ORGS = _load("orgs.txt", generate_org_list)

FRAGMENTS = [
    # invoice keys and values
    "INVOICE", "invoice", "INVOICE NUMBER", "INVOICE DATE", "DUE DATE", "DATE",
    "LOAD", "REFERENCE", "PURCHASE ORDER", "AMOUNT", "TOTAL", "RATE",
    "BALANCE DUE", "4329", "12.5", "REF48215X", "A1B", "$1,250.00", "$980",
    "09/23/2020", "1/2/2021", "2020-09-23", "March 5, 1975", "5 MAR 1975",
    # patient keys, some of them keys only after special-character filtering
    "NAME", "Patient Name:", "NA*ME", "N!AME", "D?OB", "DOB", "DATE OF BIRTH",
    "BIRTH DATE", "BIR*TH DATE", "INSURED NAME", "MEMBER NAME",
    # lexicon entries and near misses
    "JAMES SMITH", "mary jones", "JAMES SMITHSON", "XJAMES SMITH", "JOHN",
    "J.J. MARIN, LLC", "ACME FREIGHT INC", "ACME FREIGHT INCX", "APEX TRANSPORT LTD",
    "COMFREIGHT HAULPAY", "RTS FINANCIAL SERVICE, INC", "INC", "LLC",
    # upper-casing that changes length, and punctuation
    "ß", "straße", "ŉ", "ﬀ", "İ", "(", ")", ",", ":", "*", "!", "-", ".", "/",
]
SEPARATORS = ["", " ", " ", "  ", ": ", ", ", "\t"]


def _line(newline: bool):
    frags = FRAGMENTS + ["\n"] if newline else FRAGMENTS
    return st.lists(
        st.tuples(st.sampled_from(SEPARATORS), st.sampled_from(frags)), max_size=7
    ).map(lambda xs: "".join(sep + frag for sep, frag in xs))


def make_doc(pages: list[list[str]], pdf: bool) -> Doc:
    """Lines with the offsets and boxes the parsers give them."""
    out, offset = [], 0
    for page_no, texts in enumerate(pages, 1):
        lines = []
        for i, text in enumerate(texts, 1):
            bbox = (72, 700 - 16 * i, 72 + 8 * len(text), 716 - 16 * i) if pdf else None
            lines.append(Line(page_no, i, text, offset, offset + len(text), bbox))
            offset += len(text) + 1
        out.append(Page(page_no, lines))
    return Doc(pages=out, is_pdf=pdf)


@st.composite
def docs(draw):
    pdf = draw(st.booleans())
    pages = draw(
        st.lists(st.lists(_line(newline=pdf), min_size=1, max_size=6), min_size=1, max_size=3)
    )
    return make_doc(pages, pdf)


def _same_spans(doc: Doc) -> None:
    got = [vars(s) for s in extract_spans(doc)]
    want = [vars(s) for s in oracle.extract_spans(doc)]
    assert got == want, doc.text()


class TestSpanParity:
    @given(docs())
    @settings(max_examples=400, deadline=None)
    def test_generated_docs(self, doc):
        _same_spans(doc)

    def test_keys_only_after_filtering(self):
        doc = make_doc([["PATIENT NA*ME: JAMES SMITH", "D?OB 01/02/1980"]], False)
        assert {s.field for s in extract_spans(doc)} == {"patient.name", "patient.birth_date"}
        _same_spans(doc)

    def test_length_changing_upper_before_hits(self):
        doc = make_doc(
            [["straße ß", "ŉ ACME FREIGHT INC ß", "ß INVOICE 4329 TOTAL $5.00"]], False
        )
        spans = {s.field: s for s in extract_spans(doc)}
        assert spans["invoice.vendor"].line == 2
        _same_spans(doc)

    def test_pdf_line_holding_a_newline(self):
        """A PDF ``(\\n)`` escape puts a newline inside one line: document
        offsets must map back by line lengths, not by counting newlines."""
        pdf = (
            b"%PDF-1.4\nstream\n"
            b"BT 72 700 Td (first\\nline) Tj ET\n"
            b"BT 72 600 Td (INVOICE 4329 ACME FREIGHT INC) Tj ET\n"
            b"BT 72 500 Td (NAME\\nJAMES SMITH DOB 01/02/1980) Tj ET\n"
            b"endstream\n%%EOF"
        )
        r = extract_document(pdf)
        assert "\n" in r.doc.lines[0].text
        assert [vars(s) for s in r.spans] == [vars(s) for s in oracle.extract_spans(r.doc)]
        for s in r.spans:
            assert r.extracted_text[s.start : s.end].upper() == s.text
        assert {s.field for s in r.spans} >= {"invoice.vendor", "invoice.number", "patient.name"}

    def test_names_at_line_edges_and_punctuation(self):
        doc = make_doc(
            [["JAMES SMITH", "NAME:JAMES SMITH,", "(ACME FREIGHT INC)", "J.J. MARIN, LLC."]],
            False,
        )
        _same_spans(doc)

    def test_hits_on_several_lines(self):
        doc = make_doc(
            [
                ["filler", "DUE DATE 10/01/2030", "ACME FREIGHT INC", "INVOICE 12"],
                ["LOAD REF5X", "INVOICE DATE 02/02/2020", "PATIENT NAME MARY JONES"],
                ["DOB 03/04/1975", "TOTAL $2.00", "APEX TRANSPORT LTD"],
            ],
            True,
        )
        assert len(extract_spans(doc)) == 7
        _same_spans(doc)


def _fuzz_line(rng: random.Random) -> str:
    pieces = []
    for _ in range(rng.randint(0, 8)):
        kind = rng.random()
        if kind < 0.3:
            w = rng.choice(PERSONS + ORGS)
            pieces.append(w[: rng.randint(1, len(w))] if rng.random() < 0.3 else w)
        elif kind < 0.6:
            pieces.append(rng.choice(["A", "X1", "_", "É", "ß", "SMITHS", "INCX", "LLC"]))
        else:
            pieces.append(rng.choice([" ", "  ", ",", ".", "-", "(", ")", "\n", "'"]))
    return "".join(rng.choice(["", " "]) + p for p in pieces)


class TestGazetteerParity:
    """The prefix-factored patterns find what the sorted alternations find."""

    def test_fuzzed_lines(self):
        rng = random.Random(20)
        for _ in range(5000):
            line = _fuzz_line(rng)
            assert find_person(line) == oracle.find_person(line), line
            assert find_org(line) == oracle.find_org(line), line

    @given(st.lists(st.sampled_from(PERSONS + ORGS + ["X", " ", ",", "1", "ß"]), max_size=10))
    @settings(max_examples=200, deadline=None)
    def test_generated_lines(self, pieces):
        line = " ".join(pieces)
        assert find_person(line) == oracle.find_person(line)
        assert find_org(line) == oracle.find_org(line)

    @given(
        st.lists(st.text("AB .", min_size=1, max_size=5), min_size=1, max_size=8),
        st.text("AB .x", max_size=30),
    )
    @settings(max_examples=400, deadline=None)
    def test_trie_of_any_lexicon(self, words, line):
        """Lexicons whose entries are prefixes of one another, at and off
        word boundaries: the trie still picks what the alternation picks."""
        words = [w.strip() for w in words if w.strip()]
        if not words:
            return
        plain = "|".join(re.escape(w) for w in sorted(words, key=len, reverse=True))
        for head, tail in ((r"\b(", r")\b"), (r"(?<!\w)(", r")(?!\w)")):
            got = re.compile(head + _trie(words) + tail).finditer(line)
            want = re.compile(head + plain + tail).finditer(line)
            assert [m.span(1) for m in got] == [m.span(1) for m in want]
