"""F1-F6 — field/span extractors (SURVEY.md §2.8) + A2/W2 reduction.

Each extractor mirrors one ``TextExtraction/Model/*.cs`` extractor's
observable semantics, re-expressed as a pure function over a Doc.  The
first-match-wins accumulation (``string.IsNullOrEmpty`` guards per field,
``Worker.cs:222-231, 377-394``) becomes a single forward scan that records
the earliest (page, line) hit per field — the vectorized equivalent of the
reference's mutable short-circuit loop (SURVEY.md §2.5 A2 / §2.6 W2).

Keyword gates (SURVEY.md §2.3 P3) reproduce ``appsettings.json:21-44``:
patient keys gate the medical extractors on the *filtered + uppercased*
line (``Worker.cs:216-220``); invoice keys gate the invoice extractors on
the *uppercased raw* line (``Worker.cs:294-296, 375``).
"""

from __future__ import annotations

import re
from bisect import bisect_right

from textextraction_spark.core.dategrammar import find_first_date
from textextraction_spark.core.gazetteer import find_org, find_person
from textextraction_spark.core.model import Doc, Line, Span, rect_to_pdf_points
from textextraction_spark.core.textfilter import (
    SPECIAL_CHARS,
    has_special_characters,
    remove_special_characters,
)

# ``appsettings.json:22-31`` uppercased (``Worker.cs:216``).
PATIENT_KEYS = [
    "NAME OF THE PATIENT", "NAME", "PATIENT NAME", "INSURED NAME",
    "MEMBER NAME", "DOB", "BIRTH DATE", "DATE OF BIRTH",
]
# ``appsettings.json:32-43`` uppercased (``Worker.cs:294``).
INVOICE_KEYS = [
    "LOAD", "INVOICE", "INVOICE NUMBER", "DATE", "PURCHASE ORDER", "AMOUNT",
    "REFERENCE", "RATE", "TOTAL", "BALANCE DUE",
]

# F1 ``Model/InvoiceNumber.cs:15-18``: gate on INVOICE<sep>digits, value is
# the FIRST [.\d]+ run in the line (reference quirk: not group 3 — kept).
INV_NUM_GATE = re.compile(r"\b(INVOICE)(\W+|\s+)(\d+)\b")
INV_NUM_VALUE = re.compile(r"[.\d]+")

# F2 ``Model/InvoiceDate.cs:18``: line has DATE (or INVOICE DATE) but not
# DUE..DATE. Python `re` supports the same lookarounds as .NET here.
INV_DATE_GATE = re.compile(r"^(?!.*DUE.*DATE)(?=.*(?:INVOICE\s+)?DATE).*$")

# F3 ``Model/PurchaseOrder.cs:15-19``: group 2.
ORDER_NUM = re.compile(r"\b(LOAD|REFERENCE)\W+(\w+\d+\w+)")

# F4 ``Model/GrossAmount.cs:17-20``: match kept as string, keyword stripped.
AMOUNT = re.compile(r"\b(TOTAL|RATE|BALANCE DUE)\W+\$\d+(,\d{3})*(\.\d{2})?")

# F5 ``Model/PatientBirthDate.cs:19-24``.
DOB_KEYS = ("DATE OF BIRTH", "DOB", "BIRTH DATE")

FIELDS = (
    "invoice.number", "invoice.date", "invoice.order_number", "invoice.total",
    "invoice.vendor", "patient.name", "patient.birth_date",
)


def _mk_span(field: str, label: str, value: str, line: Line, at: int) -> Span:
    """Locate ``value`` at line-local offset ``at`` and build the Span.
    Global offsets = line.start + local; rect only for PDF blocks
    (``Helper.cs:13-17`` conversion), else ""."""
    return Span(
        field=field,
        label=label,
        text=value,
        page=line.page,
        line=line.line_no,
        start=line.start + at,
        end=line.start + at + len(value),
        rect=rect_to_pdf_points(line.bbox) if line.bbox else "",
    )


def _upper_starts(lines: list[Line], text: str, upper: str) -> list[int]:
    """Each line's start offset in ``upper``, plus one past its end.

    Cumulative upper-cased line lengths, not a count of ``"\\n"``: a PDF
    line can hold one (a ``(\\n)`` string escape), and ``str.upper`` can
    change a line's length (``ß`` -> ``SS``)."""
    same = len(upper) == len(text)  # then no line changed length
    starts = []
    at = 0
    for ln in lines:
        starts.append(at)
        at += (len(ln.text) if same else len(ln.text.upper())) + 1
    starts.append(at)
    return starts


def extract_spans(doc: Doc) -> list[Span]:
    """Earliest hit per field over the doc's lines in reading order.
    Returns spans sorted by field name for deterministic output.

    Each field's hit is the first line, in reading order, that passes the
    field's gate and matches it; within the line, the first match.  The
    gates run on the whole document first, so the lines are walked only
    for fields that can still hit:

    - the org search runs once over the upper-cased document (org names
      hold no newline, so its first match lies in the first line holding
      an org, and is that line's first org);
    - the invoice extractors walk the lines only when an invoice key
      occurs in the upper-cased document;
    - the medical extractors walk the lines only when a patient key
      occurs in the document after one special-character pass (the
      filter and ``str.upper`` act per character, so each line's
      filtered text, right-trimmed, is part of the document's)."""
    lines = doc.lines
    text = "\n".join(ln.text for ln in lines)  # == doc.text()
    upper = text.upper()  # invoice path: ``Worker.cs:296``
    found: dict[str, Span] = {}
    starts: list[int] | None = None

    # --- vendor/org NER runs before the invoice gate, like the
    # fixture-equality checks at ``Worker.cs:299-364``.
    hit = find_org(upper)
    if hit:
        starts = _upper_starts(lines, text, upper)
        i = bisect_right(starts, hit[1]) - 1
        found["invoice.vendor"] = _mk_span(
            "invoice.vendor", "ORG", hit[0], lines[i], hit[1] - starts[i]
        )

    # --- invoice extractors, gated on uppercased raw line (P3).
    if any(k in upper for k in INVOICE_KEYS):
        if starts is None:
            starts = _upper_starts(lines, text, upper)
        all_found = len(found) + 4  # the vendor, if found, and these four
        for i, line in enumerate(lines):
            line_upper = upper[starts[i] : starts[i + 1] - 1]
            if any(k in line_upper for k in INVOICE_KEYS):
                _invoice_fields(found, line, line_upper)
                if len(found) == all_found:
                    break

    # --- medical extractors, gated on filtered+uppercased line (P3,
    # ``Worker.cs:218``).
    filtered = SPECIAL_CHARS.sub("", text).upper() if has_special_characters(text) else upper
    if any(k in filtered for k in PATIENT_KEYS):
        if starts is None:
            starts = _upper_starts(lines, text, upper)
        for i, line in enumerate(lines):
            line_filtered = remove_special_characters(line.text).upper()
            if any(k in line_filtered for k in PATIENT_KEYS):
                line_upper = upper[starts[i] : starts[i + 1] - 1]
                _patient_fields(found, line, line_upper, line_filtered)
                if "patient.name" in found and "patient.birth_date" in found:
                    break

    return sorted(found.values(), key=lambda s: s.field)


def _invoice_fields(found: dict[str, Span], line: Line, upper: str) -> None:
    """The invoice extractors on one gated line; ``upper`` is its text
    upper-cased."""
    if "invoice.number" not in found and INV_NUM_GATE.search(upper):
        m = INV_NUM_VALUE.search(upper)
        if m:
            found["invoice.number"] = _mk_span(
                "invoice.number", "INV_NUM", m.group(0), line, m.start()
            )
    if "invoice.date" not in found and INV_DATE_GATE.search(upper):
        d = find_first_date(upper)
        if d:
            # ``Model/InvoiceDate.cs:20`` uppercases the surface.
            found["invoice.date"] = _mk_span(
                "invoice.date", "DATE", d[0].upper(), line, d[1]
            )
    if "invoice.order_number" not in found:
        m = ORDER_NUM.search(upper)
        if m:
            found["invoice.order_number"] = _mk_span(
                "invoice.order_number", "ORDER_NUM", m.group(2), line, m.start(2)
            )
    if "invoice.total" not in found:
        m = AMOUNT.search(upper)
        if m:
            value = (
                m.group(0)
                .replace("TOTAL", "")
                .replace("RATE", "")
                .replace("BALANCE DUE", "")
                .strip()
            )
            at = upper.find(value, m.start())
            found["invoice.total"] = _mk_span(
                "invoice.total", "AMOUNT", value, line, at
            )


def _patient_fields(found: dict[str, Span], line: Line, upper: str, filtered: str) -> None:
    """The medical extractors on one gated line; ``filtered`` is its text
    special-character filtered and upper-cased."""
    if "patient.birth_date" not in found and any(k in filtered for k in DOB_KEYS):
        d = find_first_date(filtered)
        if d:
            # Reference extracts from filteredText
            # (``Model/PatientBirthDate.cs:18,23``); offsets are
            # located back in the raw line (filter only deletes
            # chars, so the surface normally survives verbatim).
            at = upper.find(d[0])
            found["patient.birth_date"] = _mk_span(
                "patient.birth_date", "DATE", d[0], line, max(at, 0)
            )
    if "patient.name" not in found:
        hit = find_person(filtered)
        if hit:
            at = upper.find(hit[0])
            found["patient.name"] = _mk_span(
                "patient.name", "PERSON", hit[0], line, max(at, 0)
            )
