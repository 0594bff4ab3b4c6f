"""Test oracles for the span kernel: the forms it replaced, kept verbatim.

``extract_spans`` walks every line with every extractor, as the
reference's per-line loop does (``Worker.cs:222-231, 377-394``), and the
gazetteers are plain alternations sorted longest first.
``core/spans.py`` gates at document level and ``core/gazetteer.py``
compiles prefix-factored patterns; the parity tests in
``test_span_parity.py`` hold them to these.
"""

from __future__ import annotations

import re
from functools import lru_cache

from textextraction_spark.core.dategrammar import find_first_date
from textextraction_spark.core.gazetteer import _load, generate_org_list, generate_person_list
from textextraction_spark.core.model import Doc, Span
from textextraction_spark.core.spans import (
    AMOUNT,
    DOB_KEYS,
    INV_DATE_GATE,
    INV_NUM_GATE,
    INV_NUM_VALUE,
    INVOICE_KEYS,
    ORDER_NUM,
    PATIENT_KEYS,
    _mk_span,
)
from textextraction_spark.core.textfilter import remove_special_characters


@lru_cache(maxsize=1)
def person_pattern() -> re.Pattern[str]:
    names = sorted(_load("persons.txt", generate_person_list), key=len, reverse=True)
    return re.compile(r"\b(" + "|".join(re.escape(n) for n in names) + r")\b")


@lru_cache(maxsize=1)
def org_pattern() -> re.Pattern[str]:
    orgs = sorted(_load("orgs.txt", generate_org_list), key=len, reverse=True)
    return re.compile(r"(?<!\w)(" + "|".join(re.escape(o) for o in orgs) + r")(?!\w)")


def find_person(upper_text: str) -> tuple[str, int, int] | None:
    m = person_pattern().search(upper_text)
    return (m.group(1), m.start(1), m.end(1)) if m else None


def find_org(upper_text: str) -> tuple[str, int, int] | None:
    m = org_pattern().search(upper_text)
    return (m.group(1), m.start(1), m.end(1)) if m else None


def extract_spans(doc: Doc) -> list[Span]:
    """One forward pass over lines in reading order; earliest hit per field
    wins.  Returns spans sorted by field name for deterministic output."""
    found: dict[str, Span] = {}

    for line in doc.lines:
        upper = line.text.upper()  # invoice path: ``Worker.cs:296``
        filtered = remove_special_characters(line.text).upper()  # medical: ``Worker.cs:218``

        # --- vendor/org NER runs before the invoice gate, like the
        # fixture-equality checks at ``Worker.cs:299-364``.
        if "invoice.vendor" not in found:
            hit = find_org(upper)
            if hit:
                # match offsets are in `upper`, same length as line.text
                found["invoice.vendor"] = _mk_span(
                    "invoice.vendor", "ORG", hit[0], line, hit[1]
                )

        # --- invoice extractors, gated on uppercased raw line (P3).
        if any(k in upper for k in INVOICE_KEYS):
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

        # --- medical extractors, gated on filtered+uppercased line (P3).
        if any(k in filtered for k in PATIENT_KEYS):
            if "patient.birth_date" not in found and any(k in filtered for k in DOB_KEYS):
                d = find_first_date(filtered)
                if d:
                    # Reference extracts from filteredText
                    # (``Model/PatientBirthDate.cs:18,23``); offsets are
                    # located back in the raw line (filter only deletes
                    # chars, so the surface normally survives verbatim).
                    at = line.text.upper().find(d[0])
                    found["patient.birth_date"] = _mk_span(
                        "patient.birth_date", "DATE", d[0], line, max(at, 0)
                    )
            if "patient.name" not in found:
                hit = find_person(filtered)
                if hit:
                    at = line.text.upper().find(hit[0])
                    found["patient.name"] = _mk_span(
                        "patient.name", "PERSON", hit[0], line, max(at, 0)
                    )

    return sorted(found.values(), key=lambda s: s.field)
