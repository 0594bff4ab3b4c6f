"""Gazetteer-NER quality floor (VERDICT r03 item 6).

The reference tags entities with a Stanford CRF 3-class model
(``/root/reference/NameRecognizer/EntityRecognizer.cs:29-48`` person,
``:72-91`` org); this engine replaces it with lexicon+regex matching
(``core/gazetteer.py``), sanctioned by the north star.  That replacement
has a QUANTIFIABLE cost, pinned here on a labeled fixture so the
trade-off is a measured number, not a footnote:

- **Recall loss — out-of-lexicon entities.**  A CRF generalizes to
  unseen names from context + shape; a gazetteer is structurally blind
  to any name outside its list.  The held-out fixture rows (real-looking
  names absent from the 16x16 person pool / 25x4 org grid) are ALL
  missed, by construction.
- **Precision loss — context blindness.**  A lexicon match inside a
  street or institution name ("JOHN SMITH AVENUE") still fires; a CRF
  would usually read the context and decline.

Pinned numbers on the 16-row person / 10-row org fixture (exact, the
fixture is deterministic — drift in either direction fails the test):

    person: precision 10/12 = 0.833   recall 10/15 = 0.667
    org:    precision  6/7  = 0.857   recall  6/9  = 0.667

These are the documented floors for SURVEY.md §8.  Production raises
recall by extending the lexicon (the operational lever a gazetteer
actually has — the org list already generalized the reference's three
hardcoded vendors the same way) — not by tuning this test.
"""

from __future__ import annotations

from textextraction_spark.core.gazetteer import find_org, find_person

# (line, true person entity or None).  Truth labels are what a human (or
# a well-trained CRF) would tag.
PERSON_FIXTURE = [
    # in-lexicon true positives: full names from the FIRST x LAST pools
    ("PATIENT NAME JAMES SMITH DOB 01/02/1980", "JAMES SMITH"),
    ("ATTENDING MARY GARCIA SIGNED THE CHART", "MARY GARCIA"),
    ("REFERRED BY ROBERT WILSON ON TUESDAY", "ROBERT WILSON"),
    ("CONTACT JENNIFER LOPEZ FOR BILLING", "JENNIFER LOPEZ"),
    ("GUARANTOR DAVID MARTINEZ RELATION SELF", "DAVID MARTINEZ"),
    ("WITNESS ELIZABETH JONES WAS PRESENT", "ELIZABETH JONES"),
    ("NURSE PATRICIA BROWN RECORDED VITALS", "PATRICIA BROWN"),
    ("DR MICHAEL ANDERSON REVIEWED RESULTS", "MICHAEL ANDERSON"),
    ("EMERGENCY CONTACT LINDA DAVIS PHONE 555", "LINDA DAVIS"),
    ("INSURED WILLIAM THOMAS POLICY 889", "WILLIAM THOMAS"),
    # held-out entities: real names, NOT in the 16x16 pool -> the
    # gazetteer misses every one (a CRF would tag them from context)
    ("PATIENT NAME AISHA OKAFOR DOB 03/04/1975", "AISHA OKAFOR"),
    ("ATTENDING DMITRI VOLKOV SIGNED THE CHART", "DMITRI VOLKOV"),
    ("REFERRED BY MEI-LING CHEN ON FRIDAY", "MEI-LING CHEN"),
    ("CONTACT SIOBHAN GALLAGHER FOR RECORDS", "SIOBHAN GALLAGHER"),
    ("GUARANTOR TEODORO ALVES RELATION FATHER", "TEODORO ALVES"),
    # context traps: the lexicon string appears but is NOT a person —
    # the gazetteer fires anyway (precision cost of context blindness)
    ("TRANSFER TO JOHN SMITH AVENUE CLINIC", None),
    ("ADMITTED AT MARY JONES MEMORIAL HOSPITAL", None),
    # clean negatives: no person anywhere
    ("INVOICE TOTAL DUE UPON RECEIPT", None),
    ("RADIOLOGY REPORT CHEST XRAY NORMAL", None),
]

ORG_FIXTURE = [
    # in-lexicon true positives (stem x kind grid + golden vendors)
    ("REMIT TO ACME LOGISTICS LLC PO BOX 9", "ACME LOGISTICS LLC"),
    ("CARRIER ATLAS TRANSPORT LLC REF 1002", "ATLAS TRANSPORT LLC"),
    ("BILL TO SUMMIT FREIGHT CORP NET 30", "SUMMIT FREIGHT CORP"),
    ("SHIPPER KEYSTONE CARRIERS LLC DOCK 4", "KEYSTONE CARRIERS LLC"),
    ("FACTOR RTS FINANCIAL SERVICE, INC", "RTS FINANCIAL SERVICE, INC"),
    ("PAYEE J.J. MARIN, LLC AMOUNT 1200", "J.J. MARIN, LLC"),
    # held-out orgs: plausible carriers absent from the grid
    ("REMIT TO ZENITH HAULING LLC PO BOX 12", "ZENITH HAULING LLC"),
    ("CARRIER BLUE RIDGE EXPRESS INC REF 77", "BLUE RIDGE EXPRESS INC"),
    ("BILL TO PACIFIC CREST LINES LTD NET 15", "PACIFIC CREST LINES LTD"),
    # context trap: lexicon org embedded in a larger proper name
    ("DELIVER TO ACME LOGISTICS LLC PARKING GARAGE B", None),
]


def _score(fixture, finder):
    tp = fp = fn = 0
    for line, truth in fixture:
        got = finder(line)
        got_text = got[0] if got else None
        if truth is None:
            if got_text is not None:
                fp += 1
        elif got_text == truth:
            tp += 1
        else:
            fn += 1
            if got_text is not None and got_text != truth:
                fp += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    return tp, fp, fn, precision, recall


class TestPersonFloor:
    def test_pinned_precision_recall(self):
        tp, fp, fn, p, r = _score(PERSON_FIXTURE, find_person)
        # exact pins: 10 in-lexicon found, 5 held-out missed, 2 traps fired
        assert (tp, fp, fn) == (10, 2, 5)
        assert round(p, 3) == 0.833
        assert round(r, 3) == 0.667

    def test_heldout_names_are_structurally_missed(self):
        """The misses are exactly the out-of-lexicon rows — documenting
        that the recall gap is structural (lexicon coverage), not a regex
        bug; extending persons.txt is the production fix."""
        for line, truth in PERSON_FIXTURE[10:15]:
            assert find_person(line) is None, (line, truth)


class TestOrgFloor:
    def test_pinned_precision_recall(self):
        tp, fp, fn, p, r = _score(ORG_FIXTURE, find_org)
        assert (tp, fp, fn) == (6, 1, 3)
        assert round(p, 3) == 0.857
        assert round(r, 3) == 0.667

    def test_golden_vendors_always_hit(self):
        """The reference's three hardcoded vendors (Worker.cs:299-364)
        must never regress — they are the compatibility contract."""
        from textextraction_spark.core.gazetteer import GOLDEN_VENDORS

        for v in GOLDEN_VENDORS:
            got = find_org(f"REMIT TO {v} THANK YOU")
            assert got is not None and got[0] == v
