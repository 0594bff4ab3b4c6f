"""F6 — dictionary + regex gazetteer NER (SURVEY.md §2.8 F6).

Replaces the reference's Stanford CRF 3-class tagger
(``NameRecognizer/EntityRecognizer.cs:29-48`` person, ``:72-91`` org; model
load ``:50-65``) with deterministic lexicon matching per the north_star:
broadcast name/org lexicons compiled into word-boundary alternation
regexes.  Like the reference, the *first* entity occurrence in the line
wins (``EntityRecognizer.cs:38-44`` takes the first <PERSON> group).

Lexicons live in ``textextraction_spark/resources/{persons,orgs}.txt`` —
checked-in, deterministic (FIXTURES.md §3).  On Spark executors the
compiled regexes are process-level singletons (module scope), the
executor-singleton pattern that replaces the reference's load-once engine
init (``Worker.cs:61-95``).
"""

from __future__ import annotations

import re
from functools import lru_cache
from pathlib import Path

RESOURCES = Path(__file__).resolve().parent.parent / "resources"

# First/last pools used both to *generate* persons.txt and by the fixture
# builder + SQL oracles (sources/pages.py) — single source of truth.
FIRST_NAMES = [
    "JAMES", "MARY", "JOHN", "PATRICIA", "ROBERT", "JENNIFER", "MICHAEL",
    "LINDA", "WILLIAM", "ELIZABETH", "DAVID", "BARBARA", "RICHARD", "SUSAN",
    "JOSEPH", "JESSICA",
]
LAST_NAMES = [
    "SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES", "GARCIA", "MILLER",
    "DAVIS", "RODRIGUEZ", "MARTINEZ", "HERNANDEZ", "LOPEZ", "GONZALEZ",
    "WILSON", "ANDERSON", "THOMAS",
]

# Org stems + legal suffixes; the three reference golden vendors
# (``Worker.cs:306,327,349``) are appended verbatim in orgs.txt.
ORG_STEMS = [
    "ACME", "APEX", "ATLAS", "BEACON", "CASCADE", "CRESCENT", "DELTA",
    "EVEREST", "FALCON", "GRANITE", "HARBOR", "IRONWOOD", "JUNIPER",
    "KEYSTONE", "LIBERTY", "MERIDIAN", "NORTHSTAR", "ORION", "PINNACLE",
    "QUARTZ", "REDWOOD", "SUMMIT", "TITAN", "VANGUARD", "WESTBROOK",
]
ORG_KINDS = ["LOGISTICS", "FREIGHT", "TRANSPORT", "CARRIERS"]
ORG_SUFFIXES = ["LLC", "INC", "CORP", "LTD"]

GOLDEN_VENDORS = ["J.J. MARIN, LLC", "COMFREIGHT HAULPAY", "RTS FINANCIAL SERVICE, INC"]


def generate_person_list() -> list[str]:
    return [f"{f} {l}" for f in FIRST_NAMES for l in LAST_NAMES]


def generate_org_list() -> list[str]:
    # 25 stems x 4 kinds = 100 orgs, suffix cycling deterministically.
    orgs = [
        f"{stem} {kind} {ORG_SUFFIXES[(i + j) % 4]}"
        for i, stem in enumerate(ORG_STEMS)
        for j, kind in enumerate(ORG_KINDS)
    ]
    return orgs + GOLDEN_VENDORS


def _load(name: str, fallback) -> list[str]:
    p = RESOURCES / name
    if p.exists():
        return [ln.strip() for ln in p.read_text().splitlines() if ln.strip()]
    return fallback()


def _trie(words: list[str]) -> str:
    """The words as one prefix-factored (trie) alternation.

    It matches what ``"|".join`` over the words sorted longest first
    matches, at fewer steps per position.  All the words that match at
    one position are prefixes of one another, and at every trie node the
    longer continuations are tried before ending there, so the first
    match the engine finds is the longest word whose trailing assertion
    holds, which is the sorted alternation's pick too."""
    root: dict = {}
    for w in words:
        node = root
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = None  # a word ends here

    def alternation(node: dict) -> str:
        alts = []
        for ch, child in node.items():
            if ch:
                # a single-branch chain folds into one literal run
                run = re.escape(ch)
                while child.keys() - {""} and len(child) == 1:
                    (ch, child), = child.items()
                    run += re.escape(ch)
                alts.append(run + alternation(child) if child else run)
        if not alts:
            return ""
        if "" in node:
            alts.append("")  # ending here is the last resort
        return alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"

    return alternation(root)


@lru_cache(maxsize=1)
def person_pattern() -> re.Pattern[str]:
    return re.compile(r"\b(" + _trie(_load("persons.txt", generate_person_list)) + r")\b")


@lru_cache(maxsize=1)
def org_pattern() -> re.Pattern[str]:
    return re.compile(r"(?<!\w)(" + _trie(_load("orgs.txt", generate_org_list)) + r")(?!\w)")


@lru_cache(maxsize=1)
def _org_anchors() -> tuple[tuple[str, ...], int]:
    """The orgs' distinct last words (mostly the legal suffixes), and
    the longest org's length."""
    orgs = _load("orgs.txt", generate_org_list)
    return tuple(dict.fromkeys(o.split()[-1] for o in orgs)), max(map(len, orgs))


def find_person(upper_text: str) -> tuple[str, int, int] | None:
    """First PERSON in an already-uppercased line (the medical path filters
    + uppercases before NER, ``Worker.cs:218``, ``Model/PatientName.cs:16``)."""
    m = person_pattern().search(upper_text)
    return (m.group(1), m.start(1), m.end(1)) if m else None


def find_org(upper_text: str) -> tuple[str, int, int] | None:
    """First ORGANIZATION — generalizes the reference's three hardcoded
    vendor fixtures (``Worker.cs:299-364``) into lexicon matching.

    Every org ends with one of the lexicon's last words, so a text
    holding none of them holds no org, and the first org starts at most
    the longest org's length before the first of them: a few substring
    scans spare most of the pattern search, on a whole document too."""
    last_words, longest = _org_anchors()
    first = -1
    for w in last_words:
        at = upper_text.find(w)
        if at >= 0 and (first < 0 or at < first):
            first = at
    if first < 0:
        return None
    m = org_pattern().search(upper_text, max(0, first - longest))
    return (m.group(1), m.start(1), m.end(1)) if m else None
