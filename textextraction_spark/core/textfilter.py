"""P1 — special-character strip (SURVEY.md §2.3 P1).

Reference semantics: ``Regex.Replace(str, @"[^\\w\\s(#\\-@&$:\\/.,|)]", "",
IgnoreCase).TrimEnd()`` applied to every OCR word and line
(``TextExtraction/FilterData.cs:12-15``; call sites ``Worker.cs:167,179,218``).

Dialect deltas (frozen here, per SURVEY.md §7.4.2): .NET ``\\w`` and Python
``re`` ``\\w`` agree on ASCII + underscore and both are Unicode-aware;
``TrimEnd()`` with no args trims Unicode whitespace like ``str.rstrip()``.
We pin the *Python* behavior as the oracle truth.
"""

from __future__ import annotations

import re

# Keep chars: word chars, whitespace, and ( # - @ & $ : / . , | )
SPECIAL_CHARS = re.compile(r"[^\w\s(#\-@&$:\/.,|)]")


def remove_special_characters(s: str) -> str:
    """Drop characters outside the keep-set, then right-trim whitespace."""
    return SPECIAL_CHARS.sub("", s).rstrip()


# The ASCII characters the filter keeps, read off SPECIAL_CHARS itself.
_ASCII_KEPT = bytes(c for c in range(128) if not SPECIAL_CHARS.match(chr(c)))


def has_special_characters(s: str) -> bool:
    """Whether ``SPECIAL_CHARS`` matches anywhere in ``s``; for ASCII
    text, a byte-table pass instead of a regex scan."""
    if s.isascii():
        return bool(s.encode("ascii").translate(None, _ASCII_KEPT))
    return SPECIAL_CHARS.search(s) is not None
