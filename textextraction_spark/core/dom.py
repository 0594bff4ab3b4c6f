"""S3 replacement — HTML bytes -> block stream (SURVEY.md §2.1 S3).

The reference materializes documents by walking Tesseract's 4-level
Block -> Para -> TextLine -> Word iterator in traversal order
(``TextExtraction/Worker.cs:144-200``).  Our documents are HTML, so the
analog is a DOM walk in document order: parser events are folded into a
flat stream of *text blocks*, one per block-level element, each carrying
link-density and ancestor metadata for the boilerplate classifier
(boilerplate.py).

Two parser front-ends drive the SAME fold (``BlockSink``):

- ``fast``   — a compiled-regex tag scanner (default): ~3x the stdlib
  parser's throughput; handles comments, CDATA, quoted attributes,
  rawtext elements (script/style), and entity refs.
- ``stdlib`` — ``html.parser.HTMLParser``: the equivalence oracle; tests
  assert both produce identical block streams on fixtures and
  property-generated documents.

Determinism contract: the block stream is a pure function of the bytes —
no wall clock, no randomness, no per-batch state — which is what makes
extracted text byte-identical at any parallelism (north_rule).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

# Elements that start/end a text block (CSS display:block-ish set).
BLOCK_TAGS = frozenset(
    """address article aside blockquote body caption dd div dl dt fieldset
    figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr li main nav ol
    option p pre section select summary table tbody td tfoot th thead tr ul
    br""".split()
)

# Subtrees whose text is never content.
# NOTE: <head> itself is NOT skipped — a malformed doc missing </head>
# would swallow the whole body; <title> covers the only head text.
SKIP_TAGS = frozenset("script style noscript template svg iframe title".split())

# Elements whose content is raw text until the matching close tag.
RAWTEXT_TAGS = frozenset("script style".split())

# Ancestor tags that mark a block as structural boilerplate regardless of
# its link density (tag-path classification per the north_star).
BOILER_ANCESTORS = frozenset("nav footer header aside form select option".split())

# Per-tag behavior as one flags int: the event fold then pays a single
# dict hit per tag instead of 3-4 frozenset probes, and the scanner can
# skip the sink call entirely for flagless inline tags (span/b/em/...),
# which dominate real markup.
_F_SKIP, _F_BLOCK, _F_BOILER, _F_LINK, _F_BR, _F_RAWTEXT = 1, 2, 4, 8, 16, 32
TAG_FLAGS: dict[str, int] = {}
for _t in SKIP_TAGS:
    TAG_FLAGS[_t] = TAG_FLAGS.get(_t, 0) | _F_SKIP
for _t in BLOCK_TAGS:
    TAG_FLAGS[_t] = TAG_FLAGS.get(_t, 0) | _F_BLOCK
for _t in BOILER_ANCESTORS:
    TAG_FLAGS[_t] = TAG_FLAGS.get(_t, 0) | _F_BOILER
for _t in RAWTEXT_TAGS:
    TAG_FLAGS[_t] = TAG_FLAGS.get(_t, 0) | _F_RAWTEXT
for _t in ("br", "hr"):
    TAG_FLAGS[_t] = TAG_FLAGS.get(_t, 0) | _F_BR
TAG_FLAGS["a"] = TAG_FLAGS.get("a", 0) | _F_LINK



@dataclass(slots=True)
class RawBlock:
    """One block-level run of inline text, pre-classification."""

    index: int  # document order
    text: str  # whitespace-normalized
    n_words: int
    n_link_words: int  # words inside <a>
    boiler_ancestor: bool  # under nav/footer/header/aside/...
    tag_path: str  # e.g. "body/div/p" (outermost block ancestry)

    @property
    def link_density(self) -> float:
        return self.n_link_words / self.n_words if self.n_words else 0.0


class BlockSink:
    """The event fold: start/end/text events -> RawBlocks.  Tolerates
    malformed input (unclosed tags, stray end tags) — stack ops are
    best-effort, matching how lenient crawl parsing must be."""

    __slots__ = ("blocks", "_parts", "_stack", "_skip_depth", "_link_depth", "_boiler_depth")

    def __init__(self) -> None:
        self.blocks: list[RawBlock] = []
        self._parts: list[tuple[str, bool]] = []  # (text, in_link)
        self._stack: list[str] = []
        self._skip_depth = 0
        self._link_depth = 0
        self._boiler_depth = 0

    def _flush(self) -> None:
        if not self._parts:
            return
        parts = self._parts
        one = len(parts) == 1
        raw = parts[0][0] if one else "".join(t for t, _ in parts)
        # whitespace-normalize via split/join (one pass; str.split and
        # regex \s agree on the Unicode whitespace set we care about)
        words = raw.split()
        if words:
            text = " ".join(words)
            if one:
                # single part: its words ARE the block's words
                n_link = len(words) if parts[0][1] else 0
            else:
                n_link = 0
                for t, in_link in parts:
                    if in_link:
                        n_link += len(t.split())
            n_words = len(words)
            self.blocks.append(
                RawBlock(
                    index=len(self.blocks),
                    text=text,
                    n_words=n_words,
                    n_link_words=min(n_link, n_words),
                    boiler_ancestor=self._boiler_depth > 0,
                    tag_path="/".join(self._stack[-4:]),
                )
            )
        self._parts = []

    def start(self, tag: str, flags: int | None = None) -> None:
        if flags is None:  # stdlib front-end; the fast scanner passes them
            flags = TAG_FLAGS.get(tag, 0)
        if flags & _F_SKIP:
            self._skip_depth += 1
            return
        if flags & _F_BLOCK:
            self._flush()
            if not flags & _F_BR:
                self._stack.append(tag)
                if flags & _F_BOILER:
                    self._boiler_depth += 1
        if flags & _F_LINK:
            self._link_depth += 1

    def end(self, tag: str, flags: int | None = None) -> None:
        if flags is None:  # stdlib front-end; the fast scanner passes them
            flags = TAG_FLAGS.get(tag, 0)
        if flags & _F_SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if flags & _F_BLOCK and not flags & _F_BR:
            self._flush()
            if tag in self._stack:  # best-effort unwind to the open tag
                while self._stack:
                    popped = self._stack.pop()
                    if popped in BOILER_ANCESTORS:
                        self._boiler_depth = max(0, self._boiler_depth - 1)
                    if popped == tag:
                        break
        if flags & _F_LINK:
            self._link_depth = max(0, self._link_depth - 1)

    def text(self, data: str) -> None:
        if self._skip_depth > 0 or not data:
            return
        self._parts.append((data, self._link_depth > 0))

    def finish(self) -> list[RawBlock]:
        self._flush()
        return self.blocks


# ---------------------------------------------------------------- stdlib
class _BlockCollector(HTMLParser):
    """html.parser front-end (the equivalence oracle)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.sink = BlockSink()

    def handle_starttag(self, tag, attrs):  # noqa: ANN001
        self.sink.start(tag)

    def handle_startendtag(self, tag, attrs):  # noqa: ANN001
        self.sink.start(tag)
        self.sink.end(tag)

    def handle_endtag(self, tag):  # noqa: ANN001
        self.sink.end(tag)

    def handle_data(self, data):  # noqa: ANN001
        self.sink.text(data)


# ------------------------------------------------------------------ fast
# One pass: comments, CDATA, declarations/PIs, or a tag with optionally
# quoted attribute values (so '>' inside quotes doesn't end the tag).
_TAG_RE = re.compile(
    rb"<(?:"
    rb"!--.*?(?:-->|$)"  # comment
    rb"|!\[CDATA\[.*?(?:\]\]>|$)"  # CDATA
    rb"|[!?][^>]*(?:>|$)"  # doctype / PI
    rb"|(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:\"[^\"]*\"|'[^']*'|[^>])*?)(/?)(?:>|$)"
    rb")",
    re.DOTALL,
)


# tag-name bytes -> (lowercase str, flags), memoized (tag vocabulary is
# tiny; the cache turns a decode+lower+flags-lookup per tag into one
# dict hit)
_NAME_CACHE: dict[bytes, tuple[str, int]] = {}


def _tag_info(tag: bytes) -> tuple[str, int]:
    info = _NAME_CACHE.get(tag)
    if info is None:
        name = tag.decode("ascii", "replace").lower()
        info = (name, TAG_FLAGS.get(name, 0))
        if len(_NAME_CACHE) < 4096:  # bound growth on adversarial input
            _NAME_CACHE[tag] = info
    return info


# rawtext close-tag scanners, precompiled per rawtext element
_RAWTEXT_CLOSE = {
    t: re.compile(rb"</" + t.encode() + rb"\s*>", re.IGNORECASE)
    for t in RAWTEXT_TAGS
}


def _scan_fast(data: bytes, sink: BlockSink) -> None:
    pos = 0
    n = len(data)
    find = _TAG_RE.search
    sink_text = sink.text
    sink_start = sink.start
    sink_end = sink.end
    cache_get = _NAME_CACHE.get
    while pos < n:
        m = find(data, pos)
        if m is None:
            sink_text(_decode_text(data[pos:]))
            break
        start, end = m.span()
        if start > pos:
            chunk = data[pos:start]
            # fast path: inter-tag whitespace (very common) — a single
            # space is equivalent after block-level normalization
            if chunk.isspace():
                sink_text(" ")
            else:
                sink_text(_decode_text(chunk))
        pos = end
        is_end, tag, attrs, slash = m.group(1, 2, 3, 4)
        if tag is None:  # comment / CDATA / doctype
            continue
        info = cache_get(tag)
        name, flags = info if info is not None else _tag_info(tag)
        # flagless inline tags (span/b/em/...) are no-ops in the fold —
        # skip the sink calls entirely (they dominate real markup)
        if is_end:
            if flags:
                sink_end(name, flags)
        else:
            if flags:
                sink_start(name, flags)
            # Self-closing only when the slash can't belong to an unquoted
            # attribute value (`<a href=/>` means href="/", not <a/>).
            if slash and (
                not attrs or attrs[-1:] in (b" ", b"\t", b"\n", b"\r", b'"', b"'")
            ):
                if flags:
                    sink_end(name, flags)
            elif flags & _F_RAWTEXT:
                # rawtext: skip to the matching close tag (browser behavior)
                cm = _RAWTEXT_CLOSE[name].search(data, pos)
                if cm is None:
                    sink_end(name, flags)  # unterminated: drop rest like stdlib
                    pos = n
                else:
                    pos = cm.end()
                    sink_end(name, flags)


def _decode_text(chunk: bytes) -> str:
    try:
        s = chunk.decode("utf-8")
    except UnicodeDecodeError:
        s = chunk.decode("latin-1")
    if "&" in s:
        s = unescape(s)
    return s


def parse_blocks(html_bytes: bytes, engine: str = "fast") -> list[RawBlock]:
    """HTML bytes -> ordered RawBlocks.

    Decoding: UTF-8 with latin-1 fallback (crawl data is dirty; never
    raises).  A fault in the fast scanner propagates, so the caller
    (``extract_document``) records an error instead of a row with
    partial text.  ``engine="stdlib"`` runs html.parser instead of the
    fast scanner — same output, used as the equivalence oracle in tests."""
    if engine == "fast":
        sink = BlockSink()
        _scan_fast(html_bytes, sink)
        return sink.finish()

    try:
        text = html_bytes.decode("utf-8")
    except UnicodeDecodeError:
        text = html_bytes.decode("latin-1")
    p = _BlockCollector()
    try:
        p.feed(text)
        p.close()
    except Exception:
        pass
    return p.sink.finish()
