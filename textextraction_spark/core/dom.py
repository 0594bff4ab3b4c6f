"""S3 replacement — HTML bytes -> block stream (SURVEY.md §2.1 S3).

The reference materializes documents by walking Tesseract's 4-level
Block -> Para -> TextLine -> Word iterator in traversal order
(``TextExtraction/Worker.cs:144-200``).  Our documents are HTML, so the
analog is a DOM walk in document order: parser events are folded into a
flat stream of *text blocks*, one per block-level element, each carrying
link-density and ancestor metadata for the boilerplate classifier
(boilerplate.py).

Two parser front-ends run the SAME fold (``BlockSink``'s rules):

- ``fast``   — a compiled-regex tag scanner (default) with the fold
  inlined in its loop: ~3.5x the stdlib parser's throughput (≈47 against
  ≈169 µs per page on 3,800 generated benchmark pages, one core);
  handles comments, CDATA, quoted attributes, rawtext elements
  (script/style), and entity refs.
- ``stdlib`` — ``html.parser.HTMLParser`` feeding ``BlockSink``: the
  equivalence oracle; tests assert both produce identical block streams
  on fixtures and property-generated documents.

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
# skip the fold entirely for flagless inline tags (span/b/em/...),
# which dominate real markup.
_F_SKIP, _F_BLOCK, _F_BOILER, _F_LINK, _F_BR = 1, 2, 4, 8, 16
TAG_FLAGS: dict[str, int] = {}
for _t in SKIP_TAGS:
    TAG_FLAGS[_t] = TAG_FLAGS.get(_t, 0) | _F_SKIP
for _t in BLOCK_TAGS:
    TAG_FLAGS[_t] = TAG_FLAGS.get(_t, 0) | _F_BLOCK
for _t in BOILER_ANCESTORS:
    TAG_FLAGS[_t] = TAG_FLAGS.get(_t, 0) | _F_BOILER
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

    __slots__ = (
        "blocks", "_parts", "_linked", "_stack", "_skip_depth", "_link_depth", "_boiler_depth",
    )

    def __init__(self) -> None:
        self.blocks: list[RawBlock] = []
        self._parts: list[str] = []  # text of the pending block
        self._linked: list[str] = []  # the parts of it inside <a>
        self._stack: list[str] = []
        self._skip_depth = 0
        self._link_depth = 0
        self._boiler_depth = 0

    def _flush(self) -> None:
        if self._parts:
            _flush(self.blocks, self._parts, self._linked, self._boiler_depth, self._stack)
            self._parts = []
            self._linked = []

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
        self._parts.append(data)
        if self._link_depth > 0:
            self._linked.append(data)

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
_ATTR = rb"(?:\"[^\"]*\"|'[^']*'|[^>])"  # quoted value, or any byte but '>'
# Last attribute bytes after which a '/' closes the tag rather than
# ending an unquoted attribute value (`<a href=/>` means href="/").
_SELF_CLOSE_AFTER = (b" ", b"\t", b"\n", b"\r", b'"', b"'")


def _rawtext_element(tag: str) -> bytes:
    """A script/style element from its start tag through its close tag,
    or through the end of the input when unterminated (dropped, as
    stdlib does).  It matches exactly where the generic tag alternative
    would read a start tag of ``tag`` that does not close itself, so the
    scan never tokenizes a rawtext body.  The start tag ends where the
    generic alternative's would: either right after the name, or
    (atomically, so no other attribute reading is tried) after at least
    one attribute item, and then not as ``/>`` preceded by whitespace or
    a quote (the self-closing form).  A self-closing tag that ends the
    input without ``>`` may be read as unterminated: nothing but a
    newline follows it, so both readings give the same blocks."""
    name = b"(?i:" + tag.encode() + b")"
    return (
        name + rb"(?![a-zA-Z0-9-])"
        rb"(?:(?:>|$)|(?!/?(?:>|$))(?>" + _ATTR + rb"+?(?:/(?:>|$)|>|$))"
        rb"(?<![" + re.escape(b"".join(_SELF_CLOSE_AFTER)) + rb"]/>))"
        rb"(?:.*?</" + name + rb"\s*>|.*)"
    )


# One pass: comments, CDATA, declarations/PIs, rawtext elements, or a tag
# with optionally quoted attribute values (so '>' inside quotes doesn't
# end the tag).
_TAG_RE = re.compile(
    rb"<(?:"
    rb"!--.*?(?:-->|$)"  # comment
    rb"|!\[CDATA\[.*?(?:\]\]>|$)"  # CDATA
    rb"|[!?][^>]*(?:>|$)"  # doctype / PI
    + b"".join(b"|" + _rawtext_element(t) for t in sorted(RAWTEXT_TAGS))
    + rb"|(/?)([a-zA-Z][a-zA-Z0-9-]*)(" + _ATTR + rb"*?)(/?)(?:>|$)"
    rb")",
    re.DOTALL,
)
# ``split`` yields a text chunk, then per match its four groups and the
# text chunk after it: the scan walks them five at a time.
_STRIDE = 5
# Matches split at a time: the token list of a tag-dense page stays
# bounded (a split holds ~100 bytes per match), and a page with fewer
# tags, nearly every real one, is split once.
_SPLIT_MATCHES = 1 << 16


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


def _scan_fast(data: bytes, sink: BlockSink) -> None:
    """Scan ``data`` and append its blocks to ``sink.blocks``.

    The scanner and ``BlockSink``'s fold run as one loop over local
    state: a flagless inline tag (span/b/em/...), the bulk of real
    markup, costs one dict hit, and text goes straight into the pending
    block.  The fold's rules are ``BlockSink``'s, with two per-tag
    shortcuts:

    - a self-closing tag (start then end) only flushes, and only when it
      is a block tag: every counter its start raises its end lowers;
    - a rawtext element (script/style, both skip tags) is one match of
      ``_TAG_RE`` with no tag group, like a comment: the skip depth its
      start tag would raise, its close tag would lower.

    Each round splits at most ``_SPLIT_MATCHES`` matches of what is left;
    a regex scan resumes at the end of its last match, so the rounds
    tokenize exactly as one split would.  Every byte is tokenized once,
    so the work is linear in the input."""
    blocks = sink.blocks
    parts: list[str] = []  # text of the pending block
    linked: list[str] = []  # the parts of it inside <a>
    stack: list[str] = []
    skip = link = boiler = 0
    cache_get = _NAME_CACHE.get
    rest = data
    while rest is not None:
        # four empty groups put the first text chunk into the stride
        seq = [None, None, None, None]
        seq += _TAG_RE.split(rest, _SPLIT_MATCHES)
        if len(seq) == _STRIDE * (_SPLIT_MATCHES + 1):
            # the last item is the rest, unsplit: the next round's
            rest = seq[-1]
            seq[-1] = b""
        else:
            rest = None
        it = iter(seq)
        for is_end, tag, attrs, slash, chunk in zip(it, it, it, it, it):
            if tag is not None:  # None: comment / CDATA / doctype / rawtext
                name, flags = cache_get(tag) or _tag_info(tag)
                if flags:
                    self_closing = not is_end and slash and (
                        not attrs or attrs[-1:] in _SELF_CLOSE_AFTER
                    )
                    if flags & _F_SKIP and not self_closing:
                        if is_end:
                            skip = skip - 1 if skip else 0
                        else:
                            skip += 1
                    else:
                        if parts and flags & _F_BLOCK and not (is_end and flags & _F_BR):
                            _flush(blocks, parts, linked, boiler, stack)
                            parts = []
                            linked = []
                        if is_end:
                            if flags & _F_BLOCK and not flags & _F_BR and name in stack:
                                while stack:  # best-effort unwind to the open tag
                                    popped = stack.pop()
                                    if popped in BOILER_ANCESTORS:
                                        boiler = boiler - 1 if boiler else 0
                                    if popped == name:
                                        break
                            if flags & _F_LINK:
                                link = link - 1 if link else 0
                        elif not self_closing:
                            if flags & _F_BLOCK and not flags & _F_BR:
                                stack.append(name)
                                if flags & _F_BOILER:
                                    boiler += 1
                            if flags & _F_LINK:
                                link += 1
            if chunk and not skip:
                if chunk.isspace():
                    # inter-tag whitespace (very common): a single space
                    # is equivalent after block-level normalization
                    text = " "
                else:
                    try:
                        text = chunk.decode("utf-8")
                    except UnicodeDecodeError:
                        text = chunk.decode("latin-1")
                    if "&" in text:
                        text = unescape(text)
                parts.append(text)
                if link:
                    linked.append(text)
    if parts:
        _flush(blocks, parts, linked, boiler, stack)


def _flush(
    blocks: list[RawBlock], parts: list[str], linked: list[str], boiler: int, stack: list[str]
) -> None:
    """Close the pending block: append it to ``blocks`` unless it holds
    no words.  A block's words and link words are counted on its text
    normalized by ``str.split`` (which agrees with regex ``\\s`` on the
    Unicode whitespace set we care about)."""
    words = "".join(parts).split()
    if words:
        n_words = len(words)
        n_link = 0
        for t in linked:
            n_link += len(t.split())
        blocks.append(
            RawBlock(
                len(blocks), " ".join(words), n_words, min(n_link, n_words),
                boiler > 0, "/".join(stack[-4:]),
            )
        )


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
