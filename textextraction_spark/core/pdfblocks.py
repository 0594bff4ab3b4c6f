"""PDF path — layout-aware block extraction (SURVEY.md §2.1 S2/S3).

The reference rasterizes PDFs at 300 DPI (``Pdf-To-ImageStream/
Convert.cs:9-34``) and OCRs each page back into a block tree
(``Worker.cs:144-200``).  We skip the raster/OCR round-trip entirely: the
``html:binary`` column carries the PDF bytes and we parse the text content
streams directly — page -> text block (``BT .. ET``) -> reading-order sort
(top-to-bottom, then left-to-right), mirroring the reference's
page -> block -> line traversal order.

Scope: PDF 1.4 text content streams (fixture families per FIXTURES.md
§2.4): per page one content stream whose BT..ET blocks are interpreted
SEQUENTIALLY with the standard text-positioning operator set —

    Td / TD   relative line moves (TD also sets leading)
    T* / TL   line advance by leading / set leading
    Tm        absolute text matrix position
    Tj / TJ   show literal ``(s)``, hex ``<73>``, or array mixing both
    ' / "     move-to-next-line-and-show (9.4.3; " also sets spacing)

with PDF string escapes (named + octal) and hex-string whitespace/odd-
digit rules, stored either raw or behind any chain of the FIVE standard
non-image stream filters (PDF 32000-1 §7.4, all stdlib-decodable):
**FlateDecode** (zlib — how virtually every modern producer stores
content), **LZWDecode** (the pre-1.2 mainstay; TIFF §13 variant with
EarlyChange=1), **ASCII85Decode** / **ASCIIHexDecode** (the 7-bit
transport wrappers, usually chained in front of flate or LZW), and
**RunLengthDecode** — ``/Filter`` names one or an array applied
left-to-right.  Filtered streams are decoded in a pre-pass, then parsed
identically to raw ones.  A corrupt stream raises with the failing
filter named (→ the row's ``error`` column); image-only filters
(DCTDecode, JBIG2Decode, ...) stay encoded, and a page whose /Contents
names one raises rather than parsing garbage.

Coordinates are PDF user-space-ish integer "pixels"; origin bottom-left, so
reading order = y DESCENDING, then x ascending.  Anything outside this
subset yields an empty Doc with an error recorded by the caller (image-only
PDFs would additionally need the reference's OCR path).

**Structural mode (PDF 1.5 object graph).**  When the file carries a real
page tree (``/Type /Catalog``), the parser does what a viewer does instead
of scanning the byte soup: it indexes every top-level ``N 0 obj``,
expands **object streams** (``/Type /ObjStm`` — compressed containers of
non-stream objects, where modern producers store page dicts), resolves the
catalog → ``/Pages`` → ``/Kids`` tree recursively, and concatenates each
page's ``/Contents`` streams (single ref or array) in tree order.
**Cross-reference streams** (``/Type /XRef``, binary flate payload) and
image XObjects are recognized and never inflated into the text scan — in
the byte-soup fallback path an inflated xref's random bytes could contain
phantom ``BT .. ET`` matches.  The xref table itself is not needed for
offsets because objects are discovered by a full scan (robust to the
incremental-update PDFs where the last xref chain is broken anyway).
"""

from __future__ import annotations

import re
import zlib

from textextraction_spark.core.model import Doc, Line, Page

PDF_MAGIC = b"%PDF"


class NoTextLayerError(ValueError):
    """The PDF parsed (structure is fine) but carries image XObjects and
    ZERO text-showing operators — a scanned document.  The reference
    handles these by rasterize+OCR (``Worker.cs:144-200``); this engine
    parses the text layer instead (north-star-sanctioned), so the row
    must surface a distinguishable ``no_text_layer`` error rather than a
    silently-empty document a user would mistake for a blank page."""

_PAGE_SPLIT = re.compile(rb"%%PageBreak")
# Block = BT ... ET where the body consumes (string literals) atomically,
# so an 'ET' INSIDE a show string (e.g. `(BUDGET)`) cannot terminate the
# block early.  (Found by the hypothesis escape-roundtrip property.)
_BT_ET = re.compile(rb"BT((?:\((?:[^()\\]|\\.)*\)|[^(])*?)ET", re.DOTALL)
# Content-stream tokenizer: string operands (literal / hex / TJ array),
# numbers, and the text-positioning + show operators.  The block body is
# interpreted SEQUENTIALLY (operand stack -> operator), tracking the text
# line matrix the way a real viewer does — Td/TD translate relative to
# the previous line start, T* advances by the leading, Tm sets the
# position absolutely — so multi-line blocks and chained moves parse
# correctly, not just the single-positioning fixture shape.
_TOKEN = re.compile(
    rb"\((?P<lit>(?:[^()\\]|\\.)*)\)"  # (literal string)
    rb"|<(?P<hex>[0-9A-Fa-f\s]*)>"  # <hex string>
    rb"|\[(?P<arr>(?:\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>|[^\]()])*)\]"
    # PDF reals admit leading '+', a bare leading dot (.5) and a bare
    # trailing dot (5.) — PDF 32000-1 §7.3.3
    rb"|(?P<num>[+-]?(?:\d+\.?\d*|\.\d+))"
    rb"|/(?P<name>[A-Za-z0-9]+)"  # name operand (font selection)
    rb"|(?P<op>Tj|TJ|Td|TD|Tm|TL|Tf|T\*|'|\")",
    re.DOTALL,
)
# strings inside a TJ show-array: literal or hex, kerning numbers skipped
_TJ_STR = re.compile(rb"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>")
_ESC = re.compile(rb"\\([nrtbf()\\]|[0-7]{1,3})")
_WS = re.compile(rb"\s")

# Filtered stream object: dict carrying /Filter, then the stream
# keyword; /Length (when present) slices the exact payload — binary
# bytes may legally contain the "endstream" token, so the length is
# authoritative and the token search is only the fallback.  The dict body
# admits ONE level of nested << >> (e.g. /DecodeParms << ... >>), the
# real-world shape; deeper nesting is out of scope.
_FILTER_OBJ = re.compile(
    rb"<<(?P<dict>(?:[^<>]|<<[^<>]*>>)*?/Filter(?:[^<>]|<<[^<>]*>>)*?)>>"
    rb"\s*stream\r?\n"
)
_LENGTH = re.compile(rb"/Length\s+(\d+)")
_ENDSTREAM = re.compile(rb"\s*endstream")

# ------------------------------------------------------- stream filters
# /Filter is a single name or an array applied left-to-right (PDF
# 32000-1 §7.4).  The five standard non-image filters are implemented
# in pure stdlib; image-only filters (DCTDecode, JBIG2Decode, ...)
# stay encoded — they are never part of a text content stream, and a
# page whose /Contents DOES name one raises (surfaced via the error
# column) rather than parsing garbage.
_FILTER_SPEC = re.compile(
    rb"/Filter\s*(?:\[(?P<arr>[^\[\]]*)\]|/(?P<one>[A-Za-z0-9]+))"
)
_FILTER_NAME = re.compile(rb"/([A-Za-z0-9]+)")
SUPPORTED_FILTERS = {
    "FlateDecode",
    "LZWDecode",
    "ASCIIHexDecode",
    "ASCII85Decode",
    "RunLengthDecode",
}


def _filter_chain(dict_bytes: bytes) -> list[str]:
    m = _FILTER_SPEC.search(dict_bytes)
    if not m:
        return []
    if m.group("one") is not None:
        return [m.group("one").decode("ascii")]
    return [
        n.group(1).decode("ascii")
        for n in _FILTER_NAME.finditer(m.group("arr"))
    ]


def _ascii_hex_decode(data: bytes) -> bytes:
    """§7.4.2: hex pairs, whitespace ignored, '>' is EOD, an odd final
    digit is padded with 0."""
    body = data.split(b">", 1)[0]
    h = _WS.sub(b"", body)
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii"))
    except ValueError as e:
        raise ValueError(f"corrupt ASCIIHexDecode stream: {e}") from None


def _ascii85_decode(data: bytes) -> bytes:
    """§7.4.3: base-85 groups ('z' = four zero bytes), '~>' is EOD."""
    import base64

    body = _WS.sub(b"", data).split(b"~>", 1)[0]
    try:
        return base64.a85decode(body)
    except ValueError as e:
        raise ValueError(f"corrupt ASCII85Decode stream: {e}") from None


def _runlength_decode(data: bytes) -> bytes:
    """§7.4.5 (PackBits shape): length byte L < 128 -> L+1 literal
    bytes; L > 128 -> the next byte repeated 257-L times; 128 is EOD
    (and a stream without one is corrupt)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:
            return bytes(out)
        if ln < 128:
            if i + ln + 1 > n:
                raise ValueError("corrupt RunLengthDecode stream: short literal")
            out += data[i : i + ln + 1]
            i += ln + 1
        else:
            if i >= n:
                raise ValueError("corrupt RunLengthDecode stream: short run")
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    raise ValueError("corrupt RunLengthDecode stream: missing EOD")


def _lzw_decode_pdf(data: bytes) -> bytes:
    """§7.4.4 LZWDecode with the default EarlyChange=1 — the TIFF §13
    variant: MSB-first codes, initial width 9, ClearCode 256 / EOD 257,
    width bump one code early (the decoder's table runs one entry
    behind the writer's, so it fires at ``(1 << width) - 2``).  A
    ClearCode resets the table; a truncated stream, a code past the
    table or runaway expansion raises ValueError.  The fixture encoder
    is ``sources/pages.py``'s ``_lzw_encode``."""
    out = bytearray()
    base: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width, prev = 9, None
    bitbuf = nbits = pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("corrupt LZWDecode stream: no EOD")
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        bitbuf &= (1 << nbits) - 1
        if code == 256:
            table = list(base)
            width, prev = 9, None
            continue
        if code == 257:
            return bytes(out)
        if prev is None:
            if code > 255:
                raise ValueError("corrupt LZWDecode stream: bad first code")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError("corrupt LZWDecode stream: code gap")
            table.append(prev + entry[:1])
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
        out += entry
        if len(out) > 1 << 26:
            raise ValueError("corrupt LZWDecode stream: runaway expansion")
        prev = entry


def _apply_filters(payload: bytes, chain: list[str]) -> bytes:
    """Decode a fully-supported filter chain left-to-right; ValueError
    (with the failing filter named) on corrupt data."""
    for name in chain:
        if name == "FlateDecode":
            try:
                payload = zlib.decompress(payload)
            except zlib.error as e:
                raise ValueError(
                    f"corrupt FlateDecode stream: {e}"
                ) from None
        elif name == "LZWDecode":
            payload = _lzw_decode_pdf(payload)
        elif name == "ASCIIHexDecode":
            payload = _ascii_hex_decode(payload)
        elif name == "ASCII85Decode":
            payload = _ascii85_decode(payload)
        elif name == "RunLengthDecode":
            payload = _runlength_decode(payload)
        else:  # callers gate on SUPPORTED_FILTERS; belt and braces
            raise ValueError(f"unsupported stream filter /{name}")
    return payload


def is_pdf(data: bytes) -> bool:
    return data[:4] == PDF_MAGIC


def _inflate_streams(data: bytes) -> bytes:
    """Replace every filtered stream object whose /Filter chain is fully
    supported with its decoded content (raising ValueError on corrupt
    data — surfaced via the error column).  Unfiltered bytes and
    streams with unsupported (image) filters pass through untouched, so
    mixed raw/compressed PDFs parse with one code path."""
    if b"/Filter" not in data:
        return data
    out = bytearray()
    pos = 0
    for m in _FILTER_OBJ.finditer(data):
        if m.start() < pos:  # overlapping match inside a consumed stream
            continue
        start = m.end()
        lm = _LENGTH.search(m.group("dict"))
        if lm:
            end = start + int(lm.group(1))
        else:
            em = _ENDSTREAM.search(data, start)
            end = em.start() if em else len(data)
        # Never inflate non-text payloads into the BT..ET scan: a binary
        # cross-reference stream / object stream / image decompresses to
        # bytes that can contain phantom BT..ET matches.  (Files with a
        # real page tree take the structural path and never get here.)
        dict_bytes = m.group("dict")
        chain = _filter_chain(dict_bytes)
        if (
            _XREF_STM.search(dict_bytes)
            or _OBJSTM.search(dict_bytes)
            or _IMAGE_XOBJ.search(dict_bytes)
            or not chain
            or any(c not in SUPPORTED_FILTERS for c in chain)
        ):
            em = _ENDSTREAM.search(data, end)
            out += data[pos : m.start()]
            pos = em.end() if em else len(data)
            continue
        inflated = _apply_filters(data[start:end], chain)
        em = _ENDSTREAM.search(data, end)
        tail = em.end() if em else len(data)
        out += data[pos : m.start()]
        out += inflated
        pos = tail
    out += data[pos:]
    return bytes(out)


# ------------------------------------------------- structural mode (PDF 1.5)
# One-level-nested dict body (same nesting budget as _FILTER_OBJ).
_ANCHORED_DICT = re.compile(rb"\s*(<<(?:[^<>]|<<[^<>]*>>)*>>)")
_TOP_OBJ = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_STREAM_KW = re.compile(rb"\s*stream\r?\n")
_CATALOG = re.compile(rb"/Type\s*/Catalog\b")
_PAGES_REF = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R\b")
_TYPE_PAGES = re.compile(rb"/Type\s*/Pages\b")
_TYPE_PAGE = re.compile(rb"/Type\s*/Page\b")
_KIDS = re.compile(rb"/Kids\s*\[((?:[^\[\]])*)\]")
_CONTENTS_ONE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R\b")
_CONTENTS_ARR = re.compile(rb"/Contents\s*\[((?:[^\[\]])*)\]")
_REF = re.compile(rb"(\d+)\s+\d+\s+R\b")
_OBJSTM = re.compile(rb"/Type\s*/ObjStm\b")
_XREF_STM = re.compile(rb"/Type\s*/XRef\b")
_IMAGE_XOBJ = re.compile(rb"/Subtype\s*/Image\b")
_N_KEY = re.compile(rb"/N\s+(\d+)\b")
_FIRST_KEY = re.compile(rb"/First\s+(\d+)\b")
_INT = re.compile(rb"\d+")


def _scan_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Index every top-level indirect object by number -> (dict, payload).

    ``payload`` is the object's stream content (flate-inflated when the
    dict says so), or None for a non-stream object.  Objects are found by
    a full linear scan rather than the xref table: scan order is what
    survives the incremental-update PDFs whose final xref chain points at
    overwritten offsets, and it needs no bootstrap parse of the binary
    cross-reference stream."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    guard = 0  # end of the last consumed stream payload: binary zlib
    # bytes can contain accidental "N 0 obj" matches, which must not
    # register as objects
    for m in _TOP_OBJ.finditer(data):
        if m.start() < guard:
            continue
        dm = _ANCHORED_DICT.match(data, m.end())
        if not dm:
            continue  # non-dict object (int, array, ...) — never page tree
        d = dm.group(1)
        payload: bytes | None = None
        sm = _STREAM_KW.match(data, dm.end())
        if sm:
            start = sm.end()
            lm = _LENGTH.search(d)
            if lm:
                end = start + int(lm.group(1))
            else:
                em = _ENDSTREAM.search(data, start)
                end = em.start() if em else len(data)
            payload = data[start:end]
            em = _ENDSTREAM.search(data, end)
            guard = em.end() if em else len(data)
            chain = _filter_chain(d)
            if chain and all(c in SUPPORTED_FILTERS for c in chain):
                try:
                    payload = _apply_filters(payload, chain)
                except ValueError as e:
                    raise ValueError(
                        f"{e} in obj {int(m.group(1))}"
                    ) from None
            # unsupported (image) chains stay encoded; _page_contents
            # raises if such an object is actually used as content
        # later definitions win, matching incremental-update semantics
        objs[int(m.group(1))] = (d, payload)
    return objs


def _expand_objstms(objs: dict[int, tuple[bytes, bytes | None]]) -> None:
    """Register the objects stored inside /Type /ObjStm containers.

    An object stream's payload is ``/First`` header bytes of
    (objnum offset) integer pairs for ``/N`` objects, then the serialized
    objects back to back (PDF 32000-1 §7.5.7; streams may not nest, so
    every contained object is dict/array/scalar — page dicts in practice).
    Contained objects never shadow a top-level definition of the same
    number found later in the file (incremental updates append)."""
    for num in list(objs):
        d, payload = objs[num]
        if not (_OBJSTM.search(d) and payload is not None):
            continue
        nm, fm = _N_KEY.search(d), _FIRST_KEY.search(d)
        if not (nm and fm):
            raise ValueError(f"ObjStm {num} missing /N or /First")
        n, first = int(nm.group(1)), int(fm.group(1))
        ints = [int(x.group(0)) for x in _INT.finditer(payload[:first])]
        pairs = list(zip(ints[0::2], ints[1::2]))[:n]
        for i, (objnum, off) in enumerate(pairs):
            end = first + pairs[i + 1][1] if i + 1 < len(pairs) else len(payload)
            if objnum not in objs:
                objs[objnum] = (payload[first + off : end], None)


def _page_contents(objs: dict, page_dict: bytes) -> bytes:
    refs: list[int] = []
    cm = _CONTENTS_ONE.search(page_dict)
    if cm:
        refs = [int(cm.group(1))]
    else:
        am = _CONTENTS_ARR.search(page_dict)
        if am:
            refs = [int(r.group(1)) for r in _REF.finditer(am.group(1))]
    parts = []
    for r in refs:
        if r not in objs or objs[r][1] is None:
            continue
        bad = [
            c
            for c in _filter_chain(objs[r][0])
            if c not in SUPPORTED_FILTERS
        ]
        if bad:
            raise ValueError(
                f"unsupported content stream filter /{bad[0]} in obj {r}"
            )
        parts.append(objs[r][1])
    return b"\n".join(parts)


def _walk_pages(objs: dict, node_num: int, out: list[bytes], depth: int = 0) -> None:
    if depth > 32 or node_num not in objs:  # cycle/overflow guard
        return
    d = objs[node_num][0]
    if _TYPE_PAGE.search(d) and not _TYPE_PAGES.search(d):
        out.append((_page_contents(objs, d), _page_fonts(objs, d)))
        return
    km = _KIDS.search(d)
    if km:
        for r in _REF.finditer(km.group(1)):
            _walk_pages(objs, int(r.group(1)), out, depth + 1)


def _structural_pages(data: bytes) -> list[tuple] | None:
    """``(content_stream, fonts)`` per page in page-tree order — fonts =
    the page's resolved ToUnicode maps, ``{}`` when it has none — or
    None when the file has no object graph (the fixture byte-soup
    form).  A present-but-broken page tree raises — surfaced via the
    row's error column, like a corrupt flate stream."""
    if not _CATALOG.search(data):
        return None
    objs = _scan_objects(data)
    _expand_objstms(objs)
    root = None
    for d, _payload in objs.values():
        if _CATALOG.search(d):
            pm = _PAGES_REF.search(d)
            if pm:
                root = int(pm.group(1))
    if root is None:
        raise ValueError("catalog present but no /Pages root resolvable")
    pages: list[bytes] = []
    _walk_pages(objs, root, pages)
    if not pages:
        raise ValueError("page tree resolved to zero pages")
    return pages


_ESC_MAP = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> str:
    """PDF string escapes: named (\\n \\r \\t \\b \\f \\( \\) \\\\) and
    1-3 digit octal codes (\\101 == 'A')."""

    def sub(m: re.Match) -> bytes:
        g = m.group(1)
        if g.isdigit():
            return bytes([int(g, 8) & 0xFF])
        return _ESC_MAP[g]

    return _ESC.sub(sub, raw).decode("latin-1")


def _unhex(raw: bytes) -> str:
    """PDF hex string <...>: whitespace ignored, odd digit count padded
    with a trailing 0 (PDF 32000-1 §7.3.4.3)."""
    h = _WS.sub(b"", raw)
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii")).decode("latin-1")


# ----------------------------------------------------- ToUnicode CMaps
# Real crawl PDFs overwhelmingly use SUBSET fonts whose glyph codes are
# arbitrary (a latin-1 read of the show strings is garbage); the
# /ToUnicode CMap (PDF 32000-1 §9.10.3) is the code->text mapping a
# text extractor must apply.  Scope: 2-byte code space (the Type0/CID
# standard), ``bfchar`` pairs and ``bfrange`` runs with a hex dst
# (incremented on the last UTF-16BE unit); dst values decode as
# UTF-16BE so multi-char ligature targets (<00660066> = "ff") work.
# Codes with no mapping render U+FFFD — visible, never silently wrong.
_BFCHAR = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXPAIR = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEXTRIPLE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>"
)
_TOUNI_REF = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R\b")
_ENCODING_REF = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R\b")
_DIFFERENCES = re.compile(rb"/Differences\s*\[([^\]]*)\]")
_DIFF_ITEM = re.compile(rb"(\d+)|/([A-Za-z0-9.]+)")
_RESOURCES_REF = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R\b")
_FONT_REF = re.compile(rb"/Font\s+(\d+)\s+\d+\s+R\b")
_FONT_INLINE = re.compile(rb"/Font\s*<<([^<>]*)>>")
_FONT_ENTRY = re.compile(rb"/([A-Za-z0-9]+)\s+(\d+)\s+\d+\s+R\b")


def _u16be(hexs: bytes) -> str:
    try:
        return bytes.fromhex(hexs.decode("ascii")).decode(
            "utf-16-be", "replace"
        )
    except ValueError:
        return ""


def parse_tounicode(cmap: bytes) -> dict[int, str]:
    """ToUnicode CMap payload -> {2-byte code: unicode string}."""
    out: dict[int, str] = {}
    for m in _BFRANGE.finditer(cmap):
        for t in _HEXTRIPLE.finditer(m.group(1)):
            lo, hi = int(t.group(1), 16), int(t.group(2), 16)
            dst = _u16be(t.group(3))
            if not dst or hi < lo or hi - lo > 0xFFFF:
                continue
            base = ord(dst[-1])
            if base + (hi - lo) > 0x10FFFF:
                continue
            for k in range(hi - lo + 1):
                out[lo + k] = dst[:-1] + chr(base + k)
    for m in _BFCHAR.finditer(cmap):
        # non-overlapping sequential pairs: finditer consumes both hex
        # operands of each mapping before the next starts
        for p in _HEXPAIR.finditer(m.group(1)):
            out[int(p.group(1), 16)] = _u16be(p.group(2))
    return out


# Glyph-name -> text for /Encoding /Differences simple fonts (the
# pre-Type0 mechanism: pdflatex-era Type1/TrueType subsets remap byte
# codes to named glyphs).  Single-letter names are themselves, plus the
# common AGL punctuation names and the algorithmic uniXXXX form;
# unknown names render U+FFFD like unmapped CIDs.
_GLYPH_NAMES = {
    "space": " ", "period": ".", "comma": ",", "hyphen": "-",
    "colon": ":", "semicolon": ";", "slash": "/", "dollar": "$",
    "percent": "%", "ampersand": "&", "parenleft": "(",
    "parenright": ")", "plus": "+", "equal": "=", "question": "?",
    "exclam": "!", "at": "@", "underscore": "_", "quotesingle": "'",
    "quotedbl": '"', "numbersign": "#", "asterisk": "*",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
}


def _glyph_to_text(name: str) -> str:
    if len(name) == 1 and name.isalpha():
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            return "�"
    return "�"


def parse_differences(enc_dict: bytes) -> dict[int, str]:
    """/Differences array -> {1-byte code: text}: each number resets
    the running code, each /name consumes and increments it."""
    m = _DIFFERENCES.search(enc_dict)
    if not m:
        return {}
    out: dict[int, str] = {}
    code = 0
    for item in _DIFF_ITEM.finditer(m.group(1)):
        if item.group(1) is not None:
            code = int(item.group(1))
        else:
            out[code & 0xFF] = _glyph_to_text(item.group(2).decode("ascii"))
            code += 1
    return out


def _page_fonts(objs: dict, page_dict: bytes) -> dict[str, tuple]:
    """Resolve a page's /Resources -> /Font -> per-name ``(code_width,
    map)``: ToUnicode CMaps give 2-byte maps, /Encoding /Differences
    (indirect or inline) give 1-byte glyph-name maps.  /Resources and
    /Font may each be an indirect ref or (within the one-level nesting
    budget) inline; fonts with neither mechanism get no entry (their
    shows stay raw latin-1, the pre-round-5 behavior)."""
    res = page_dict
    rm = _RESOURCES_REF.search(page_dict)
    if rm and int(rm.group(1)) in objs:
        res = objs[int(rm.group(1))][0]
    font_body = None
    fm = _FONT_REF.search(res)
    if fm and int(fm.group(1)) in objs:
        font_body = objs[int(fm.group(1))][0]
    else:
        im = _FONT_INLINE.search(res)
        if im:
            font_body = im.group(1)
    if font_body is None:
        return {}
    fonts: dict[str, tuple] = {}
    for e in _FONT_ENTRY.finditer(font_body):
        name, num = e.group(1).decode("ascii"), int(e.group(2))
        if num not in objs:
            continue
        fdict = objs[num][0]
        tm = _TOUNI_REF.search(fdict)
        if tm and int(tm.group(1)) in objs:
            payload = objs[int(tm.group(1))][1]
            if payload:
                fonts[name] = (2, parse_tounicode(payload))
            continue
        em = _ENCODING_REF.search(fdict)
        enc = objs[int(em.group(1))][0] if em and int(em.group(1)) in objs \
            else fdict  # inline /Encoding << /Differences [...] >>
        diff = parse_differences(enc)
        if diff:
            fonts[name] = (1, diff)
    return fonts


def _parse_block(
    body: bytes, fonts: dict[str, tuple] | None = None
) -> list[tuple[int, int, str]]:
    """Interpret one BT..ET body sequentially -> [(x, y, text), ...].

    Tracks the text line matrix origin: ``tx ty Td`` translates relative
    to the previous line start, ``tx ty TD`` additionally sets leading to
    -ty, ``T*`` advances one leading down, ``n TL`` sets the leading, and
    ``a b c d e f Tm`` positions absolutely.  Show operators (literal /
    hex ``Tj``, array ``TJ``) emit text at the current position;
    consecutive shows without a move join into one block with a space
    (matching the reference's word-joining within an OCR line)."""
    x = y = 0.0
    leading = 0.0
    nums: list[float] = []
    last_str: str | None = None
    last_arr: bytes | None = None
    last_name: str | None = None
    cur_map: dict[int, str] | None = None  # active font's ToUnicode
    blocks: list[list] = []  # [x, y, [texts]]

    def show(text: str) -> None:
        if blocks and blocks[-1][0] == x and blocks[-1][1] == y:
            blocks[-1][2].append(text)
        else:
            blocks.append([x, y, [text]])

    def unhex(raw: bytes) -> str:
        # a mapped font's hex shows are code sequences through its map
        # (2-byte CID/ToUnicode or 1-byte Differences; unmapped codes
        # -> U+FFFD, visible never silent); fonts without a map keep
        # the raw latin-1 read
        if cur_map is None:
            return _unhex(raw)
        width, cmap = cur_map
        h = _WS.sub(b"", raw)
        if len(h) % 2:
            h += b"0"
        bs = bytes.fromhex(h.decode("ascii"))
        if len(bs) % width:
            bs += b"\x00" * (width - len(bs) % width)
        return "".join(
            cmap.get(int.from_bytes(bs[i : i + width], "big"), "�")
            for i in range(0, len(bs), width)
        )

    for m in _TOKEN.finditer(body):
        if m.group("num") is not None:
            nums.append(float(m.group("num")))
            continue
        if m.group("lit") is not None:
            last_str = _unescape(m.group("lit"))
            continue
        if m.group("hex") is not None:
            last_str = unhex(m.group("hex"))
            continue
        if m.group("arr") is not None:
            last_arr = m.group("arr")
            continue
        if m.group("name") is not None:
            last_name = m.group("name").decode("ascii")
            continue
        op = m.group("op")
        if op == b"Tf":
            cur_map = (fonts or {}).get(last_name)
        elif op == b"Td" and len(nums) >= 2:
            x, y = x + nums[-2], y + nums[-1]
        elif op == b"TD" and len(nums) >= 2:
            leading = -nums[-1]
            x, y = x + nums[-2], y + nums[-1]
        elif op == b"T*":
            y -= leading
        elif op == b"TL" and nums:
            leading = nums[-1]
        elif op == b"Tm" and len(nums) >= 6:
            x, y = nums[-2], nums[-1]
        elif op == b"Tj" and last_str is not None:
            show(last_str)
        elif op in (b"'", b'"') and last_str is not None:
            # PDF 32000-1 9.4.3: ' = T* then show; " = set word/char
            # spacing (operands ignored here) then T* then show — the
            # compact per-line form older producers emit
            y -= leading
            show(last_str)
        elif op == b"TJ" and last_arr is not None:
            parts = [
                _unescape(s.group(1)) if s.group(1) is not None else unhex(s.group(2))
                for s in _TJ_STR.finditer(last_arr)
            ]
            show("".join(parts))
        nums.clear()
        last_str = None
        last_arr = None

    out = []
    for bx, by, texts in blocks:
        text = " ".join(t for t in texts if t).strip()
        if text:
            out.append((int(bx), int(by), text))
    return out


def parse_pdf(data: bytes) -> Doc:
    """PDF bytes -> Doc with reading-order-sorted lines per page.
    Raises NoTextLayerError for image-only (scanned) files: image
    XObjects present, zero text extracted anywhere."""
    has_image = _IMAGE_XOBJ.search(data) is not None
    body_parts = _structural_pages(data)
    if body_parts is None:
        data = _inflate_streams(data)
        body_parts = [(p, None) for p in _PAGE_SPLIT.split(data)]
    pages: list[Page] = []
    offset = 0
    page_no = 0
    n_segs = 0
    n_parsed = 0
    for part, fonts in body_parts:
        blocks: list[tuple[int, int, str]] = []  # (x, y, text)
        for seg in _BT_ET.finditer(part):
            n_segs += 1
            parsed = _parse_block(seg.group(1), fonts)
            if parsed:
                n_parsed += 1
            blocks.extend(parsed)
        if not blocks:
            continue
        page_no += 1
        # Reading order: top-to-bottom (y descending — PDF origin is
        # bottom-left), then left-to-right.
        blocks.sort(key=lambda b: (-b[1], b[0]))
        lines: list[Line] = []
        for i, (x, y, text) in enumerate(blocks):
            start = offset
            end = start + len(text)
            # Synthetic pixel bbox: block origin + 8px/char x 16px line.
            bbox = (x, y, x + 8 * len(text), y + 16)
            lines.append(
                Line(
                    page=page_no,
                    line_no=i + 1,
                    text=text,
                    start=start,
                    end=end,
                    bbox=bbox,
                )
            )
            offset = end + 1
        pages.append(Page(page_no=page_no, lines=lines))

    # Image-only (scanned) file: pictures but not one text block — the
    # not-extractable case, distinguished from a genuinely empty document
    # (no pages, no images), which stays an empty Doc.
    if not pages and has_image:
        raise NoTextLayerError(
            "image XObjects present but no text layer (scanned document; "
            "the reference OCRs these)"
        )
    # Confidence: parse coverage — fraction of BT..ET segments that yielded
    # text (1.0 for well-formed fixtures), analog of mean OCR confidence.
    # Counted per SEGMENT (not per emitted line: a multi-line T* block
    # yields several lines from one segment and must not push conf > 1).
    conf = (n_parsed / n_segs) if n_segs else 0.0
    return Doc(pages=pages, confidence=conf, is_pdf=True)
