"""Deterministic Common-Crawl-style ``pages`` table (BASELINE.json input_hint).

Builds the job's input table

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

from the driver's ``documents`` parquet, entirely as a function of
``(doc_id, text, lang)`` — seed-free, wall-clock-free, so Spark and the
DuckDB oracle can both reconstruct every byte (FIXTURES.md §1-2).

Document families by ``doc_id % 20`` (FIXTURES.md §2):

    0      pdf      — minimal uncompressed PDF 1.4, 2 out-of-order blocks
    1-6    invoice  — field lines A..F (+ doc_id%20==1: later duplicates,
                      asserting first-match-wins)
    7-12   medical  — decoy person line (no key), patient name, DOB
    13-18  plain    — main text only (13 gzip transport, 14 UTF-8 BOM,
                      15 pretty-printed, 16 entity-escaped '&',
                      17 windows-1251 + <meta charset> w/ Cyrillic line,
                      18 UTF-16-LE + BOM w/ accented line)
    19     empty    — empty <body> (edge case)

One heavy host owns ~30% of urls (``doc_id % 100 < 30`` -> heavy.example.com)
to exercise the salting path (FIXTURES.md §1, SURVEY.md §7.4.7).

Every content formula exists twice: a Spark SQL expression and a DuckDB SQL
expression (generated from the same Python constants), because the driver's
correctness gate compares the Spark result against DuckDB running the
oracle SQL on the same parquet.  Where the dialects agree the string is
shared verbatim.
"""

from __future__ import annotations

import pandas as pd

from textextraction_spark.core.gazetteer import (
    FIRST_NAMES,
    LAST_NAMES,
    generate_org_list,
)

EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z

# --------------------------------------------------------------------------
# Shared SQL fragments (valid in BOTH Spark SQL and DuckDB).
# --------------------------------------------------------------------------

URL_SQL = (
    "'https://' || CASE WHEN doc_id % 100 < 30 THEN 'heavy.example.com' "
    "ELSE 'h' || CAST(doc_id % 20 AS STRING) || '.example.com' END "
    "|| '/d/' || CAST(doc_id AS STRING)"
)

INV_NUM_SQL = "CAST(4000 + doc_id % 1000 AS STRING)"

INV_DATE_SQL = (
    "lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0') || '/' || "
    "lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0') || '/' || "
    "CAST(2019 + doc_id % 6 AS STRING)"
)

MED_DATE_SQL = (
    "lpad(CAST(1 + (doc_id + 5) % 12 AS STRING), 2, '0') || '/' || "
    "lpad(CAST(1 + (doc_id + 11) % 28 AS STRING), 2, '0') || '/' || "
    "CAST(1950 + doc_id % 50 AS STRING)"
)

ORDER_NUM_SQL = "'REF' || CAST(doc_id AS STRING) || 'X'"

TOTAL_SQL = (
    "'$' || CAST(1 + doc_id % 9 AS STRING) || ',' || "
    "lpad(CAST(doc_id % 1000 AS STRING), 3, '0') || '.00'"
)


def _sql_str_array(items: list[str], engine: str, index_sql: str) -> str:
    """1-based indexed lookup into a string list, per engine dialect."""
    lits = ", ".join("'" + s.replace("'", "''") + "'" for s in items)
    if engine == "spark":
        return f"element_at(array({lits}), CAST(({index_sql}) AS INT) + 1)"
    return f"(list_value({lits}))[CAST(({index_sql}) AS INT) + 1]"


def vendor_sql(engine: str) -> str:
    return _sql_str_array(generate_org_list(), engine, "doc_id % 103")


def person_sql(engine: str, offset: int = 0) -> str:
    """FIRST[(doc_id+o) % 16] || ' ' || LAST[floor((doc_id+o)/16) % 16]."""
    first = _sql_str_array(FIRST_NAMES, engine, f"(doc_id + {offset}) % 16")
    last = _sql_str_array(
        LAST_NAMES, engine, f"CAST(floor((doc_id + {offset}) / 16) AS INT) % 16"
    )
    return f"{first} || ' ' || {last}"


def pdf_text_sql(engine: str) -> str:
    """Expected extracted text of a pdf-family doc: first 10 words, newline,
    remainder (single block when <= 10 words); every second pdf doc
    (doc_id % 40 = 0) carries a trailing TOTAL block (exercises field
    extraction + rect emission on the PDF path).  The IMAGE-ONLY family
    (doc_id % 240 = 180 — scanned documents: page tree + image XObject,
    zero text operators) extracts as '' with error='no_text_layer'."""
    total = f"CASE WHEN doc_id % 40 = 0 THEN chr(10) || 'TOTAL ' || {TOTAL_SQL} ELSE '' END"
    imgonly = "doc_id % 240 = 180"
    if engine == "spark":
        words = "split(text, ' ')"
        return (
            f"(CASE WHEN {imgonly} THEN '' "
            f"WHEN size({words}) <= 10 THEN text "
            f"ELSE array_join(slice({words}, 1, 10), ' ') || chr(10) || "
            f"array_join(slice({words}, 11, 1000000), ' ') END)"
            f" || (CASE WHEN {imgonly} THEN '' ELSE ({total}) END)"
        )
    words = "str_split(text, ' ')"
    return (
        f"(CASE WHEN {imgonly} THEN '' "
        f"WHEN len({words}) <= 10 THEN text "
        f"ELSE array_to_string(list_slice({words}, 1, 10), ' ') || chr(10) || "
        f"array_to_string(list_slice({words}, 11, len({words})), ' ') END)"
        f" || (CASE WHEN {imgonly} THEN '' ELSE ({total}) END)"
    )


def invoice_lines_sql() -> str:
    """Lines A..F appended to an invoice doc's main text (dialect-shared)."""
    return (
        f"'INVOICE ' || {INV_NUM_SQL} || chr(10) || "
        f"'INVOICE DATE ' || {INV_DATE_SQL} || chr(10) || "
        f"'DUE DATE 12/31/2030' || chr(10) || "
        f"'LOAD ' || {ORDER_NUM_SQL} || chr(10) || "
        f"'TOTAL ' || {TOTAL_SQL}"
    )


def expected_text_sql(engine: str) -> str:
    """The oracle: expected ``extracted_text`` per doc — also the generator
    (content html is built FROM this expression, so generator and oracle
    cannot drift)."""
    vendor = vendor_sql(engine)
    person = person_sql(engine)
    decoy = person_sql(engine, offset=7)
    return f"""CASE
    WHEN doc_id % 20 = 0 THEN {pdf_text_sql(engine)}
    WHEN doc_id % 20 BETWEEN 1 AND 6 THEN
        text || chr(10) || {invoice_lines_sql()} || chr(10) || {vendor}
        || CASE WHEN doc_id % 20 = 1
                THEN chr(10) || 'INVOICE 9999' || chr(10) || 'TOTAL $9.99'
                ELSE '' END
    WHEN doc_id % 20 BETWEEN 7 AND 12 THEN
        text || chr(10) || 'CONTACT ' || {decoy} || ' TODAY'
        || chr(10) || 'PATIENT NAME: ' || {person}
        || chr(10) || 'DOB ' || {MED_DATE_SQL}
    WHEN doc_id % 20 = 16 THEN text || chr(10) || 'COPYRIGHT & TRADEMARK'
    WHEN doc_id % 20 = 17 THEN
        text || chr(10) || 'ОТЧЁТ № ' || CAST(doc_id AS STRING) || ' — МОСКВА'
    WHEN doc_id % 20 = 18 THEN
        text || chr(10) || 'RÉSUMÉ ' || CAST(doc_id AS STRING) || ' — déjà vu naïve café'
    WHEN doc_id % 20 = 19 THEN ''
    ELSE text
    END"""


# Two boilerplate shells (doc_id % 2) — high link-density nav/footer chrome
# that MUST be stripped; no single quotes so they embed in SQL literals.
SHELL_A_PRE = (
    "<html><head><title>Site A</title><script>var a=1;</script></head><body>"
    "<nav><a href=/>Home</a> <a href=/b>Blog</a> <a href=/c>Contact</a> "
    "<a href=/d>Docs</a></nav>"
    "<div><ul><li><a href=/x>ad one here</a></li>"
    "<li><a href=/y>ad two now</a></li><li><a href=/z>ad three</a></li></ul></div>"
    "<article>"
)
SHELL_A_POST = (
    "</article><footer><a href=/p>privacy</a> <a href=/t>terms</a> "
    "<a href=/s>sitemap</a> <a href=/r>rss</a></footer></body></html>"
)
SHELL_B_PRE = (
    "<html><body><header><a href=/>BrandB</a> <a href=/1>One</a> "
    "<a href=/2>Two</a> <a href=/3>Three</a></header>"
    "<aside>more <a href=/m>links</a> <a href=/n>over</a> <a href=/o>here</a></aside>"
    "<main>"
)
SHELL_B_POST = (
    "</main><footer><a href=/a>about</a> <a href=/b>jobs</a> "
    "<a href=/c>legal</a></footer></body></html>"
)


def html_str_sql(engine: str) -> str:
    """Content html = shell(<p>-joined expected text).  Spark-side only
    (the oracle never needs the html), but kept dialect-clean anyway.

    Parser-realism sub-families (extracted text unchanged vs the plain
    formula, so the SAME oracles gate the parser paths):
      doc_id % 20 == 15 -> pretty-printed html (newline+indent between
                           blocks; exercises inter-tag-whitespace fold)
      doc_id % 20 == 16 -> '&' served as '&amp;' (exercises entity
                           unescape; expected text carries the raw '&')
    """
    expected = expected_text_sql(engine)
    return html_from_expected_sql(f"({expected})")


def html_from_expected_sql(expected: str) -> str:
    """html CASE over a (column-reference or parenthesized) expected-text
    expression.  build_pages materializes ``expected`` as an intermediate
    column first so this expression stays small — inlining the full
    formula three times blows janino's 64 KB codegen method limit and
    forces interpreted fallback (log-spamming stack traces)."""
    plain = f"'<p>' || replace({expected}, chr(10), '</p><p>') || '</p>'"
    indented = (
        f"'<p>' || replace({expected}, chr(10), "
        f"'</p>' || chr(10) || '  <p>') || '</p>' || chr(10)"
    )
    escaped = f"replace(({plain}), ' & ', ' &amp; ')"
    body = (
        f"CASE WHEN doc_id % 20 = 15 THEN {indented} "
        f"WHEN doc_id % 20 = 16 THEN {escaped} "
        f"ELSE {plain} END"
    )
    return (
        f"CASE WHEN doc_id % 2 = 0 "
        f"THEN '{SHELL_A_PRE}' || ({body}) || '{SHELL_A_POST}' "
        f"ELSE '{SHELL_B_PRE}' || ({body}) || '{SHELL_B_POST}' END"
    )


def warc_ts_sql(engine: str) -> str:
    if engine == "spark":
        return f"timestamp_seconds({EPOCH_2026} + doc_id)"
    return f"CAST(to_timestamp({EPOCH_2026} + doc_id) AS TIMESTAMP)"


# --------------------------------------------------------------------------
# PDF byte synthesis (python-side; vectorized pandas UDF).
# --------------------------------------------------------------------------


TOTAL_BLOCK_Y = 100


def total_amount_str(doc_id: int) -> str:
    """Python twin of TOTAL_SQL (kept adjacent; a drift breaks tests)."""
    return f"${1 + doc_id % 9},{doc_id % 1000:03d}.00"


def _runlength_encode(data: bytes) -> bytes:
    """RunLengthDecode's inverse (PDF 32000-1 §7.4.5, PackBits shape):
    runs >= 3 as (257-n, byte), literal stretches in <=128-byte blocks,
    terminated by the 128 EOD byte."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes((257 - run, data[i]))
            i += run
            continue
        j = i + 1
        while (
            j < n
            and j - i < 128
            and not (j + 2 < n and data[j] == data[j + 1] == data[j + 2])
        ):
            j += 1
        out += bytes((j - i - 1,)) + data[i:j]
        i = j
    out.append(128)  # EOD
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """LZWDecode's inverse (PDF 32000-1 §7.4.4, default EarlyChange=1,
    the TIFF §13 variant): codes packed MSB-first, initial width 9,
    ClearCode 256 / EOD 257, and the width widens as soon as the next
    code to assign reaches ``(1 << width) - 1``.  The table resets via
    an explicit ClearCode when the next code reaches 4094."""
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8
        bitbuf &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(256, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == 4094:  # ClearCode when the table fills
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = bytes([b])
    if w:
        emit(table[w], width)
        # the reader will create one more entry on seeing EOD's
        # predecessor — mirror its width bump for the EOD field
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(257, width)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def make_structural_pdf(page_bodies: list[str]) -> bytes:
    """A REAL PDF 1.5 object graph (how modern producers write files):
    top-level catalog, the page tree (/Pages node + /Type /Page dicts)
    stored inside a FlateDecode **object stream** (/Type /ObjStm), each
    page's content as its own flate stream object referenced via
    /Contents, and a binary **cross-reference stream** (/Type /XRef,
    W [1 4 2], type-2 entries pointing into the ObjStm) + startxref
    trailer.  Exercises core/pdfblocks.py's structural mode end-to-end:
    object indexing, ObjStm expansion, page-tree walk, and xref-binary
    exclusion from the text scan."""
    import struct
    import zlib as _z

    n = len(page_bodies)
    first_content = 3 + n  # 1=catalog, 2=pages node, 3..2+n page dicts
    objstm_num = 3 + 2 * n
    xref_num = objstm_num + 1

    inner: list[tuple[int, str]] = [(
        2,
        "<< /Type /Pages /Kids ["
        + " ".join(f"{3 + i} 0 R" for i in range(n))
        + f"] /Count {n} >>",
    )]
    inner += [
        (3 + i, f"<< /Type /Page /Parent 2 0 R /Contents {first_content + i} 0 R >>")
        for i in range(n)
    ]
    inner_bytes = [s.encode("latin-1") for _, s in inner]
    offs, off = [], 0
    for b in inner_bytes:
        offs.append(off)
        off += len(b) + 1  # single-space separator between objects
    header = " ".join(f"{num} {o}" for (num, _), o in zip(inner, offs)) + " "
    stm_payload = _z.compress(
        header.encode("ascii") + b" ".join(inner_bytes), 6
    )
    # /First counts from payload start; objects begin right after header
    first = len(header)

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, dict_str: str, payload: bytes | None = None) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj {dict_str}".encode("latin-1"))
        if payload is not None:
            out.extend(b"\nstream\n" + payload + b"\nendstream")
        out.extend(b"\nendobj\n")

    emit(1, "<< /Type /Catalog /Pages 2 0 R >>")
    for i, body in enumerate(page_bodies):
        pay = _z.compress(body.encode("latin-1"), 6)
        emit(first_content + i, f"<< /Filter /FlateDecode /Length {len(pay)} >>", pay)
    emit(
        objstm_num,
        f"<< /Type /ObjStm /N {len(inner)} /First {first}"
        f" /Filter /FlateDecode /Length {len(stm_payload)} >>",
        stm_payload,
    )
    # xref stream: its own offset is known before emission
    xref_off = len(out)
    offsets[xref_num] = xref_off
    in_objstm = {num: i for i, (num, _) in enumerate(inner)}
    rows = b""
    for num in range(xref_num + 1):
        if num == 0:
            rows += struct.pack(">BIH", 0, 0, 65535)
        elif num in in_objstm:
            rows += struct.pack(">BIH", 2, objstm_num, in_objstm[num])
        else:
            rows += struct.pack(">BIH", 1, offsets[num], 0)
    xpay = _z.compress(rows, 6)
    emit(
        xref_num,
        f"<< /Type /XRef /Size {xref_num + 1} /W [1 4 2] /Root 1 0 R"
        f" /Filter /FlateDecode /Length {len(xpay)} >>",
        xpay,
    )
    out.extend(f"startxref\n{xref_off}\n%%EOF".encode("ascii"))
    return bytes(out)


def make_cid_pdf(head: str, tail: str) -> bytes:
    """A subset-font (Type0/CID) PDF — the shape real crawl PDFs
    overwhelmingly take: page 1 shows its text as 2-BYTE GLYPH CODES
    through a /ToUnicode CMap (first char via a bfchar pair at 0xD001,
    the rest via a bfrange at 0xE000+codepoint — a raw latin-1 read of
    the hex string is garbage, so the mapping is load-bearing), page 2
    as a plain literal.  Top-level objects (no ObjStm — a different
    storage mix than the %240==60 family), /Resources -> /Font ->
    font -> /ToUnicode all indirect refs, CMap stream FlateDecode."""
    import zlib as _z

    codes = "".join(
        "d001" if i == 0 else f"{0xE000 + ord(c):04x}"
        for i, c in enumerate(head)
    )
    c1 = f"BT /F1 12 Tf 72 700 Td <{codes}> Tj ET\n".encode("latin-1")
    # page 2: the OTHER font mechanism — a simple (1-byte) font whose
    # /Encoding /Differences remaps codes 160.. to glyph NAMES (/a,
    # /space, ...); shown as 1-byte hex codes, so a latin-1 read is
    # garbage here too
    alphabet = sorted(set(tail))
    code_of = {ch: 160 + i for i, ch in enumerate(alphabet)}
    gname = {" ": "space"}
    diffs = " ".join(f"/{gname.get(ch, ch)}" for ch in alphabet)
    codes2 = "".join(f"{code_of[ch]:02x}" for ch in tail)
    c2 = f"BT /F2 10 Tf 72 700 Td <{codes2}> Tj ET\n".encode("latin-1")
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin\nbegincmap\n"
        "1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
        "1 beginbfchar\n"
        f"<d001> <{ord(head[0]):04x}>\n"
        "endbfchar\n"
        "1 beginbfrange\n<e000> <e0ff> <0000>\nendbfrange\n"
        "endcmap\nend\nend\n"
    ).encode("ascii")
    cpay = _z.compress(cmap, 6)
    out = bytearray(b"%PDF-1.5\n")

    def emit(num: int, dict_str: str, payload: bytes | None = None) -> None:
        out.extend(f"{num} 0 obj {dict_str}".encode("latin-1"))
        if payload is not None:
            out.extend(b"\nstream\n" + payload + b"\nendstream")
        out.extend(b"\nendobj\n")

    emit(1, "<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, "<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>")
    emit(3, "<< /Type /Page /Parent 2 0 R /Contents 6 0 R /Resources 8 0 R >>")
    emit(
        4,
        "<< /Type /Page /Parent 2 0 R /Contents 7 0 R /Resources 11 0 R >>",
    )
    emit(
        5,
        "<< /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+FakeCID"
        " /ToUnicode 10 0 R >>",
    )
    emit(6, f"<< /Length {len(c1)} >>", c1)
    emit(7, f"<< /Length {len(c2)} >>", c2)
    emit(8, "<< /Font 9 0 R >>")
    emit(9, "<< /F1 5 0 R >>")
    emit(10, f"<< /Filter /FlateDecode /Length {len(cpay)} >>", cpay)
    emit(11, "<< /Font 12 0 R >>")
    emit(12, "<< /F2 13 0 R >>")
    emit(
        13,
        "<< /Type /Font /Subtype /TrueType /BaseFont /GHIJKL+FakeT1"
        " /Encoding 14 0 R >>",
    )
    emit(14, f"<< /Type /Encoding /Differences [160 {diffs}] >>")
    out.extend(b"%%EOF")
    return bytes(out)


def make_image_only_pdf(doc_id: int) -> bytes:
    """A scanned-document PDF: real page tree (catalog -> /Pages -> one
    /Type /Page) whose content stream only DRAWS an image XObject
    (``q cm /Im0 Do Q`` — zero text operators), plus the flate-compressed
    /Subtype /Image object itself.  This is the shape every
    scanner/copier produces; the reference OCRs it
    (``/root/reference/TextExtraction/Worker.cs:144-200``) while this
    engine — which replaces OCR with text-layer parsing per the north
    star — must surface it as a DISTINGUISHABLE ``error='no_text_layer'``
    row, never as a silently-empty document."""
    import zlib as _z

    # deterministic fake scan payload (the decode never runs — the point
    # is the structure); dims echo a 300-DPI letter scan
    px = _z.compress(bytes((doc_id + i) % 256 for i in range(64)), 6)
    content = b"q 612 0 0 792 0 0 cm /Im0 Do Q"
    out = bytearray(b"%PDF-1.5\n")

    def emit(num: int, dict_str: str, payload: bytes | None = None) -> None:
        out.extend(f"{num} 0 obj {dict_str}".encode("latin-1"))
        if payload is not None:
            out.extend(b"\nstream\n" + payload + b"\nendstream")
        out.extend(b"\nendobj\n")

    emit(1, "<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    # /Resources as an indirect ref: keeps every dict within the parser's
    # one-level nesting budget (and is how many producers write it)
    emit(
        3,
        "<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources 6 0 R >>",
    )
    emit(6, "<< /XObject << /Im0 5 0 R >> >>")
    emit(4, f"<< /Length {len(content)} >>", content)
    emit(
        5,
        "<< /Type /XObject /Subtype /Image /Width 2550 /Height 3300"
        f" /BitsPerComponent 8 /ColorSpace /DeviceGray"
        f" /Filter /FlateDecode /Length {len(px)} >>",
        px,
    )
    out.extend(b"%%EOF")
    return bytes(out)


def make_pdf_bytes(text: str, doc_id: int = 1) -> bytes:
    """Text blocks emitted OUT of reading order (remainder first at y=300,
    head at y=700) so the extractor's sort is load-bearing; doc_id % 40 = 0
    adds a bottom TOTAL block (field + rect on the PDF path); doc_id % 40 =
    20 splits head/tail across TWO pages (same expected text — page joins
    and block joins both contribute a single newline); doc_id % 60 = 40
    stores the content stream **FlateDecode-compressed** (`<< /Filter
    /FlateDecode /Length N >>` + zlib payload — the real-world storage
    form); doc_id % 120 = 80 writes blocks in the **matrix + show-array
    form** (`1 0 0 1 x y Tm [(s1) -250 (s2)] TJ` — how most real PDF
    producers emit text); within that family, doc_id % 240 = 200 instead
    writes the whole page as ONE BT block in the **relative-positioning +
    hex-string form** (`TL` leading, absolute first `Td`, `T*` line
    advance, chained relative `Td`, `<hex> Tj`, and a TJ array mixing
    literal and hex members — the other half of how real producers emit
    text); doc_id % 240 = 120 writes the page with the **compact
    per-line show operators** (``(s) '`` = next-line-and-show and
    ``aw ac (s) "`` with a mid-block TL re-set — PDF 9.4.3, the form
    older producers emit); doc_id % 240 = 60 stores the two-page split as
    a **real PDF 1.5 object graph** (catalog + ObjStm-compressed page
    tree + per-page flate /Contents + binary xref stream — see
    ``make_structural_pdf``); doc_id % 240 = 180 is the **image-only
    (scanned) family** (``make_image_only_pdf`` — page tree + image
    XObject, zero text operators; extracts as '' with
    error='no_text_layer').  The TOTAL block in these families lands at
    its y only if T*/quote leading math and relative-Td chaining are
    computed correctly, so the pdf_highlight_rects oracle gates the
    positioning arithmetic, not just the text.  Extracted text is unchanged across all variants, so
    the same oracles transitively gate every parse path."""
    import zlib

    if doc_id % 240 == 180:
        # image-only (scanned) family: no text layer at all — the engine
        # must emit extracted_text='' with error='no_text_layer'
        return make_image_only_pdf(doc_id)

    words = text.split(" ")
    if len(words) <= 10:
        blocks = [(72, 700, text)]
        head = tail = None
    else:
        head = " ".join(words[:10])
        tail = " ".join(words[10:])
        blocks = [(72, 300, tail), (72, 700, head)]  # stream order != reading order
    if doc_id % 40 == 0:
        blocks.insert(0, (72, TOTAL_BLOCK_Y, f"TOTAL {total_amount_str(doc_id)}"))

    if doc_id % 240 == 140 and head is not None:
        # subset-font (Type0/CID) family: same two-page head/tail text,
        # head shown as 2-byte glyph codes through a /ToUnicode CMap —
        # the extracted-text oracle is unchanged, so it transitively
        # gates the CMap decode path
        return make_cid_pdf(head, tail)

    if doc_id % 240 == 60 and head is not None:
        # structural PDF 1.5 family: same two-page head/tail text as the
        # %40==20 family, stored as a real object graph (catalog, ObjStm
        # page tree, per-page flate /Contents, binary xref stream) — the
        # extracted-text oracle is unchanged, so it transitively gates
        # the structural parse path
        return make_structural_pdf(
            [f"BT 72 700 Td ({head}) Tj ET\n", f"BT 72 700 Td ({tail}) Tj ET\n"]
        )

    def hexstr(t: str) -> str:
        return "<" + t.encode("latin-1").hex() + ">"

    if doc_id % 240 == 120 and head is not None:
        # compact per-line show operators (' and ") — how pre-2000s
        # producers and many report generators emit text: head
        # absolutely positioned, tail via (s) ' at leading 400
        # (700-400=300), TOTAL via the "-form at a re-set leading 200
        # (300-200 = TOTAL_BLOCK_Y = 100); the rect oracle gates the
        # leading arithmetic of both quote forms
        body = (
            f"BT 400 TL 72 700 Td ({head}) Tj"
            f" ({tail}) '"
            f" 200 TL 0 0 ({'TOTAL ' + total_amount_str(doc_id)}) \" ET\n"
        )
    elif doc_id % 240 == 200 and head is not None:
        # one BT block, sequential positioning: head at y=700 (absolute
        # Td), tail via T* (leading 400), TOTAL via chained relative Td
        # (700 - 400 - 200 = TOTAL_BLOCK_Y = 100); tail as a TJ array
        # mixing a literal and a hex member, TOTAL as a pure hex show
        k = max(1, len(tail) // 2)
        # 200 % 40 == 0, so this family always carries the TOTAL block
        total_part = f" 0 -200 Td {hexstr('TOTAL ' + total_amount_str(doc_id))} Tj"
        body = (
            f"BT 400 TL 72 700 Td ({head}) Tj"
            f" T* [({tail[:k]}) -250 {hexstr(tail[k:])}] TJ"
            f"{total_part} ET\n"
        )
    else:
        def block_op(x: int, y: int, t: str) -> str:
            if doc_id % 120 == 80:
                k = max(1, len(t) // 2)
                return f"BT 1 0 0 1 {x} {y} Tm [({t[:k]}) -250 ({t[k:]})] TJ ET\n"
            return f"BT {x} {y} Td ({t}) Tj ET\n"

        if doc_id % 40 == 20 and head is not None:
            body = (
                f"{block_op(72, 700, head)}%%PageBreak\n{block_op(72, 700, tail)}"
            )
        else:
            body = "".join(block_op(x, y, t) for x, y, t in blocks)
    if doc_id % 60 == 40:
        # the four compressed residues (mod 240: 40/100/160/220) each
        # take a different standard filter form — extracted text is
        # invariant, so every existing oracle transitively gates every
        # decode path (PDF 32000-1 §7.4):
        #   40  -> /FlateDecode                      (modern default)
        #   100 -> /LZWDecode                        (pre-1.2 producers)
        #   160 -> [/ASCII85Decode /FlateDecode]     (7-bit transport chain)
        #   220 -> [/ASCIIHexDecode /RunLengthDecode]
        raw = body.encode("latin-1")
        form = doc_id % 240
        if form == 100:
            payload, filt = _lzw_encode(raw), b"/LZWDecode"
        elif form == 160:
            import base64

            payload = base64.a85encode(zlib.compress(raw, 6)) + b"~>"
            filt = b"[/ASCII85Decode /FlateDecode]"
        elif form == 220:
            payload = _runlength_encode(raw).hex().encode("ascii") + b">"
            filt = b"[/ASCIIHexDecode /RunLengthDecode]"
        else:
            payload, filt = zlib.compress(raw, 6), b"/FlateDecode"
        return (
            b"%PDF-1.4\n<< /Filter "
            + filt
            + b" /Length "
            + str(len(payload)).encode()
            + b" >>\nstream\n"
            + payload
            + b"\nendstream\n%%EOF"
        )
    return f"%PDF-1.4\nstream\n{body}endstream\n%%EOF".encode("latin-1")


def build_pages(spark, sf_dir: str, with_pdf: bool = True):
    """documents parquet -> pages DataFrame (url, warc_ts, html, text, lang).

    Pure narrow transforms (no shuffle): the plan is a parquet scan +
    projections, so Catalyst prunes to (doc_id, text, lang) at the scan.
    """
    import gzip

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # Materialize expected text as an intermediate column so the html CASE
    # (and its three binary-branch consumers) reference it instead of
    # inlining the large formula repeatedly (janino 64 KB method limit).
    docs = docs.withColumn(
        "_expected", F.expr(f"({expected_text_sql('spark')})")
    ).withColumn("_html_str", F.expr(html_from_expected_sql("_expected")))
    html_col = F.col("_html_str")

    # Transport-artifact families (Common-Crawl realism; the extraction
    # oracles compute the same expected text, so they transitively gate
    # each normalization path):
    #   doc_id % 20 == 13 -> payload stored gzip-compressed (mtime=0)
    #   doc_id % 20 == 14 -> payload leads with a UTF-8 BOM
    #   doc_id % 20 == 17 -> windows-1251 bytes + declared <meta charset>
    #                        (Cyrillic payload line: invalid as UTF-8 and
    #                        mojibake as latin-1, so only the HTML5 meta
    #                        sniff recovers the oracle text)
    #   doc_id % 20 == 18 -> UTF-16-LE bytes with BOM (even ASCII turns
    #                        to NUL-riddled tag soup without the BOM
    #                        sniff; the accented payload line pins the
    #                        decode, not just the tag scan)
    @F.pandas_udf(T.BinaryType())
    def gzip_udf(html: pd.Series) -> pd.Series:
        return html.map(lambda s: gzip.compress(s.encode("utf-8"), mtime=0))

    _META_1251 = (
        '<meta http-equiv="Content-Type" '
        'content="text/html; charset=windows-1251">'
    )

    # Spark evaluates a CASE branch's pandas UDF over the WHOLE batch
    # before the CASE selects, so each encoder must gate on doc_id itself
    # (strict cp1251 encode over family-18's accented line would throw).
    @F.pandas_udf(T.BinaryType())
    def cp1251_udf(html: pd.Series, doc_id: pd.Series) -> pd.Series:
        # strict encode: every char in this family is cp1251-mapped by
        # construction, so a failure here is a fixture bug, not crawl dirt
        return pd.Series(
            [
                (_META_1251 + s).encode("windows-1251")
                if int(d) % 20 == 17
                else b""
                for s, d in zip(html, doc_id)
            ]
        )

    @F.pandas_udf(T.BinaryType())
    def utf16_udf(html: pd.Series) -> pd.Series:
        import codecs

        return html.map(lambda s: codecs.BOM_UTF16_LE + s.encode("utf-16-le"))

    binary = (
        F.when(F.col("doc_id") % 20 == 13, gzip_udf(html_col))
        .when(
            F.col("doc_id") % 20 == 14,
            F.encode(F.concat(F.lit("\ufeff"), html_col), "UTF-8"),
        )
        .when(
            F.col("doc_id") % 20 == 17, cp1251_udf(html_col, F.col("doc_id"))
        )
        .when(F.col("doc_id") % 20 == 18, utf16_udf(html_col))
        .otherwise(F.encode(html_col, "UTF-8"))
    )

    if with_pdf:

        @F.pandas_udf(T.BinaryType())
        def pdf_udf(text: pd.Series, doc_id: pd.Series) -> pd.Series:
            return pd.Series(
                [make_pdf_bytes(t, int(d)) for t, d in zip(text, doc_id)]
            )

        binary = F.when(
            F.col("doc_id") % 20 == 0, pdf_udf(F.col("text"), F.col("doc_id"))
        ).otherwise(binary)

    return docs.select(
        F.expr(URL_SQL).alias("url"),
        F.expr(warc_ts_sql("spark")).alias("warc_ts"),
        binary.alias("html"),
        F.col("text"),
        F.col("lang"),
    )
