"""Office document text extraction — DOCX (OOXML, ECMA-376) and ODT
(OpenDocument, ISO 26300) — in pure stdlib zipfile + xml.etree.

The reference extracts text from HTML and PDF documents
(/root/reference/TextExtraction/Worker.cs:144-200); real crawls also
carry office documents, and both modern formats are ZIP containers
around XML — fully decodable with the standard library:

- **DOCX**: ``word/document.xml`` — paragraphs ``w:p``, runs ``w:r``
  with text ``w:t``, explicit ``w:tab`` / ``w:br``.  Run boundaries
  are formatting artifacts (a bold word splits a run), so the
  extractor must join runs seamlessly — the fixtures split every
  paragraph at a doc_id-dependent position to pin that.
- **ODT**: ``content.xml`` — ``text:p`` under ``office:body``, with
  ``text:tab``, ``text:line-break``, and the run-collapse-resistant
  ``text:s`` (explicit spaces with a count attribute).

Both fixture families emit the SAME paragraph text for the same
doc_id, so two independent container+XML walks must agree character
for character, and the DuckDB oracle rebuilds the exact text with string
concatenation + ``string_agg`` in SQL.

Supported envelope (pinned fail-soft): well-formed ZIP with the
format's main XML part; password-protected/corrupt archives, missing
parts, and malformed XML return None, never raise.

100 TB shape: identical to the extract path — synthesis and parse run
executor-side inside Arrow batches via mapInPandas; document bytes
never cross an exchange.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET

import pandas as pd
from pyspark.sql import functions as F

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_OFFICE = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TEXT = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"

# fixed DOS timestamp so the fixture zips are byte-deterministic
_ZDATE = (1980, 1, 1, 0, 0, 0)


# ------------------------------------------------------------------ fixtures
def _para_text(doc_id: int, j: int) -> str:
    v = (31 * doc_id + 17 * j) % 1000
    if j % 3 == 0:
        return f"doc {doc_id}\tpara {j} value {v}"
    return f"doc {doc_id} para {j} value {v}"


def _n_paras(doc_id: int) -> int:
    return 2 + doc_id % 5


def _zwrite(zf: zipfile.ZipFile, name: str, data: bytes,
            compress: int = zipfile.ZIP_DEFLATED) -> None:
    zi = zipfile.ZipInfo(name, date_time=_ZDATE)
    zi.compress_type = compress
    zf.writestr(zi, data)


def make_docx(doc_id: int) -> bytes:
    """Genuine minimal DOCX: [Content_Types].xml + _rels/.rels +
    word/document.xml.  Every paragraph is split into two runs at a
    doc_id-dependent character (run joins pinned); ``j % 3 == 0``
    paragraphs carry an explicit ``<w:tab/>`` between runs."""
    paras = []
    for j in range(_n_paras(doc_id)):
        text = _para_text(doc_id, j)
        if j % 3 == 0:
            left, right = text.split("\t", 1)
            runs = (
                f"<w:r><w:t xml:space=\"preserve\">{left}</w:t></w:r>"
                f"<w:r><w:tab/><w:t xml:space=\"preserve\">{right}</w:t></w:r>"
            )
        else:
            cut = 3 + (doc_id + j) % (len(text) - 4)
            runs = (
                f"<w:r><w:t xml:space=\"preserve\">{text[:cut]}</w:t></w:r>"
                f"<w:r><w:rPr><w:b/></w:rPr>"
                f"<w:t xml:space=\"preserve\">{text[cut:]}</w:t></w:r>"
            )
        paras.append(f"<w:p>{runs}</w:p>")
    document = (
        "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
        f"<w:document xmlns:w=\"{_W}\"><w:body>"
        + "".join(paras)
        + "</w:body></w:document>"
    )
    content_types = (
        "<?xml version=\"1.0\"?>"
        "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/"
        "content-types\">"
        "<Default Extension=\"xml\" ContentType=\"application/xml\"/>"
        "<Override PartName=\"/word/document.xml\" ContentType=\"application/"
        "vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml\"/>"
        "</Types>"
    )
    rels = (
        "<?xml version=\"1.0\"?>"
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/"
        "2006/relationships\">"
        "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/"
        "officeDocument/2006/relationships/officeDocument\" "
        "Target=\"word/document.xml\"/></Relationships>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        _zwrite(zf, "[Content_Types].xml", content_types.encode())
        _zwrite(zf, "_rels/.rels", rels.encode())
        _zwrite(zf, "word/document.xml", document.encode())
    return buf.getvalue()


def make_odt(doc_id: int) -> bytes:
    """Genuine minimal ODT: stored (uncompressed) ``mimetype`` first —
    the OpenDocument magic-detection requirement — + manifest +
    content.xml.  Emits the SAME text as ``make_docx`` for the same
    doc_id; one inner space per non-tab paragraph rides as an explicit
    ``<text:s/>`` element to pin that expansion."""
    paras = []
    for j in range(_n_paras(doc_id)):
        text = _para_text(doc_id, j)
        if j % 3 == 0:
            left, right = text.split("\t", 1)
            body = f"{left}<text:tab/>{right}"
        else:
            # "doc N para ..." -> exercise text:s on the second space
            head, tail = text.split(" ", 2)[0], text.split(" ", 2)[2]
            mid = text.split(" ", 2)[1]
            body = f"{head} {mid}<text:s/>{tail}"
        paras.append(f"<text:p>{body}</text:p>")
    content = (
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
        f"<office:document-content xmlns:office=\"{_OFFICE}\" "
        f"xmlns:text=\"{_TEXT}\" office:version=\"1.2\">"
        "<office:body><office:text>"
        + "".join(paras)
        + "</office:text></office:body></office:document-content>"
    )
    manifest = (
        "<?xml version=\"1.0\"?>"
        "<manifest:manifest xmlns:manifest=\"urn:oasis:names:tc:"
        "opendocument:xmlns:manifest:1.0\">"
        "<manifest:file-entry manifest:media-type=\"application/vnd.oasis."
        "opendocument.text\" manifest:full-path=\"/\"/>"
        "<manifest:file-entry manifest:media-type=\"text/xml\" "
        "manifest:full-path=\"content.xml\"/></manifest:manifest>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        _zwrite(zf, "mimetype",
                b"application/vnd.oasis.opendocument.text",
                compress=zipfile.ZIP_STORED)
        _zwrite(zf, "META-INF/manifest.xml", manifest.encode())
        _zwrite(zf, "content.xml", content.encode())
    return buf.getvalue()


_CONTAINER = "urn:oasis:names:tc:opendocument:xmlns:container"
_OPF = "http://www.idpf.org/2007/opf"


def make_epub(doc_id: int) -> bytes:
    """Genuine minimal EPUB: stored ``mimetype`` first, OCF container
    pointing at an OPF package, spine over ``1 + doc_id % 3`` XHTML
    chapters of 2 paragraphs each.  Odd doc_ids list the chapters in
    REVERSE spine order while the zip stores them forward — pinning
    that extraction follows the spine, not archive order."""
    n_ch = 1 + doc_id % 3
    chapters = {}
    for c in range(n_ch):
        paras = "".join(
            f"<p>doc {doc_id} ch {c} para {j} value "
            f"{(31 * doc_id + 17 * j + 7 * c) % 1000}</p>"
            for j in range(2)
        )
        chapters[f"ch{c}.xhtml"] = (
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
            "<html xmlns=\"http://www.w3.org/1999/xhtml\">"
            f"<head><title>ch{c}</title></head><body>{paras}</body></html>"
        )
    order = range(n_ch - 1, -1, -1) if doc_id % 2 else range(n_ch)
    manifest = "".join(
        f"<item id=\"c{c}\" href=\"ch{c}.xhtml\" "
        "media-type=\"application/xhtml+xml\"/>"
        for c in range(n_ch)
    )
    spine = "".join(f"<itemref idref=\"c{c}\"/>" for c in order)
    opf = (
        "<?xml version=\"1.0\"?>"
        f"<package xmlns=\"{_OPF}\" version=\"3.0\" unique-identifier=\"id\">"
        f"<manifest>{manifest}</manifest><spine>{spine}</spine></package>"
    )
    container = (
        "<?xml version=\"1.0\"?>"
        f"<container xmlns=\"{_CONTAINER}\" version=\"1.0\"><rootfiles>"
        "<rootfile full-path=\"OEBPS/content.opf\" "
        "media-type=\"application/oebps-package+xml\"/>"
        "</rootfiles></container>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        _zwrite(zf, "mimetype", b"application/epub+zip",
                compress=zipfile.ZIP_STORED)
        _zwrite(zf, "META-INF/container.xml", container.encode())
        _zwrite(zf, "OEBPS/content.opf", opf.encode())
        for name, xhtml in chapters.items():  # forward archive order
            _zwrite(zf, f"OEBPS/{name}", xhtml.encode())
    return buf.getvalue()


# ----------------------------------------------------------------- extractors
def extract_docx_text(data: bytes) -> str | None:
    """DOCX -> newline-joined paragraph text, or None (never raises).
    Runs join seamlessly; ``w:tab`` -> TAB, ``w:br`` -> newline."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            xml = zf.read("word/document.xml")
        root = ET.fromstring(xml)
        paras = []
        for p in root.iter(f"{{{_W}}}p"):
            parts = []
            for node in p.iter():
                tag = node.tag
                if tag == f"{{{_W}}}t":
                    parts.append(node.text or "")
                elif tag == f"{{{_W}}}tab":
                    parts.append("\t")
                elif tag == f"{{{_W}}}br":
                    parts.append("\n")
            paras.append("".join(parts))
        return "\n".join(paras)
    except Exception:
        return None


def extract_odt_text(data: bytes) -> str | None:
    """ODT -> newline-joined paragraph text, or None (never raises).
    ``text:tab`` -> TAB, ``text:line-break`` -> newline, ``text:s`` ->
    that many spaces (default 1); tail text after inline elements is
    preserved."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            xml = zf.read("content.xml")
        root = ET.fromstring(xml)

        def walk(el) -> list:
            # recursive document-order assembly: a child's tail belongs
            # AFTER its own subtree, so a flat .iter() cannot order it
            parts = [el.text or ""]
            for child in el:
                tag = child.tag
                if tag == f"{{{_TEXT}}}tab":
                    parts.append("\t")
                elif tag == f"{{{_TEXT}}}line-break":
                    parts.append("\n")
                elif tag == f"{{{_TEXT}}}s":
                    c = child.get(f"{{{_TEXT}}}c") or child.get("c") or "1"
                    parts.append(" " * int(c))
                else:
                    parts.extend(walk(child))
                if child.tail:
                    parts.append(child.tail)
            return parts

        paras = []
        for p in root.iter(f"{{{_TEXT}}}p"):
            paras.append("".join(walk(p)))
        return "\n".join(paras)
    except Exception:
        return None


def extract_epub_text(data: bytes) -> str | None:
    """EPUB -> newline-joined chapter text IN SPINE ORDER, each chapter
    extracted by the package's own HTML pipeline
    (``core.extract_document`` — the same DOM walk, boilerplate gate,
    and char-strip the web corpus gets), or None.  Never raises."""
    from textextraction_spark.core import extract_document

    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            container = ET.fromstring(zf.read("META-INF/container.xml"))
            rf = container.find(
                f".//{{{_CONTAINER}}}rootfile[@full-path]"
            )
            if rf is None:
                return None
            opf_path = rf.get("full-path")
            opf = ET.fromstring(zf.read(opf_path))
            base = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
            hrefs = {
                item.get("id"): item.get("href")
                for item in opf.iter(f"{{{_OPF}}}item")
            }
            chapters = []
            for ref in opf.iter(f"{{{_OPF}}}itemref"):
                href = hrefs.get(ref.get("idref"))
                if href is None:
                    return None
                r = extract_document(zf.read(base + href))
                if r.error:
                    return None
                chapters.append(r.extracted_text)
        return "\n".join(chapters)
    except Exception:
        return None


# ------------------------------------------------------------------ operator
OFFICE_FMTS = ["docx", "odt", "epub"]


_MAKERS = [make_docx, make_odt, make_epub]
_EXTRACTORS = [extract_docx_text, extract_odt_text, extract_epub_text]


def office_text(spark, sf_dir: str):
    """Office-document extraction path: genuine DOCX/ODT/EPUB
    containers per doc (family by doc_id % 3) -> mapInPandas runs the
    full unzip + XML/XHTML walk on the actual bytes and emits the
    extracted text plus simple stats; the EPUB family routes its
    chapters through the package's own HTML extractor.
    Pytest-oracle-gated (not among the 48 driver-gated queries, see
    __spark_entry__)."""
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(T.BinaryType())
    def office_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series([_MAKERS[int(i) % 3](int(i)) for i in doc_id])

    media = d.select("doc_id", office_udf("doc_id").alias("media"))

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("doc_id", "fmt", "n_paras", "n_chars", "text")
        for pdf in batches:
            rows = {k: [] for k in cols}
            for doc_id, blob in zip(pdf["doc_id"].values, pdf["media"].values):
                fam = int(doc_id) % 3
                txt = _EXTRACTORS[fam](bytes(blob))
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(OFFICE_FMTS[fam])
                if txt is None:
                    rows["n_paras"].append(0)
                    rows["n_chars"].append(0)
                    rows["text"].append(None)
                    continue
                rows["n_paras"].append(txt.count("\n") + 1 if txt else 0)
                rows["n_chars"].append(len(txt))
                rows["text"].append(txt)
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        batch,
        schema=(
            "doc_id long, fmt string, n_paras long, n_chars long, text string"
        ),
    )


# the oracle rebuilds the EXACT extracted text in SQL: per-paragraph
# string construction from the fixture formulas, tab = chr(9),
# paragraphs joined with chr(10) in order; the epub branch orders
# chapters by SPINE position (odd doc_ids reversed) before joining
OFFICE_TEXT_ORACLE = """
WITH g AS (
  SELECT doc_id, 2 + doc_id % 5 AS n FROM documents WHERE doc_id % 3 < 2
),
p AS (
  SELECT g.doc_id, g.n, j,
         CASE WHEN j % 3 = 0
              THEN 'doc ' || g.doc_id || chr(9) || 'para ' || j
                   || ' value ' || (31 * g.doc_id + 17 * j) % 1000
              ELSE 'doc ' || g.doc_id || ' para ' || j
                   || ' value ' || (31 * g.doc_id + 17 * j) % 1000
         END AS line
  FROM g, UNNEST(range(g.n)) AS u(j)
),
eg AS (
  SELECT doc_id, 1 + doc_id % 3 AS n_ch FROM documents WHERE doc_id % 3 = 2
),
ep AS (
  SELECT eg.doc_id, eg.n_ch, j,
         CASE WHEN eg.doc_id % 2 = 1 THEN eg.n_ch - 1 - c ELSE c END
             AS spine_pos,
         'doc ' || eg.doc_id || ' ch ' || c || ' para ' || j || ' value '
             || (31 * eg.doc_id + 17 * j + 7 * c) % 1000 AS line
  FROM eg, UNNEST(range(eg.n_ch)) a(c), UNNEST(range(2)) b(j)
)
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'docx' ELSE 'odt' END AS fmt,
       n::BIGINT AS n_paras,
       length(string_agg(line, chr(10) ORDER BY j))::BIGINT AS n_chars,
       string_agg(line, chr(10) ORDER BY j) AS text
FROM p GROUP BY doc_id, n
UNION ALL
SELECT doc_id, 'epub' AS fmt,
       (2 * n_ch)::BIGINT AS n_paras,
       length(string_agg(line, chr(10) ORDER BY spine_pos, j))::BIGINT
           AS n_chars,
       string_agg(line, chr(10) ORDER BY spine_pos, j) AS text
FROM ep GROUP BY doc_id, n_ch
"""
