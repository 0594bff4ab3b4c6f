"""Universal content-sniffing extraction — the engine's front door.

The reference routes documents to its HTML or PDF path by envelope
metadata (/root/reference/TextExtraction/Worker.cs:144-200); a real
crawl's Content-Type headers are wrong often enough that production
extraction routes by CONTENT.  ``extract_any`` dispatches on magic
bytes alone — the operator's mapInPandas sees only the blob, never
the doc_id family — across every format the engine decodes:

    transport   gzip (1f 8b)            -> inflate, re-sniff
    pdf         %PDF                    -> core.pdfblocks layout parse
    zip         PK 03 04                -> by container content:
                  mimetype application/epub+zip            -> epub
                  mimetype application/vnd.oasis...text    -> odt
                  word/document.xml present                -> docx
                  xl/workbook.xml present                  -> xlsx
                  ppt/presentation.xml present             -> pptx
    xml         root <rss> / Atom <feed> -> feeds (title+summary text)
    (default)   HTML                     -> core DOM pipeline

Routing is pinned by construction: each fixture family's expected
text is rebuilt by the DuckDB oracle from per-family formulas
(driver-gated since the late-round rotation — `extract_any_docs` in
`__spark_entry__.queries()`), so a
blob routed to the wrong extractor produces the wrong text (or None),
never a silently-plausible result.  The zip dispatch deliberately
reads CONTAINER content (mimetype entry / part names), not file
extensions — there are none in a blob.

Fail-soft envelope: unknown/corrupt bytes land in ``fmt='html'`` with
whatever the DOM pipeline salvages or an error row — one bad document
never kills a batch (same contract as ``core.extract_document``).

100 TB shape: identical to the extract path — sniff + decode run
executor-side inside Arrow batches via mapInPandas; blobs never cross
an exchange; the output is small typed columns.
"""

from __future__ import annotations

import gzip
import io
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET

import pandas as pd
from pyspark.sql import functions as F

from textextraction_spark.core.extract import MAX_INFLATE_BYTES

_ATOM = "http://www.w3.org/2005/Atom"

FAMILIES = ["html", "html_gz", "pdf", "docx", "odt", "epub", "rss", "atom"]


# ------------------------------------------------------------------ fixtures
def make_any(doc_id: int) -> bytes:
    """One blob per doc_id, family by ``doc_id % 8`` — html and
    gzip'd html (2 paragraphs), single-line PDF, and the office/feed
    fixtures from their own modules (which carry their own multi-line
    / multi-item formulas)."""
    from textextraction_spark.operators.feeds import make_atom, make_rss
    from textextraction_spark.operators.office import (
        make_docx,
        make_epub,
        make_odt,
    )
    from textextraction_spark.sources.pages import make_pdf_bytes

    fam = doc_id % 8
    if fam in (0, 1):
        paras = "".join(
            f"<p>doc {doc_id} para {j} value "
            f"{(31 * doc_id + 17 * j) % 1000}</p>"
            for j in range(2)
        )
        raw = f"<html><body>{paras}</body></html>".encode()
        return gzip.compress(raw, mtime=0) if fam == 1 else raw
    if fam == 2:
        return make_pdf_bytes(
            f"doc {doc_id} pdf value {(31 * doc_id) % 1000}", doc_id
        )
    if fam == 3:
        return make_docx(doc_id)
    if fam == 4:
        return make_odt(doc_id)
    if fam == 5:
        return make_epub(doc_id)
    if fam == 6:
        return make_rss(doc_id)
    return make_atom(doc_id)


# --------------------------------------------------------------------- sniff
def sniff_format(data: bytes) -> str:
    """Magic-byte format detection (post-gzip — callers inflate
    transport compression first).  Unknown content is 'html': the DOM
    pipeline is the crawl's default route and fails soft on its own."""
    if data[:4] == b"%PDF":
        return "pdf"
    if data[:4] == b"PK\x03\x04":
        try:
            with zipfile.ZipFile(io.BytesIO(data)) as zf:
                names = set(zf.namelist())
                if "mimetype" in names:
                    mt = zf.read("mimetype")
                    if mt == b"application/epub+zip":
                        return "epub"
                    if mt == b"application/vnd.oasis.opendocument.text":
                        return "odt"
                if "word/document.xml" in names:
                    return "docx"
                if "xl/workbook.xml" in names:
                    return "xlsx"
                if "ppt/presentation.xml" in names:
                    return "pptx"
        except Exception:
            pass
        return "html"  # opaque zip: fall through to the default route
    head = data[:256].lstrip()
    if head.startswith(b"<?xml") or head.startswith(b"<rss") or (
        b"<feed" in head[:64]
    ):
        try:
            root = ET.fromstring(data)
            if root.tag == "rss":
                return "rss"
            if root.tag == f"{{{_ATOM}}}feed":
                return "atom"
        except Exception:
            pass
    return "html"


def extract_any(data: bytes) -> tuple[str, bool, str | None]:
    """(detected_fmt, gzip_transport, extracted_text) routed purely
    by content — gzip transport inflated first (and reported in the
    ``gz`` flag), then ``sniff_format`` picks the decoder.  Feeds
    flatten to ``title\\ntext`` per item joined by newlines.  None
    text = that route's own fail-soft verdict.  Never raises."""
    from textextraction_spark.core import extract_document
    from textextraction_spark.operators.feeds import extract_feed_items
    from textextraction_spark.operators.office import (
        extract_docx_text,
        extract_epub_text,
        extract_odt_text,
    )

    gz = data[:2] == b"\x1f\x8b"
    try:
        if gz:
            raw = gzip.GzipFile(fileobj=io.BytesIO(data)).read(
                MAX_INFLATE_BYTES + 1
            )
            if len(raw) > MAX_INFLATE_BYTES:
                return ("html", gz, None)
            data = raw
        fmt = sniff_format(data)
        if fmt == "docx":
            return (fmt, gz, extract_docx_text(data))
        if fmt == "odt":
            return (fmt, gz, extract_odt_text(data))
        if fmt == "epub":
            return (fmt, gz, extract_epub_text(data))
        if fmt in ("xlsx", "pptx"):
            from textextraction_spark.operators.sheets import (
                extract_pptx_text,
                extract_xlsx_text,
            )

            ext = extract_xlsx_text if fmt == "xlsx" else extract_pptx_text
            return (fmt, gz, ext(data))
        if fmt in ("rss", "atom"):
            items = extract_feed_items(data)
            if items is None:
                return (fmt, gz, None)
            return (
                fmt,
                gz,
                "\n".join(f"{t}\n{s}" for (_, t, _l, _e, s) in items),
            )
        r = extract_document(data)  # pdf + html + everything else
        return (fmt, gz, None if r.error else r.extracted_text)
    except Exception:
        return ("html", gz, None)


# ------------------------------------------------------------------ operator
def extract_any_docs(spark, sf_dir: str):
    """The universal front door as a job: blobs across all eight
    fixture families → one content-sniffing extract.  The UDF sees
    ONLY bytes (family provenance never reaches the executor-side
    routing), so a mis-sniff produces oracle-visibly wrong text.
    DRIVER-gated (see __spark_entry__.queries())."""
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(T.BinaryType())
    def any_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series([make_any(int(i)) for i in doc_id])

    media = d.select("doc_id", any_udf("doc_id").alias("media"))

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("doc_id", "fmt", "gz", "n_chars", "text")
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in cols}
            for doc_id, blob in zip(pdf["doc_id"].values, pdf["media"].values):
                fmt, gz, txt = extract_any(bytes(blob))
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["gz"].append(gz)
                rows["n_chars"].append(len(txt) if txt is not None else 0)
                rows["text"].append(txt)
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        batch,
        schema=(
            "doc_id long, fmt string, gz boolean, n_chars long, text string"
        ),
    )


# every family's text rebuilt from its formulas; fmt AND the gzip
# transport flag are part of the hash, so routing by anything but
# content cannot pass (feeds at these doc_ids are all gzip-wrapped:
# doc_id % 8 in (6,7) implies doc_id % 4 >= 2)
EXTRACT_ANY_ORACLE = """
WITH h AS (  -- html + gzip'd html: 2 formula paragraphs
  SELECT doc_id, 'html' AS fam,
         string_agg('doc ' || doc_id || ' para ' || j || ' value '
                    || (31 * doc_id + 17 * j) % 1000, chr(10)
                    ORDER BY j) AS text
  FROM documents, UNNEST(range(2)) u(j)
  WHERE doc_id % 8 < 2 GROUP BY doc_id
),
pdfs AS (  -- single-line pdf
  SELECT doc_id, 'pdf' AS fam,
         'doc ' || doc_id || ' pdf value ' || (31 * doc_id) % 1000 AS text
  FROM documents WHERE doc_id % 8 = 2
),
op AS (  -- docx/odt office paragraphs (tab on j % 3 = 0)
  SELECT doc_id,
         CASE WHEN doc_id % 8 = 3 THEN 'docx' ELSE 'odt' END AS fam,
         string_agg(
           CASE WHEN j % 3 = 0
                THEN 'doc ' || doc_id || chr(9) || 'para ' || j
                     || ' value ' || (31 * doc_id + 17 * j) % 1000
                ELSE 'doc ' || doc_id || ' para ' || j
                     || ' value ' || (31 * doc_id + 17 * j) % 1000
           END, chr(10) ORDER BY j) AS text
  FROM documents, UNNEST(range(7)) u(j)
  WHERE doc_id % 8 IN (3, 4) AND j < 2 + doc_id % 5
  GROUP BY doc_id
),
ep AS (  -- epub chapters in spine order (odd doc_ids reversed)
  SELECT doc_id, 'epub' AS fam,
         string_agg('doc ' || doc_id || ' ch ' || c || ' para ' || j
                    || ' value ' || (31 * doc_id + 17 * j + 7 * c) % 1000,
                    chr(10)
                    ORDER BY CASE WHEN doc_id % 2 = 1
                                  THEN doc_id % 3 - c ELSE c END, j) AS text
  FROM documents, UNNEST(range(3)) a(c), UNNEST(range(2)) b(j)
  WHERE doc_id % 8 = 5 AND c < 1 + doc_id % 3
  GROUP BY doc_id
),
fe AS (  -- rss/atom: title + summary per item
  SELECT doc_id,
         CASE WHEN doc_id % 8 = 6 THEN 'rss' ELSE 'atom' END AS fam,
         string_agg('feed ' || doc_id || ' item ' || j || ' value '
                    || (31 * doc_id + 17 * j) % 1000 || chr(10)
                    || 'feed ' || doc_id || ' item ' || j
                    || ' summary value ' || (7 * doc_id + 13 * j) % 1000,
                    chr(10) ORDER BY j) AS text
  FROM documents, UNNEST(range(6)) u(j)
  WHERE doc_id % 8 IN (6, 7) AND j < 2 + doc_id % 4
  GROUP BY doc_id
),
a AS (
  SELECT * FROM h UNION ALL SELECT * FROM pdfs UNION ALL
  SELECT * FROM op UNION ALL SELECT * FROM ep UNION ALL SELECT * FROM fe
)
SELECT doc_id, fam AS fmt,
       (doc_id % 8 = 1 OR doc_id % 8 IN (6, 7)) AS gz,
       length(text)::BIGINT AS n_chars, text
FROM a
"""
