"""RSS 2.0 / Atom feed extraction — pure stdlib xml.etree.

The reference extracts text from crawled HTML and PDF documents
(/root/reference/TextExtraction/Worker.cs:144-200); real web crawls
also carry syndication feeds (RSS 2.0 and Atom, RFC 4287), which are
the crawl's freshest-content surface — new-article discovery and
article summaries arrive here before the article pages themselves are
crawled.  Both formats are plain XML, fully decodable with the
standard library, so they get the same no-stub treatment as the
office containers:

- **RSS 2.0**: ``<rss><channel><item>`` with ``title`` / ``link`` /
  ``pubDate`` (RFC 822 date, arbitrary UTC offset) / ``description``
  holding ENTITY-ESCAPED HTML.
- **Atom**: ``<feed xmlns="http://www.w3.org/2005/Atom"><entry>``
  with ``title`` / ``link href=`` / ``updated`` (RFC 3339 / ISO 8601,
  arbitrary offset) / ``summary type="html"`` holding the same
  escaped HTML.

Three cross-checks keep complementary bugs from cancelling:

1. **Cross-format pin** — for the same doc_id, ``make_rss`` and
   ``make_atom`` must extract to IDENTICAL item tuples (two date
   grammars, two envelope walks, one result).
2. **Oracle recompute** — the DuckDB oracle rebuilds titles, links,
   the publication EPOCH (integer arithmetic, independent of both
   Python date parsers), and summaries from the fixture formulas.
3. **HTML-pipeline routing** — item summaries are unescaped and run
   through the package's own HTML extractor
   (``core.extract_document`` — same DOM walk, boilerplate gate, and
   char strip the web corpus gets), like EPUB chapters.

Timezone normalization is pinned for real: fixtures cycle the wall
clock through +0000 / -0800 / +0530 / +0100 offsets while the
underlying instant stays the formula epoch, so a parser that drops
the offset fails by hours.  Feeds at ``doc_id % 4 >= 2`` ship
gzip-wrapped (the common transport encoding for feed endpoints),
pinning transport handling on both families.

Supported envelope (pinned fail-soft): well-formed RSS 2.0 / Atom
documents, optionally gzip-compressed.  Malformed XML, truncated
gzip, unknown root elements, and items missing required fields
return None, never raise.

100 TB shape: identical to the extract path — synthesis and parse run
executor-side inside Arrow batches via mapInPandas; feed bytes never
cross an exchange; output rows are small typed columns.
"""

from __future__ import annotations

import gzip
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone
from email.utils import format_datetime, parsedate_to_datetime
from xml.etree import ElementTree as ET

import pandas as pd
from pyspark.sql import functions as F

from textextraction_spark.core.extract import MAX_INFLATE_BYTES

_ATOM = "http://www.w3.org/2005/Atom"
_EPOCH0 = 1_600_000_000  # 2020-09-13T12:26:40Z

# (offset_minutes, rfc3339 suffix) — cycled by (doc_id + item) % 4 so
# both families and every feed hit several; the INSTANT never moves
_TZ_CYCLE = [(0, "+00:00"), (-480, "-08:00"), (330, "+05:30"), (60, "+01:00")]


# ------------------------------------------------------------------ fixtures
def _n_items(doc_id: int) -> int:
    return 2 + doc_id % 4


def _item_fields(doc_id: int, j: int) -> tuple[str, str, int, str]:
    """(title, link, published_epoch, summary_html) for item j —
    the formulas the DuckDB oracle re-derives in SQL."""
    title = f"feed {doc_id} item {j} value {(31 * doc_id + 17 * j) % 1000}"
    link = f"https://feed{doc_id % 50}.example.com/item/{doc_id}/{j}"
    epoch = _EPOCH0 + 86400 * doc_id + 3600 * j
    summary = (
        f"<p>feed {doc_id} item {j} summary value "
        f"{(7 * doc_id + 13 * j) % 1000}</p>"
    )
    return title, link, epoch, summary


def _tz(doc_id: int, j: int) -> timezone:
    return timezone(timedelta(minutes=_TZ_CYCLE[(doc_id + j) % 4][0]))


def _maybe_gzip(doc_id: int, data: bytes) -> bytes:
    if doc_id % 4 >= 2:
        return gzip.compress(data, mtime=0)  # mtime=0: byte-deterministic
    return data


def make_rss(doc_id: int) -> bytes:
    """Deterministic RSS 2.0 feed: ``2 + doc_id % 4`` items, RFC 822
    pubDates in cycling UTC offsets, entity-escaped HTML descriptions;
    gzip-wrapped when ``doc_id % 4 >= 2``."""
    items = []
    for j in range(_n_items(doc_id)):
        title, link, epoch, summary = _item_fields(doc_id, j)
        dt = datetime.fromtimestamp(epoch, tz=_tz(doc_id, j))
        esc = summary.replace("&", "&amp;").replace("<", "&lt;")
        items.append(
            f"<item><title>{title}</title><link>{link}</link>"
            f"<pubDate>{format_datetime(dt)}</pubDate>"
            f"<description>{esc}</description>"
            f"<guid>{link}</guid></item>"
        )
    doc = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<rss version="2.0"><channel>'
        f"<title>channel {doc_id}</title>"
        f"<link>https://feed{doc_id % 50}.example.com/</link>"
        f"<description>fixture channel {doc_id}</description>"
        f"{''.join(items)}</channel></rss>"
    )
    return _maybe_gzip(doc_id, doc.encode())


def make_atom(doc_id: int) -> bytes:
    """Deterministic Atom feed with the SAME item fields as
    ``make_rss(doc_id)`` — RFC 3339 ``updated`` stamps in the same
    cycling offsets; gzip-wrapped when ``doc_id % 4 >= 2``."""
    entries = []
    for j in range(_n_items(doc_id)):
        title, link, epoch, summary = _item_fields(doc_id, j)
        suffix = _TZ_CYCLE[(doc_id + j) % 4][1]
        dt = datetime.fromtimestamp(epoch, tz=_tz(doc_id, j))
        stamp = dt.strftime("%Y-%m-%dT%H:%M:%S") + suffix
        esc = summary.replace("&", "&amp;").replace("<", "&lt;")
        entries.append(
            f"<entry><title>{title}</title>"
            f'<link href="{link}"/>'
            f"<updated>{stamp}</updated>"
            f'<summary type="html">{esc}</summary>'
            f"<id>{link}</id></entry>"
        )
    doc = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<feed xmlns="{_ATOM}">'
        f"<title>channel {doc_id}</title>"
        f"<id>https://feed{doc_id % 50}.example.com/</id>"
        f"{''.join(entries)}</feed>"
    )
    return _maybe_gzip(doc_id, doc.encode())


# ----------------------------------------------------------------- extractor
def _summary_text(html: str) -> str | None:
    """Unescaped summary HTML → extracted text via the package's own
    HTML pipeline (same DOM walk / boilerplate gate / char strip the
    web corpus gets)."""
    from textextraction_spark.core import extract_document

    r = extract_document(html.encode())
    return None if r.error else r.extracted_text


def _parse_rfc3339(stamp: str) -> datetime:
    # fromisoformat in 3.11+ accepts 'Z'; normalize for older parsers
    return datetime.fromisoformat(stamp.replace("Z", "+00:00"))


def extract_feed_items(
    data: bytes,
) -> list[tuple[str, str, str, int, str]] | None:
    """Feed bytes → ``[(fmt, title, link, published_epoch,
    summary_text), ...]`` in document order, or None.  Handles
    gzip transport, RSS 2.0 and Atom envelopes, RFC 822 and RFC 3339
    dates (offset-normalized to the epoch), and entity-escaped HTML
    summaries (routed through the HTML extraction pipeline).  Never
    raises."""
    try:
        if data[:2] == b"\x1f\x8b":
            d = gzip.GzipFile(fileobj=__import__("io").BytesIO(data))
            data = d.read(MAX_INFLATE_BYTES + 1)
            if len(data) > MAX_INFLATE_BYTES:
                return None
        root = ET.fromstring(data)
        out: list[tuple[str, str, str, int, str]] = []
        if root.tag == "rss":
            for item in root.iter("item"):
                title = item.findtext("title")
                link = item.findtext("link")
                pub = item.findtext("pubDate")
                desc = item.findtext("description")
                if None in (title, link, pub, desc):
                    return None
                epoch = int(parsedate_to_datetime(pub).timestamp())
                summary = _summary_text(desc)
                if summary is None:
                    return None
                out.append(("rss", title, link, epoch, summary))
        elif root.tag == f"{{{_ATOM}}}feed":
            for entry in root.iter(f"{{{_ATOM}}}entry"):
                title = entry.findtext(f"{{{_ATOM}}}title")
                le = entry.find(f"{{{_ATOM}}}link[@href]")
                upd = entry.findtext(f"{{{_ATOM}}}updated")
                summ = entry.findtext(f"{{{_ATOM}}}summary")
                if title is None or le is None or None in (upd, summ):
                    return None
                epoch = int(_parse_rfc3339(upd).timestamp())
                summary = _summary_text(summ)
                if summary is None:
                    return None
                out.append(("atom", title, le.get("href"), epoch, summary))
        else:
            return None
        return out
    except Exception:
        return None


# ------------------------------------------------------------------ operator
def feed_items(spark, sf_dir: str):
    """Feed ingestion path: genuine RSS/Atom documents per doc
    (family by doc_id % 2, gzip transport on doc_id % 4 >= 2) →
    mapInPandas runs the full XML walk + date normalization + HTML
    summary extraction on the actual bytes and emits one row per feed
    item.  Pytest-oracle-gated (not among the 48 driver-gated queries,
    see __spark_entry__)."""
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(T.BinaryType())
    def feed_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [
                (make_rss if int(i) % 2 == 0 else make_atom)(int(i))
                for i in doc_id
            ]
        )

    media = d.select("doc_id", feed_udf("doc_id").alias("media"))

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "doc_id",
            "fmt",
            "item_idx",
            "title",
            "link",
            "published_epoch",
            "summary",
        )
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in cols}
            for doc_id, blob in zip(pdf["doc_id"].values, pdf["media"].values):
                items = extract_feed_items(bytes(blob))
                if items is None:
                    continue  # unparseable feed: no rows, never a crash
                for j, (fmt, title, link, epoch, summary) in enumerate(items):
                    rows["doc_id"].append(doc_id)
                    rows["fmt"].append(fmt)
                    rows["item_idx"].append(j)
                    rows["title"].append(title)
                    rows["link"].append(link)
                    rows["published_epoch"].append(epoch)
                    rows["summary"].append(summary)
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        batch,
        schema=(
            "doc_id long, fmt string, item_idx long, title string, "
            "link string, published_epoch long, summary string"
        ),
    )


# the oracle rebuilds every field from the fixture formulas — the
# publication epoch as INTEGER ARITHMETIC, independent of both Python
# date parsers, so an offset-dropping parse fails by hours
FEED_ITEMS_ORACLE = """
WITH g AS (
  SELECT doc_id, 2 + doc_id % 4 AS n FROM documents
)
SELECT g.doc_id,
       CASE WHEN g.doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS fmt,
       j::BIGINT AS item_idx,
       'feed ' || g.doc_id || ' item ' || j || ' value '
           || (31 * g.doc_id + 17 * j) % 1000 AS title,
       'https://feed' || g.doc_id % 50 || '.example.com/item/'
           || g.doc_id || '/' || j AS link,
       (1600000000 + 86400 * g.doc_id + 3600 * j)::BIGINT
           AS published_epoch,
       'feed ' || g.doc_id || ' item ' || j || ' summary value '
           || (7 * g.doc_id + 13 * j) % 1000 AS summary
FROM g, UNNEST(range(g.n)) AS u(j)
"""
