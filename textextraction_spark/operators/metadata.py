"""Page-metadata extraction — title, canonical URL, OpenGraph,
JSON-LD — in pure stdlib html.parser + json + urllib.

The reference extracts body text and field spans
(/root/reference/TextExtraction/Worker.cs:144-200); production web
pipelines also need the page's METADATA surface: the canonical URL
(dedup key for syndicated/mirrored pages), OpenGraph card fields,
and schema.org JSON-LD (headline + publication date power news
freshness ranking).  The body pipeline's block sink deliberately
drops attributes and script payloads, so this is a second, dedicated
single-pass scan:

- ``<title>`` — first one wins.
- ``<base href>`` + ``<link rel="canonical" href>`` — the canonical
  is resolved RFC-3986-style against the base (fixtures use ``../``
  relative canonicals so path normalization is load-bearing);
  first canonical wins (browser behavior — decoy second links are
  pinned ignored).
- ``<meta property="og:..." content=...>`` — attribute ORDER varies
  in the fixtures (content-before-property on odd doc_ids), so the
  scan must read attrs by name; first value per key wins.
- ``<script type="application/ld+json">`` — JSON parse, first
  object's ``@type`` / ``headline`` / ``datePublished`` (RFC 3339,
  cycling UTC offsets normalized to an epoch the oracle recomputes
  with integer arithmetic).  Decoy ld+json inside HTML COMMENTS must
  be ignored (html.parser routes comments away from data events);
  malformed JSON fails soft to nulls.
- ``<meta name="robots" content=...>`` — index-control directives
  (which extracted pages may be KEPT is a compliance gate at corpus
  scale): comma-tokenized, case-insensitive, whitespace-tolerant
  (fixtures render ``" NOINDEX , NoFollow "`` variants), emitted as
  ``robots_noindex`` / ``robots_nofollow`` booleans (false when the
  meta is absent).  ``name=`` metas are a different attribute
  namespace than OpenGraph's ``property=`` — both scans coexist in
  the one pass.
- ``<html lang=...>`` — the declared document language, lowercased
  (fixtures cycle case), None when undeclared.

Fail-soft envelope: any input produces one row; fields the page
lacks (or that fail to parse) are NULL, never an exception.

100 TB shape: identical to the extract path — synthesis and scan run
executor-side inside Arrow batches via mapInPandas; page bytes never
cross an exchange.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from datetime import datetime, timezone
from html.parser import HTMLParser
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import functions as F

_EPOCH0 = 1_600_000_000

# same cycling offsets as operators/feeds.py — the instant never moves
_TZ_SUFFIX = ["+00:00", "-08:00", "+05:30", "+01:00"]
_TZ_MINUTES = [0, -480, 330, 60]

# declared-language cycle — mixed case in the FIXTURES, lowercased by
# extraction (BCP 47 tags are case-insensitive)
_LANG_CYCLE = ["en", "DE", "fr-FR", "ZH-cn"]

# robots-meta fixture families: (content rendering, noindex, nofollow)
_ROBOTS_CYCLE = {
    1: (" NOINDEX , NoFollow ", True, True),
    3: ("noindex", True, False),
    5: ("index, NOFOLLOW", False, True),
}


# ------------------------------------------------------------------ fixtures
def _expected_fields(doc_id: int) -> dict:
    """The formula values the DuckDB oracle re-derives in SQL."""
    site = f"https://site{doc_id % 50}.example.com"
    if doc_id % 3 == 0:
        canonical = f"{site}/a/c/{doc_id}"  # ../c/{d} resolved vs /a/b/
    else:
        canonical = f"{site}/page/{doc_id}"
    return {
        "title": f"page {doc_id} title value {(31 * doc_id) % 1000}",
        "canonical": canonical,
        "og_title": f"og {doc_id} value {(7 * doc_id) % 1000}",
        "og_url": f"https://og{doc_id % 50}.example.com/{doc_id}",
        "ld_type": "NewsArticle" if doc_id % 2 else "Article",
        "ld_headline": f"headline {doc_id} value {(13 * doc_id) % 1000}",
        "ld_published_epoch": _EPOCH0 + 86400 * doc_id,
        "html_lang": (
            None if doc_id % 3 == 1 else _LANG_CYCLE[doc_id % 4].lower()
        ),
        "robots_noindex": doc_id % 7 in (1, 3),
        "robots_nofollow": doc_id % 7 in (1, 5),
    }


def make_meta_page(doc_id: int) -> bytes:
    """Deterministic HTML page carrying every metadata surface, plus
    the adversarial furniture: decoy second canonical (doc_id % 4 ==
    1), repeated og:title (doc_id % 5 == 2), commented-out ld+json
    decoy (doc_id % 6 == 3), and content-before-property attribute
    order on odd doc_ids."""
    e = _expected_fields(doc_id)
    site = f"https://site{doc_id % 50}.example.com"
    head = [f"<title>{e['title']}</title>"]
    if doc_id % 7 in _ROBOTS_CYCLE:
        content = _ROBOTS_CYCLE[doc_id % 7][0]
        head.append(f'<meta name="robots" content="{content}">')
    if doc_id % 3 == 0:
        head.append(f'<base href="{site}/a/b/">')
        head.append(f'<link rel="canonical" href="../c/{doc_id}">')
    else:
        head.append(f'<link rel="canonical" href="{e["canonical"]}">')
    if doc_id % 4 == 1:  # decoy: first canonical must win
        head.append(f'<link rel="canonical" href="{site}/wrong/{doc_id}">')
    if doc_id % 2 == 1:  # attribute order must not matter
        head.append(f'<meta content="{e["og_title"]}" property="og:title">')
    else:
        head.append(f'<meta property="og:title" content="{e["og_title"]}">')
    if doc_id % 5 == 2:  # decoy: first og value must win
        head.append('<meta property="og:title" content="WRONG">')
    head.append(f'<meta property="og:url" content="{e["og_url"]}">')
    if doc_id % 6 == 3:  # decoy inside a comment: must be ignored
        head.append(
            '<!-- <script type="application/ld+json">'
            '{"@type":"Decoy","headline":"WRONG"}</script> -->'
        )
    # render the SAME instant in the cycled offset: wall clock at
    # offset `off` == UTC wall clock of (epoch + off*60)
    off = _TZ_MINUTES[doc_id % 4]
    local = datetime.fromtimestamp(
        e["ld_published_epoch"] + off * 60, tz=timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%S")
    ld = {
        "@context": "https://schema.org",
        "@type": e["ld_type"],
        "headline": e["ld_headline"],
        "datePublished": local + _TZ_SUFFIX[doc_id % 4],
    }
    head.append(
        '<script type="application/ld+json">'
        + json.dumps(ld, separators=(",", ":"))
        + "</script>"
    )
    body = f"<p>doc {doc_id} body text value {(31 * doc_id) % 1000}</p>"
    html_open = (
        "<html>"
        if doc_id % 3 == 1
        else f'<html lang="{_LANG_CYCLE[doc_id % 4]}">'
    )
    return (
        html_open + "<head>" + "".join(head)
        + f"</head><body>{body}</body></html>"
    ).encode()


# ----------------------------------------------------------------- extractor
class _MetaScanner(HTMLParser):
    """One pass over the page: title / base+canonical / og:* /
    ld+json.  First value wins everywhere; comments never reach
    handle_data, so commented-out decoys are structurally ignored."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title: str | None = None
        self.base: str | None = None
        self.canonical_raw: str | None = None
        self.og: dict[str, str] = {}
        self.ld_raw: str | None = None
        self.html_lang: str | None = None
        self.robots: str | None = None
        self._in_title = False
        self._in_ld = False
        self._buf: list[str] = []

    def handle_starttag(self, tag, attrs):  # noqa: ANN001
        a = dict(attrs)
        if tag == "html" and self.html_lang is None and a.get("lang"):
            self.html_lang = a["lang"].lower()
        elif tag == "title" and self.title is None:
            self._in_title = True
            self._buf = []
        elif tag == "base" and self.base is None and a.get("href"):
            self.base = a["href"]
        elif (
            tag == "link"
            and self.canonical_raw is None
            and (a.get("rel") or "").lower() == "canonical"
            and a.get("href")
        ):
            self.canonical_raw = a["href"]
        elif tag == "meta":
            prop = a.get("property") or ""
            if prop.startswith("og:") and a.get("content") is not None:
                self.og.setdefault(prop, a["content"])
            elif (
                (a.get("name") or "").lower() == "robots"
                and self.robots is None
                and a.get("content") is not None
            ):
                self.robots = a["content"]
        elif (
            tag == "script"
            and self.ld_raw is None
            and (a.get("type") or "").lower() == "application/ld+json"
        ):
            self._in_ld = True
            self._buf = []

    def handle_endtag(self, tag):  # noqa: ANN001
        if tag == "title" and self._in_title:
            self.title = "".join(self._buf).strip()
            self._in_title = False
        elif tag == "script" and self._in_ld:
            self.ld_raw = "".join(self._buf)
            self._in_ld = False

    def handle_data(self, data):  # noqa: ANN001
        if self._in_title or self._in_ld:
            self._buf.append(data)


def extract_page_metadata(data: bytes) -> dict:
    """Page bytes → metadata dict (all keys present, missing surfaces
    are None).  Canonical resolved against <base href> when present;
    ld+json datePublished offset-normalized to an epoch.  Never
    raises."""
    out = {
        "title": None,
        "canonical": None,
        "og_title": None,
        "og_url": None,
        "ld_type": None,
        "ld_headline": None,
        "ld_published_epoch": None,
        "html_lang": None,
        "robots_noindex": False,
        "robots_nofollow": False,
    }
    try:
        s = _MetaScanner()
        s.feed(data.decode("utf-8", "replace"))
        out["title"] = s.title
        out["html_lang"] = s.html_lang
        if s.robots is not None:
            toks = {t.strip().lower() for t in s.robots.split(",")}
            out["robots_noindex"] = "noindex" in toks
            out["robots_nofollow"] = "nofollow" in toks
        if s.canonical_raw is not None:
            out["canonical"] = (
                urljoin(s.base, s.canonical_raw) if s.base else s.canonical_raw
            )
        out["og_title"] = s.og.get("og:title")
        out["og_url"] = s.og.get("og:url")
        if s.ld_raw is not None:
            try:
                ld = json.loads(s.ld_raw)
                if isinstance(ld, dict):
                    t = ld.get("@type")
                    h = ld.get("headline")
                    out["ld_type"] = t if isinstance(t, str) else None
                    out["ld_headline"] = h if isinstance(h, str) else None
                    dp = ld.get("datePublished")
                    if isinstance(dp, str):
                        out["ld_published_epoch"] = int(
                            datetime.fromisoformat(
                                dp.replace("Z", "+00:00")
                            ).timestamp()
                        )
            except Exception:
                pass  # malformed JSON-LD: nulls, page row survives
    except Exception:
        pass
    return out


# ------------------------------------------------------------------ operator
def page_metadata(spark, sf_dir: str):
    """Metadata extraction path: deterministic pages with decoy
    furniture → mapInPandas runs the full scan on the actual bytes.
    Pytest-oracle-gated (not among the 48 driver-gated queries, see
    __spark_entry__)."""
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(T.BinaryType())
    def page_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series([make_meta_page(int(i)) for i in doc_id])

    media = d.select("doc_id", page_udf("doc_id").alias("media"))

    keys = (
        "title",
        "canonical",
        "og_title",
        "og_url",
        "ld_type",
        "ld_headline",
        "ld_published_epoch",
        "html_lang",
        "robots_noindex",
        "robots_nofollow",
    )

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in ("doc_id", *keys)}
            for doc_id, blob in zip(pdf["doc_id"].values, pdf["media"].values):
                m = extract_page_metadata(bytes(blob))
                rows["doc_id"].append(doc_id)
                for k in keys:
                    rows[k].append(m[k])
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        batch,
        schema=(
            "doc_id long, title string, canonical string, og_title string, "
            "og_url string, ld_type string, ld_headline string, "
            "ld_published_epoch long, html_lang string, "
            "robots_noindex boolean, robots_nofollow boolean"
        ),
    )


# every field from the fixture formulas; the canonical branch rebuilds
# the ../-resolution result in SQL and the epoch is integer arithmetic
PAGE_METADATA_ORACLE = """
SELECT doc_id,
       'page ' || doc_id || ' title value ' || (31 * doc_id) % 1000
           AS title,
       CASE WHEN doc_id % 3 = 0
            THEN 'https://site' || doc_id % 50 || '.example.com/a/c/'
                 || doc_id
            ELSE 'https://site' || doc_id % 50 || '.example.com/page/'
                 || doc_id
       END AS canonical,
       'og ' || doc_id || ' value ' || (7 * doc_id) % 1000 AS og_title,
       'https://og' || doc_id % 50 || '.example.com/' || doc_id AS og_url,
       CASE WHEN doc_id % 2 = 1 THEN 'NewsArticle' ELSE 'Article' END
           AS ld_type,
       'headline ' || doc_id || ' value ' || (13 * doc_id) % 1000
           AS ld_headline,
       (1600000000 + 86400 * doc_id)::BIGINT AS ld_published_epoch,
       CASE WHEN doc_id % 3 = 1 THEN NULL
            ELSE lower(['en', 'DE', 'fr-FR', 'ZH-cn'][doc_id % 4 + 1])
       END AS html_lang,
       doc_id % 7 IN (1, 3) AS robots_noindex,
       doc_id % 7 IN (1, 5) AS robots_nofollow
FROM documents
"""
