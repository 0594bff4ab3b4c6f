"""WARC source/sink: Common Crawl's on-disk format, parsed straight into
the ``pages`` table shape (and written back out for fixtures/interchange).

The format is public (ISO 28500 / the WARC 1.1 spec; Common Crawl's
layout = one gzip member per record, segment files of ~1 GB).  Reference
parity: the reference service polls a directory for the files as they
arrive (TextExtraction/Worker.cs FolderMonitor loop); the crawl-scale
analog of that directory is a tree of WARC segments, which this module
reads directly into ``pages(url, warc_ts, html)`` — no intermediate
conversion job, so a user can point the extraction pipeline at a raw
crawl.

100 TB shape
------------
``.warc.gz`` is NOT splittable (gzip members carry no sync markers a
generic splitter can find), so the unit of parallelism is the FILE —
which is exactly why Common Crawl caps segments at ~1 GB: 100 TB is
~100k files, far more tasks than any cluster has cores, so
file-granular scheduling already saturates it.  The read side is a
``binaryFile`` scan (one row per file, never split, whole-file bytes)
followed by ONE ``mapInArrow`` pass (bytes in, record columns out, in
bounded chunks); there is no shuffle anywhere, and extraction can run
on the scan partitions directly.  Per-file memory is bounded by the
segment size — the same bound every WARC consumer accepts — and record
chunking keeps each emitted Arrow batch small regardless of file size.

Scope: response records with an ``application/http`` payload (the
record type that carries page bodies).  ``warcinfo`` / ``request`` /
``metadata`` records are skipped, as is a truncated trailing record
(crawl files do arrive truncated); ``Transfer-Encoding: chunked``
payloads are out of scope (Common Crawl stores de-chunked bodies).
"""

from __future__ import annotations

import gzip
import hashlib
import os
import re
import zlib
from datetime import datetime, timezone

_CRLF2 = b"\r\n\r\n"

# charset parameter of an HTTP Content-Type header (case-insensitive,
# multiline over the raw header block)
_HTTP_CHARSET = re.compile(
    rb"(?im)^content-type:[^\r\n]*?charset\s*=\s*[\"']?([A-Za-z0-9_.:\-]+)"
)
_TS_FMT = "%Y-%m-%dT%H:%M:%SZ"
_CANONICAL_DATE = re.compile(r"(\d{4})-(\d\d)-(\d\d)T(\d\d):(\d\d):(\d\d)Z", re.ASCII)

# pages-minimal schema: what the extraction kernel consumes.
WARC_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, charset string"

# records per emitted Arrow batch on the read side (secondary bound —
# the byte-level bound is the segment size itself)
_CHUNK_RECORDS = 4096

# page-segment glob: matches x.warc / x.warc.gz but NOT x.warc.wet.gz
_WARC_GLOB = "*.warc{,.gz}"
# index subdirs: page, WET, and WAT indexes live side by side, never clobber
_CDX_DIR = "cdx"
_CDX_WET_DIR = "cdx-wet"
_CDX_WAT_DIR = "cdx-wat"


# --------------------------------------------------------------------------
# record writer (pure function of (url, ts, html): deterministic fixtures)
# --------------------------------------------------------------------------
def warc_record_bytes(
    url: str,
    ts: datetime,
    html: bytes,
    http_content_type: str = "text/html",
) -> bytes:
    """One uncompressed WARC/1.0 response record wrapping a plain HTTP
    response.  Deterministic: the record id derives from the url, the
    date from ``ts`` — no wall clock, no uuid4.  ``http_content_type``
    lets tests emit records whose HTTP header declares a charset (the
    transport-level encoding signal real crawls carry)."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: " + http_content_type.encode("ascii") + b"\r\n"
        b"Content-Length: " + str(len(html)).encode() + _CRLF2 + html
    )
    rec_id = hashlib.md5(url.encode("utf-8")).hexdigest()
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime(_TS_FMT)}\r\n"
        f"WARC-Record-ID: <urn:md5:{rec_id}>\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
    ).encode("utf-8")
    return head + b"\r\n" + http + _CRLF2


def wet_record_bytes(url: str, ts: datetime, text: str) -> bytes:
    """One WARC *conversion* record — the WET form Common Crawl publishes
    for extracted plain text, i.e. exactly what this engine produces.
    The payload is the raw UTF-8 text; no HTTP envelope."""
    body = text.encode("utf-8")
    # Record-ID is MANDATORY on every record (ISO 28500); Refers-To
    # points at the response record's id (the same url-derived digest
    # warc_record_bytes emits), Record-ID gets its own derivation
    src_id = hashlib.md5(url.encode("utf-8")).hexdigest()
    rec_id = hashlib.md5(b"wet:" + url.encode("utf-8")).hexdigest()
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime(_TS_FMT)}\r\n"
        f"WARC-Record-ID: <urn:md5:{rec_id}>\r\n"
        f"WARC-Refers-To: <urn:md5:{src_id}>\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode("utf-8")
    return head + b"\r\n" + body + _CRLF2


def wat_record_bytes(url: str, ts: datetime, wat_json: str) -> bytes:
    """One WARC *metadata* record — the WAT form Common Crawl publishes
    for per-capture metadata (page head fields + outgoing links as a
    JSON envelope).  Refers-To points at the response record's
    url-derived id, so WAT rows join back to their page captures."""
    body = wat_json.encode("utf-8")
    src_id = hashlib.md5(url.encode("utf-8")).hexdigest()
    rec_id = hashlib.md5(b"wat:" + url.encode("utf-8")).hexdigest()
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: metadata\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime(_TS_FMT)}\r\n"
        f"WARC-Record-ID: <urn:md5:{rec_id}>\r\n"
        f"WARC-Refers-To: <urn:md5:{src_id}>\r\n"
        "Content-Type: application/json\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode("utf-8")
    return head + b"\r\n" + body + _CRLF2


def warcinfo_record_bytes(filename: str) -> bytes:
    """The file-level warcinfo header record Common Crawl leads with —
    written so the parser's skip path is exercised by every fixture."""
    body = f"software: textextraction_spark\nwarc-file: {filename}\n".encode()
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: warcinfo\r\n"
        f"WARC-Date: {datetime(2026, 1, 1, tzinfo=timezone.utc).strftime(_TS_FMT)}\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode()
    return head + b"\r\n" + body + _CRLF2


def surt_key(url: str) -> str:
    """Sort-friendly Reversed URI (SURT), the key CDX indexes sort by:
    ``https://heavy.example.com/d/1`` -> ``com,example,heavy)/d/1``.
    Reversing the host groups a domain's captures contiguously, which is
    what makes a range-partitioned index answer per-domain queries with
    partition pruning instead of a full scan."""
    rest = url.split("://", 1)[-1]
    host, slash, path = rest.partition("/")
    query = ""
    if "?" in host:  # query with no path: ex.com?page=2
        host, _, q = host.partition("?")
        query = "?" + q
    host = host.split("@")[-1].split(":")[0].lower()
    tail = (slash + path) if slash else "/"
    return ",".join(reversed(host.split("."))) + ")" + tail + query


def warc_file_with_index(
    records: list[tuple[str, datetime, bytes]],
    filename: str = "part.warc.gz",
    compress: bool = True,
    rec_fn=warc_record_bytes,
) -> tuple[bytes, list[tuple[str, str, datetime, int, int]]]:
    """A full WARC file plus its capture index.  With ``compress``, each
    record is its own gzip member (Common Crawl's layout — members
    concatenate into a valid multi-member stream) and ``mtime=0`` keeps
    the bytes reproducible.  The index rows are
    ``(surt, url, ts, offset, length)`` where offset/length address the
    record's member inside the file — the CDX contract that makes a
    single capture fetchable with one ranged read.  ``rec_fn`` selects
    the record form (response pages by default; ``wet_record_bytes``
    for extracted-text conversion records)."""

    def z(b: bytes) -> bytes:
        return gzip.compress(b, 6, mtime=0) if compress else b

    out = [z(warcinfo_record_bytes(filename))]
    pos = len(out[0])
    index: list[tuple[str, str, datetime, int, int]] = []
    for u, t, h in records:
        member = z(rec_fn(u, t, h))
        index.append((surt_key(u), u, t, pos, len(member)))
        out.append(member)
        pos += len(member)
    return b"".join(out), index


def warc_file_bytes(
    records: list[tuple[str, datetime, bytes]],
    filename: str = "part.warc.gz",
    compress: bool = True,
) -> bytes:
    return warc_file_with_index(records, filename, compress)[0]


# --------------------------------------------------------------------------
# record parser (bytes of one file -> (url, ts, html) tuples)
# --------------------------------------------------------------------------
def _gunzip_members(buf: bytes) -> bytes:
    """Concatenated-member gunzip that TOLERATES a truncated final member
    or trailing garbage (both real Common-Crawl failure modes): whatever
    decompressed before the defect is returned instead of raising."""
    out: list[bytes] = []
    while buf:
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(buf))
            out.append(d.flush())
        except zlib.error:
            break  # corrupt member / trailing garbage
        if not d.eof:
            break  # truncated final member: keep the partial bytes
        buf = d.unused_data
    return b"".join(out)


def _hdecode(b: bytes) -> str:
    # WARC headers are UTF-8 per spec; fall back to latin-1 so a stray
    # byte degrades one value instead of dropping the record
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _parse_headers(raw: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in raw.split(b"\r\n")[1:]:  # [0] is the WARC/1.x version line
        # grammar is name ":" [SP] value — the space is optional
        k, sep, v = line.partition(b":")
        if sep:
            headers[_hdecode(k).lower()] = _hdecode(v).strip()
    return headers


def _parse_warc_date(date: str) -> datetime | None:
    # The canonical form (``_TS_FMT``) by one match: strptime costs most
    # of a record's parse.  Anything else, and an out-of-range field,
    # takes the general parsers below.
    m = _CANONICAL_DATE.fullmatch(date)
    if m:
        try:
            return datetime(*map(int, m.groups()), tzinfo=timezone.utc)
        except ValueError:
            pass
    try:
        return datetime.strptime(date, _TS_FMT).replace(tzinfo=timezone.utc)
    except ValueError:
        pass
    try:  # WARC 1.1 allows fractional seconds (warcio, modern wget)
        return datetime.fromisoformat(date.replace("Z", "+00:00"))
    except ValueError:
        return None


def iter_warc_records(buf: bytes, record_types: tuple[str, ...] = ("response",)):
    """Yield ``(url, ts_datetime, payload_bytes)`` for each record whose
    ``WARC-Type`` is in ``record_types`` (responses by default;
    ``("conversion",)`` reads WET text records).

    Accepts gzipped (single- or multi-member) and plain files.  Other
    record types are skipped; a malformed or truncated tail ends the
    iteration cleanly instead of raising (crawl segments do truncate).
    """
    if buf[:2] == b"\x1f\x8b":
        buf = _gunzip_members(buf)
    pos = 0
    n = len(buf)
    while pos < n:
        start = buf.find(b"WARC/", pos)
        if start < 0:
            return
        hend = buf.find(_CRLF2, start)
        if hend < 0:
            return
        headers = _parse_headers(buf[start:hend])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            return  # unparseable record: stop rather than resync blindly
        block_start = hend + len(_CRLF2)
        block_end = block_start + length
        if block_end > n:
            return  # truncated tail
        pos = block_end
        if headers.get("warc-type") not in record_types:
            continue
        url = headers.get("warc-target-uri")
        date = headers.get("warc-date")
        if not url or not date:
            continue
        ts = _parse_warc_date(date)
        if ts is None:
            continue
        block = buf[block_start:block_end]
        charset = None
        if headers.get("content-type", "").startswith("application/http"):
            # strip the HTTP status line + headers; body follows \r\n\r\n
            split = block.find(_CRLF2)
            body = block[split + len(_CRLF2):] if split >= 0 else b""
            # Surface (don't apply) the HTTP-header charset: the payload
            # may still be gzip-wrapped here, and the in-document meta
            # must be suppressed when the transport declares — both are
            # decisions only the extraction kernel's normalize pipeline
            # can make in the right order, so the label travels as a
            # column and is applied exactly once there (whatwg: BOM >
            # transport > meta).
            m = _HTTP_CHARSET.search(block[:split] if split >= 0 else b"")
            if m:
                charset = m.group(1).decode("ascii", "replace")
        else:
            body = block
        yield url, ts, body, charset


# --------------------------------------------------------------------------
# Spark read: WARC directory -> pages-shaped DataFrame
# --------------------------------------------------------------------------
def _parse_batches_gen(batches, record_types, payload_name, text_mode):
    import pyarrow as pa

    from textextraction_spark.job.arrow_build import column

    ts_type = pa.timestamp("us", tz="UTC")
    payload_type = pa.string() if text_mode else pa.binary()
    # pages carry the envelope's charset label onward (the kernel applies
    # it with BOM > transport > meta precedence); WET text is UTF-8 by
    # definition, no column needed
    with_charset = not text_mode

    def flush(urls, tss, payloads, charsets):
        # buffer-built columns: pa.array would load pandas into the worker
        arrays = [
            column(urls, pa.string()),
            column(tss, ts_type),
            column(payloads, payload_type),
        ]
        names = ["url", "warc_ts", payload_name]
        if with_charset:
            arrays.append(column(charsets, pa.string()))
            names.append("charset")
        return pa.RecordBatch.from_arrays(arrays, names=names)

    for batch in batches:
        col = batch.column("content")
        for i in range(len(col)):
            # one file's bytes live at a time (as_py per row, never
            # to_pylist of the whole batch): peak per-task memory is one
            # segment + its decompressed form, as documented
            content = col[i].as_py()
            urls: list[str] = []
            tss: list[datetime] = []
            payloads: list = []
            charsets: list = []
            for url, ts, body, charset in iter_warc_records(
                content or b"", record_types
            ):
                urls.append(url)
                tss.append(ts)
                payloads.append(
                    body.decode("utf-8", errors="replace") if text_mode else body
                )
                charsets.append(charset)
                if len(urls) >= _CHUNK_RECORDS:
                    yield flush(urls, tss, payloads, charsets)
                    urls, tss, payloads, charsets = [], [], [], []
            if urls:
                yield flush(urls, tss, payloads, charsets)


def _parse_file_batches(batches):
    yield from _parse_batches_gen(batches, ("response",), "html", False)


def _parse_wet_batches(batches):
    yield from _parse_batches_gen(batches, ("conversion",), "extracted_text", True)


def parse_warc_files(files_df):
    """``binaryFile``-shaped DataFrame (a ``content`` column of whole
    segment bytes) -> pages ``(url, warc_ts, html)`` via one
    ``mapInArrow`` pass.  Works on batch and on the per-micro-batch
    frames ``foreachBatch`` hands the streaming job."""
    return files_df.select("content").mapInArrow(
        _parse_file_batches, schema=WARC_PAGES_SCHEMA
    )


def read_warc(spark, path: str):
    """Directory (or glob) of ``.warc`` / ``.warc.gz`` files -> DataFrame
    ``(url, warc_ts, html)`` ready for ``run_extraction_job`` /
    ``extract_pages``.  One ``binaryFile`` scan (file-granular tasks, no
    splitting) + one ``mapInArrow`` parse; zero shuffles."""
    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    files = (
        spark.read.format("binaryFile")
        # brace glob EXCLUDES .warc.wet.gz: a shared tree must not pay a
        # full gunzip+parse of every WET byte on each page scan
        .option("pathGlobFilter", _WARC_GLOB)
        # Common Crawl's layout nests segments (segments/<seg>/warc/*)
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    return parse_warc_files(files)


def read_warc_stream(spark, path: str):
    """Streaming twin of ``read_warc``'s SCAN half: a ``binaryFile``
    file-source stream over a growing segment tree — Spark's streaming
    checkpoint tracks which files have been consumed, which is exactly
    the reference's poll-directory contract (Worker.cs FolderMonitor)
    at crawl granularity.  Returns the raw files stream; the parse runs
    per micro-batch via ``parse_warc_files`` (inside ``foreachBatch``
    the frame is a plain batch DataFrame, so the batch parser is reused
    verbatim — one code path for both surfaces)."""
    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    return (
        spark.readStream.format("binaryFile")
        # streaming sources demand an explicit schema; binaryFile's is
        # fixed by the format (path/modificationTime/length/content)
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", _WARC_GLOB)
        .option("recursiveFileLookup", "true")
        .load(path)
    )


# --------------------------------------------------------------------------
# Spark write: pages-shaped DataFrame -> one WARC file per partition
# --------------------------------------------------------------------------
CDX_SCHEMA = (
    "surt string, url string, warc_ts timestamp, "
    "filename string, offset long, length long"
)


def _write_segment_dir(
    df, out_dir: str, compress: bool, index: bool, value_col: str, rec_fn, ext: str,
    cdx_dir: str, prefix: str = "part", cdx_mode: str = "overwrite",
    collect_manifest: bool = True,
):
    """``prefix`` / ``cdx_mode='append'`` / ``collect_manifest=False``
    are the STREAMING knobs: per-micro-batch exports name segments by
    epoch so epochs never clobber each other, append their CDX rows,
    and skip the driver-side manifest (which would re-read the whole
    accumulated index every epoch)."""
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    binary = value_col == "html"

    def _write(pdfs):
        pid = TaskContext.get().partitionId()
        name = f"{prefix}-{pid:05d}{ext}" + (".gz" if compress else "")
        records: list[tuple[str, datetime, object]] = []
        for pdf in pdfs:
            for url, ts, val in zip(pdf["url"], pdf["warc_ts"], pdf[value_col]):
                t = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                if t.tzinfo is None:
                    t = t.replace(tzinfo=timezone.utc)
                records.append((url, t, bytes(val) if binary else str(val)))
        if not records:
            return
        buf, idx = warc_file_with_index(
            records, filename=name, compress=compress, rec_fn=rec_fn
        )
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(buf)
        yield pd.DataFrame(
            {
                "surt": [r[0] for r in idx],
                "url": [r[1] for r in idx],
                "warc_ts": [r[2] for r in idx],
                "filename": name,
                "offset": [r[3] for r in idx],
                "length": [r[4] for r in idx],
            }
        )

    cdx = df.select("url", "warc_ts", value_col).mapInPandas(
        _write, schema=CDX_SCHEMA
    )
    if index:
        # the parquet write is the action that drives the segment writes
        cdx.write.mode(cdx_mode).parquet(os.path.join(out_dir, cdx_dir))
        if not collect_manifest:
            return None
        manifest = (
            df.sparkSession.read.parquet(os.path.join(out_dir, cdx_dir))
            .groupBy("filename")
            .agg(F.count("*").alias("n_records"))
            .collect()
        )
    else:
        manifest = (
            cdx.groupBy("filename").agg(F.count("*").alias("n_records")).collect()
        )
    return sorted(
        [
            type(r)(
                path=os.path.join(out_dir, r.filename), n_records=r.n_records
            )
            for r in manifest
        ]
    )


def write_warc_dir(df, out_dir: str, compress: bool = True, index: bool = True,
                   **stream_kw):
    """Write ``(url, warc_ts, html)`` out as ``part-{pid}.warc.gz`` files,
    one per partition, returning the (tiny) per-file manifest as a list
    of Rows ``(path, n_records)``.

    Partition-granular imperative IO is the standard lane for
    non-columnar sinks (an object-store client would sit in the same
    loop on a real cluster); the transform itself stays batch-vectorized
    via ``mapInPandas``.  With ``index=True`` (default) the per-record
    capture index — ``(surt, url, warc_ts, filename, offset, length)``,
    the CDX contract Common Crawl publishes alongside its crawls — is
    the mapInPandas OUTPUT and is written to ``{out_dir}/cdx`` as
    parquet by Spark itself: the index of a 100 TB crawl is billions of
    rows and stays fully distributed; the only driver-side collect is
    the per-FILE manifest aggregated from it."""
    return _write_segment_dir(
        df, out_dir, compress, index, "html", warc_record_bytes, ".warc",
        _CDX_DIR, **stream_kw
    )


def write_wet_dir(df, out_dir: str, compress: bool = True, index: bool = True,
                  **stream_kw):
    """Write extraction RESULTS ``(url, warc_ts, extracted_text)`` as WET
    segments (``part-{pid}.warc.wet.gz``, WARC *conversion* records) —
    the format Common Crawl publishes extracted plain text in, i.e. the
    interchange form of exactly what this engine computes.  Same
    layout and manifest contract as ``write_warc_dir``; the index lands
    in ``{out_dir}/cdx-wet`` so page and WET exports can share a tree
    without clobbering each other's CDX."""
    return _write_segment_dir(
        df, out_dir, compress, index, "extracted_text", wet_record_bytes,
        ".warc.wet", _CDX_WET_DIR, **stream_kw
    )


def read_wet(spark, path: str):
    """WET segments -> DataFrame ``(url, warc_ts, extracted_text)``.
    Same zero-shuffle binaryFile + mapInArrow shape as ``read_warc``."""
    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wet*")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("content")
    )
    return files.mapInArrow(
        _parse_wet_batches, schema="url string, warc_ts timestamp, extracted_text string"
    )


# --------------------------------------------------------------------------
# WAT: the metadata third of the Common Crawl triple (WARC/WAT/WET)
# --------------------------------------------------------------------------
def build_wat(pages):
    """pages ``(url, warc_ts, html)`` -> ``(url, warc_ts, wat)`` with the
    WAT JSON envelope built ENTIRELY JVM-side — ``to_json`` over nested
    structs, title/link mining via codegen'd ``regexp_extract_all`` —
    zero Python in the plan, zero exchanges.  Envelope shape follows
    Common Crawl's published WAT layout:
    ``Envelope.WARC-Header-Metadata.{WARC-Target-URI, WARC-Date}`` and
    ``Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata
    .{Head.Title, Links[].url}``.  The html bytes are read through the
    LENIENT binary->string cast (not strict ``decode``): at corpus
    scale a single legacy-charset or transport-compressed page must
    yield an empty-metadata WAT row, never kill the job — callers that
    want mined metadata for those families route them through the
    extraction kernel's charset layer first (the
    ``operators.graph.anchor_corpus`` contract)."""
    from pyspark.sql import functions as F

    dec = F.col("html").cast("string")
    title = F.regexp_extract(dec, "<title>([^<]*)</title>", 1)
    links = F.regexp_extract_all(dec, F.lit("<a href=([^>]*)>"), 1)
    envelope = F.struct(
        F.struct(
            F.col("url").alias("WARC-Target-URI"),
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                "WARC-Date"
            ),
        ).alias("WARC-Header-Metadata"),
        F.struct(
            F.struct(
                F.struct(
                    F.struct(title.alias("Title")).alias("Head"),
                    F.transform(
                        links, lambda u: F.struct(u.alias("url"))
                    ).alias("Links"),
                ).alias("HTML-Metadata")
            ).alias("HTTP-Response-Metadata")
        ).alias("Payload-Metadata"),
    ).alias("Envelope")
    return pages.select(
        "url", "warc_ts", F.to_json(F.struct(envelope)).alias("wat")
    )


def write_wat_dir(df, out_dir: str, compress: bool = True, index: bool = True,
                  **stream_kw):
    """Write ``(url, warc_ts, wat)`` rows (see ``build_wat``) as WAT
    segments (``part-{pid}.warc.wat.gz``, WARC *metadata* records with
    JSON payloads).  Same layout and manifest contract as
    ``write_warc_dir``; the index lands in ``{out_dir}/cdx-wat``."""
    return _write_segment_dir(
        df, out_dir, compress, index, "wat", wat_record_bytes,
        ".warc.wat", _CDX_WAT_DIR, **stream_kw
    )


def _parse_wat_batches(batches):
    yield from _parse_batches_gen(batches, ("metadata",), "wat", True)


def read_wat(spark, path: str):
    """WAT segments -> DataFrame ``(url, warc_ts, wat)`` (raw JSON
    column).  Same zero-shuffle binaryFile + mapInArrow shape as
    ``read_warc``; use ``parse_wat`` for typed columns."""
    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wat*")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("content")
    )
    return files.mapInArrow(
        _parse_wat_batches, schema="url string, warc_ts timestamp, wat string"
    )


def parse_wat(df):
    """``(url, warc_ts, wat)`` -> ``(url, warc_ts, title, links)`` via a
    JVM-side ``from_json`` against the envelope schema (no Python)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    html_meta = T.StructType(
        [
            T.StructField(
                "Head",
                T.StructType([T.StructField("Title", T.StringType())]),
            ),
            T.StructField(
                "Links",
                T.ArrayType(
                    T.StructType([T.StructField("url", T.StringType())])
                ),
            ),
        ]
    )
    schema = T.StructType(
        [
            T.StructField(
                "Envelope",
                T.StructType(
                    [
                        T.StructField(
                            "Payload-Metadata",
                            T.StructType(
                                [
                                    T.StructField(
                                        "HTTP-Response-Metadata",
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "HTML-Metadata",
                                                    html_meta,
                                                )
                                            ]
                                        ),
                                    )
                                ]
                            ),
                        )
                    ]
                ),
            )
        ]
    )
    meta = F.from_json("wat", schema)[
        "Envelope"
    ]["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
    return df.select(
        "url",
        "warc_ts",
        meta["Head"]["Title"].alias("title"),
        F.transform(meta["Links"], lambda s: s["url"]).alias("links"),
    )


# --------------------------------------------------------------------------
# CDX random access: one ranged read per capture (the reference's
# single-document readback, at crawl scale)
# --------------------------------------------------------------------------
def read_warc_member(path: str, offset: int, length: int):
    """Fetch ONE capture by its index entry: a single ranged read of the
    record's gzip member (what an object store serves as a Range GET),
    parsed in isolation.  Returns ``(url, ts, html, charset)`` or None."""
    with open(path, "rb") as f:
        f.seek(offset)
        buf = f.read(length)
    for rec in iter_warc_records(buf):
        return rec
    return None


def cdx_lookup(spark, out_dir: str, url: str, cdx_dir: str = _CDX_DIR):
    """Point lookup through the parquet CDX: the url equality predicate
    pushes down to the parquet scan (row-group pruning — no full index
    scan), then ONE ranged read fetches the capture.  ``cdx_dir``
    selects the index (``cdx`` = page captures, ``cdx-wet`` = WET)."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(os.path.join(out_dir, cdx_dir))
        .filter(F.col("url") == url)
        .select("filename", "offset", "length")
        .collect()
    )
    if not rows:
        return None
    r = rows[0]
    return read_warc_member(os.path.join(out_dir, r.filename), r.offset, r.length)
