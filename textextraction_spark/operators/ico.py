"""ICO (Windows icon / favicon) — the web's own icon container, in
pure stdlib struct + numpy, reusing the package's PNG codec for
PNG-payload entries.

Every crawled site root links (implicitly or explicitly) a
``favicon.ico``; the format is a directory of images, each payload
either a PNG stream (the modern high-res convention) or an ICO "DIB" —
a BITMAPINFOHEADER with **doubled height** (the XOR color plane plus a
1-bpp AND transparency mask share one header), no BITMAPFILEHEADER,
always bottom-up.  This module closes that container the same way the
round-5 codecs closed their formats:

- **container walk**: ICONDIR (reserved 0, type 1 = icon; type 2 is a
  cursor and fails soft) → ICONDIRENTRY table → bounds-checked payload
  slices.  The directory's own width/height bytes are advisory and
  real parsers do not trust them — entry RANKING reads each payload's
  header (PNG IHDR or DIB BITMAPINFOHEADER), pinned by a multi-image
  fixture whose directory lies about the small entry's size.
- **best-image selection**: the decoder picks the entry with the
  largest pixel area (ties: highest bit depth, PNG ranking as 32) —
  the choice every consumer (browser tab, crawler thumbnailer) makes.
- **DIB payloads**: 8-bit palette (BGRA color table), 24-bit BGR, and
  32-bit BGRA; 4-byte row padding, bottom-up rows, and the AND mask —
  1 bit per pixel MSB-first, rows padded to 32 BITS (not bytes: a
  different stride rule than the XOR plane's), bottom-up.
- **transparency is load-bearing in the oracle**: decoded output is
  the icon composited onto black — AND-masked pixels become 0 for the
  8/24-bit families, and the 32-bit family multiplies each channel by
  its alpha with floor division (``v * a // 255``, exact integer
  arithmetic both engines express) — so a decoder that ignores the
  mask, mis-strides it, or reads alpha from the wrong byte lane
  cannot hash-match the DuckDB oracle.
- **PNG payloads** route through ``operators/png.decode_png`` — the
  full CRC-checked codec, not a second parser.

Supported envelope (pinned fail-soft): icon type only, DIB bitcounts
8/24/32 with biCompression 0, payload slices inside the file, AND
mask present (even 32-bit payloads carry one; it is ignored when the
alpha channel is in use, per the format's own convention).  Cursors,
RLE DIBs, 16-bit payloads, truncated directories/payloads, and
corrupt PNG entries return None, never raise.

Reference analog: none — the reference never decodes crawl images
(/root/reference/OCR/Image.cs:20-66 rasterizes PDFs only); this
operator consumes no extraction output.

100 TB shape: identical to the other media operators — synthesis and
decode run executor-side inside Arrow batches via mapInPandas; no
pixel data ever crosses an exchange or reaches the driver.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from textextraction_spark.operators.png import decode_png, encode_png

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ------------------------------------------------------------------ encoder
def _and_mask_bytes(mask: np.ndarray) -> bytes:
    """Pack an (h, w) 0/1 transparency grid into the AND plane: 1 bit
    per pixel MSB-first, each row padded to 32 bits, rows bottom-up."""
    h, w = mask.shape
    stride_bits = (w + 31) // 32 * 32
    padded = np.zeros((h, stride_bits), np.uint8)
    padded[:, :w] = mask
    packed = np.packbits(padded[::-1], axis=1)  # bottom-up
    return packed.tobytes()


def dib_payload(
    img: np.ndarray,
    palette: list | None = None,
    alpha: np.ndarray | None = None,
    mask: np.ndarray | None = None,
) -> bytes:
    """Build an ICO DIB payload: BITMAPINFOHEADER with DOUBLED height,
    optional BGRA color table, bottom-up 4-byte-padded XOR plane, then
    the AND mask.  (h, w, 3) uint8 RGB -> 24-bit; (h, w) + ``palette``
    -> 8-bit; (h, w, 3) + ``alpha`` -> 32-bit BGRA.  ``mask`` is an
    (h, w) 0/1 grid (1 = transparent); omitted -> all-opaque."""
    if img.ndim == 3:
        h, w = img.shape[:2]
        if alpha is not None:
            bits = 32
            rows = np.concatenate(
                [img[:, :, ::-1], alpha[:, :, None]], axis=2
            ).astype(np.uint8)
            stride = w * 4
            pal_bytes = b""
        else:
            bits = 24
            rows = img[:, :, ::-1].astype(np.uint8)  # RGB -> BGR
            stride = (w * 3 + 3) // 4 * 4
            pal_bytes = b""
    else:
        h, w = img.shape
        bits = 8
        rows = img.astype(np.uint8)[:, :, None]
        stride = (w + 3) // 4 * 4
        pal_bytes = b"".join(
            bytes((b, g, r, 0)) for (r, g, b) in (palette or [])
        )
    xor = bytearray()
    for y in range(h - 1, -1, -1):  # ICO DIBs are bottom-up, always
        line = rows[y].tobytes()
        xor += line + b"\x00" * (stride - len(line))
    if mask is None:
        mask = np.zeros((h, w), np.uint8)
    and_plane = _and_mask_bytes(mask)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, 2 * h, 1, bits, 0,
        len(xor) + len(and_plane), 0, 0, len(pal_bytes) // 4, 0,
    )
    return info + pal_bytes + bytes(xor) + and_plane


def encode_ico(entries: list[tuple[bytes, int, int, int]]) -> bytes:
    """Assemble an ICO from ``(payload, w, h, bitcount)`` entries.
    Directory width/height bytes use the format's 0-means-256 rule."""
    count = len(entries)
    out = bytearray(struct.pack("<HHH", 0, 1, count))
    off = 6 + 16 * count
    dirs = bytearray()
    payloads = bytearray()
    for payload, w, h, bits in entries:
        dirs += struct.pack(
            "<BBBBHHII",
            w % 256, h % 256, 0, 0, 1, bits, len(payload), off,
        )
        payloads += payload
        off += len(payload)
    return bytes(out + dirs + payloads)


# ------------------------------------------------------------------ decoder
def _entry_dims(payload: bytes):
    """(w, h, bitcount, is_png) from the PAYLOAD header — the
    directory bytes are advisory and untrusted — or None."""
    if payload[:8] == _PNG_SIG:
        if len(payload) < 24:
            return None
        w, h = struct.unpack(">II", payload[16:24])
        return (w, h, 32, True)
    if len(payload) < 40:
        return None
    hdr_size, w, h2, planes, bits, comp = struct.unpack(
        "<IiiHHI", payload[:20]
    )
    if hdr_size != 40 or comp != 0 or bits not in (8, 24, 32):
        return None
    if w <= 0 or h2 <= 0 or h2 % 2 != 0:
        return None
    return (w, h2 // 2, bits, False)


def _decode_dib(payload: bytes, w: int, h: int, bits: int):
    """XOR plane + AND mask -> (h, w, 3) uint8 RGB composited onto
    black (visual top-down rows), or None."""
    (clr_used,) = struct.unpack("<I", payload[32:36])
    pos = 40
    pal = None
    if bits == 8:
        n_pal = clr_used or 256
        if pos + 4 * n_pal > len(payload):
            return None
        raw = np.frombuffer(
            payload, np.uint8, count=4 * n_pal, offset=pos
        ).reshape(-1, 4)
        pal = raw[:, [2, 1, 0]]  # BGRA -> RGB
        pos += 4 * n_pal
    bypp = bits // 8
    stride = (w * bypp + 3) // 4 * 4
    if pos + stride * h > len(payload):
        return None
    grid = np.frombuffer(
        payload, np.uint8, count=stride * h, offset=pos
    ).reshape(h, stride)[::-1]  # bottom-up -> visual
    pos += stride * h
    mask_stride = (w + 31) // 32 * 4
    if pos + mask_stride * h > len(payload):
        return None
    mask_rows = np.frombuffer(
        payload, np.uint8, count=mask_stride * h, offset=pos
    ).reshape(h, mask_stride)[::-1]
    mask = np.unpackbits(mask_rows, axis=1)[:, :w]  # 1 = transparent
    if bits == 32:
        px = grid[:, : w * 4].reshape(h, w, 4)
        rgb = px[:, :, [2, 1, 0]].astype(np.uint32)
        a = px[:, :, 3].astype(np.uint32)
        # alpha channel in use: composite onto black, exact floor math
        return (rgb * a[:, :, None] // 255).astype(np.uint8)
    if bits == 24:
        rgb = grid[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    else:
        idx = grid[:, :w]
        if int(idx.max()) >= len(pal):
            return None
        rgb = pal[idx]
    return (rgb * (1 - mask[:, :, None])).astype(np.uint8)


def decode_ico(data: bytes):
    """Full ICO decode: container walk, payload-header entry ranking,
    best-image (largest area, then deepest) decode, transparency
    composited onto black.  Returns ``(fmt, rgb)`` with fmt in
    {'png', 'dib8', 'dib24', 'dib32'} and rgb an (h, w, 3) uint8 array
    in visual row order, or None.  Never raises."""
    try:
        if len(data) < 6:
            return None
        rsv, typ, count = struct.unpack("<HHH", data[:6])
        if rsv != 0 or typ != 1 or count == 0:
            return None  # type 2 = cursor: outside the envelope
        if 6 + 16 * count > len(data):
            return None
        best = None
        for i in range(count):
            e = data[6 + 16 * i : 6 + 16 * (i + 1)]
            size, off = struct.unpack("<II", e[8:16])
            if off + size > len(data):
                return None
            payload = data[off : off + size]
            dims = _entry_dims(payload)
            if dims is None:
                continue  # unparseable entry: skip, not fatal
            w, h, bits, is_png = dims
            if w * h > 1 << 26:
                return None
            key = (w * h, bits)
            if best is None or key > best[0]:
                best = (key, payload, w, h, bits, is_png)
        if best is None:
            return None
        _, payload, w, h, bits, is_png = best
        if is_png:
            r = decode_png(payload)
            if r is None:
                return None
            ctype, arr = r
            if ctype != 2 or arr.dtype != np.uint8:
                return None  # fixtures are 8-bit truecolor
            return ("png", arr)
        rgb = _decode_dib(payload, w, h, bits)
        if rgb is None:
            return None
        return (f"dib{bits}", rgb)
    except Exception:
        return None


# ------------------------------------------------------- fixture + operator
# family = doc_id % 5.  The pixel formulas mirror the PNG/BMP fixtures
# (base = (d + 3r + 5c) % 256, channel k = base + 77k) so the oracle
# shares one arithmetic shape; what's NEW per family is the
# transparency plumbing: fams 0/1 carry a real AND mask (transparent
# where (d + r + 2c) % 7 == 0), fam 2 a graded alpha channel
# ((d + 7r + 11c) % 256, floor-composited), fam 3 a PNG payload
# (opaque), and fam 4 a TWO-image icon whose directory lies about the
# junk-filled small entry — only payload-ranked largest-area selection
# reproduces the oracle's numbers.
ICO_FMTS = ["dib24", "dib8", "dib32", "png", "multi"]


def _ico_geometry(doc_id: int) -> tuple[int, int]:
    return 4 + doc_id % 5, 4 + (doc_id * 3) % 5


def make_ico(doc_id: int) -> bytes:
    """Deterministic ICO fixture per the family table above."""
    w, h = _ico_geometry(doc_id)
    fam = doc_id % 5
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    base = (doc_id + 3 * rr + 5 * cc) % 256
    rgb = np.stack(
        [(base + 77 * k) % 256 for k in range(3)], axis=-1
    ).astype(np.uint8)
    mask = ((doc_id + rr + 2 * cc) % 7 == 0).astype(np.uint8)
    if fam == 0:
        return encode_ico([(dib_payload(rgb, mask=mask), w, h, 24)])
    if fam == 1:
        n_pal = 2 + doc_id % 15
        idx = ((doc_id + 3 * rr + 5 * cc) % n_pal).astype(np.uint8)
        pal = [
            ((7 * doc_id + 11 * i) % 256, (13 * doc_id + 17 * i) % 256,
             (3 * doc_id + 19 * i) % 256)
            for i in range(n_pal)
        ]
        return encode_ico(
            [(dib_payload(idx, palette=pal, mask=mask), w, h, 8)]
        )
    if fam == 2:
        alpha = ((doc_id + 7 * rr + 11 * cc) % 256).astype(np.uint8)
        return encode_ico([(dib_payload(rgb, alpha=alpha), w, h, 32)])
    png = encode_png(rgb, color_type=2)
    if fam == 3:
        return encode_ico([(png, w, h, 32)])
    # fam 4: junk 3x3 DIB first, real PNG second; the directory entry
    # for the junk image claims 255x255 (0-means-256 bytes would claim
    # even more) — trusting ICONDIRENTRY dims picks the junk image
    junk = dib_payload(np.full((3, 3, 3), 17, np.uint8))
    ico = encode_ico([(junk, 255, 255, 24), (png, w, h, 32)])
    return ico


def _ico_decode_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    cols = (
        "doc_id", "fmt", "w", "h",
        "mean_px", "min_px", "max_px", "mean_r", "mean_g", "mean_b",
    )
    for pdf in batches:
        rows = {k: [] for k in cols}
        for doc_id, media in zip(pdf["doc_id"].values, pdf["media"].values):
            r = decode_ico(bytes(media))
            rows["doc_id"].append(doc_id)
            if r is None:
                rows["fmt"].append(None)
                rows["w"].append(0)
                rows["h"].append(0)
                for k in ("mean_px", "mean_r", "mean_g", "mean_b"):
                    rows[k].append(0.0)
                for k in ("min_px", "max_px"):
                    rows[k].append(0)
                continue
            fmt, img = r
            rows["fmt"].append(fmt)
            rows["h"].append(img.shape[0])
            rows["w"].append(img.shape[1])
            rows["mean_px"].append(round(float(img.mean()), 6))
            rows["min_px"].append(int(img.min()))
            rows["max_px"].append(int(img.max()))
            for k, ch in (("mean_r", 0), ("mean_g", 1), ("mean_b", 2)):
                rows[k].append(round(float(img[:, :, ch].mean()), 6))
        yield pd.DataFrame(rows)


def media_ico_decode(spark, sf_dir: str):
    """Real favicon path: synthesize a genuine ICO per doc (family by
    doc_id % 5: masked 24-bit / masked 8-bit palette / alpha 32-bit
    DIBs, a PNG payload, and a lying-directory multi-image icon) ->
    mapInPandas runs the full container walk + best-entry decode +
    transparency composite on the actual bytes and emits decoded pixel
    statistics.  Pytest-oracle-gated (not a driver-gated query)."""
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(T.BinaryType())
    def ico_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series([make_ico(int(i)) for i in doc_id])

    media = d.select("doc_id", ico_udf("doc_id").alias("media"))
    return media.mapInPandas(
        _ico_decode_batch,
        schema=(
            "doc_id long, fmt string, w long, h long, mean_px double, "
            "min_px long, max_px long, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


# The container and both DIB layers are lossless, so the oracle
# recomputes every COMPOSITED sample exactly: the AND mask zeroes its
# pixels, the 32-bit family floors v*a/255, and the multi family must
# land on the PNG entry's formula (the junk DIB's constant 17s cannot
# reproduce it).  ``fmt`` is the DECODER-detected payload kind, so a
# mis-route (e.g. ranking by directory bytes) breaks the hash twice.
MEDIA_ICO_DECODE_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 5 AS INT) AS fam,
         4 + doc_id % 5 AS w,
         4 + (doc_id * 3) % 5 AS h,
         2 + doc_id % 15 AS n_pal
  FROM documents
),
samp AS (
  SELECT doc_id, fam, w, h, k, r, c,
         CASE
           WHEN fam = 0 THEN
             CASE WHEN (doc_id + r + 2 * c) % 7 = 0 THEN 0
                  ELSE (doc_id + 3 * r + 5 * c + 77 * k) % 256 END
           WHEN fam = 1 THEN
             CASE WHEN (doc_id + r + 2 * c) % 7 = 0 THEN 0
                  ELSE CASE k
                    WHEN 0 THEN
                      (7 * doc_id + 11 * ((doc_id + 3 * r + 5 * c) % n_pal))
                      % 256
                    WHEN 1 THEN
                      (13 * doc_id + 17 * ((doc_id + 3 * r + 5 * c) % n_pal))
                      % 256
                    ELSE
                      (3 * doc_id + 19 * ((doc_id + 3 * r + 5 * c) % n_pal))
                      % 256
                  END END
           WHEN fam = 2 THEN
             ((doc_id + 3 * r + 5 * c + 77 * k) % 256)
             * ((doc_id + 7 * r + 11 * c) % 256) // 255
           ELSE (doc_id + 3 * r + 5 * c + 77 * k) % 256
         END AS v
  FROM g, UNNEST(range(g.h)) a(r), UNNEST(range(g.w)) b(c),
       UNNEST(range(3)) d(k)
)
SELECT doc_id,
       (['dib24', 'dib8', 'dib32', 'png', 'png'])[fam + 1] AS fmt,
       w::BIGINT AS w, h::BIGINT AS h,
       round(avg(v), 6) AS mean_px,
       min(v)::BIGINT AS min_px, max(v)::BIGINT AS max_px,
       round(avg(v) FILTER (k = 0), 6) AS mean_r,
       round(avg(v) FILTER (k = 1), 6) AS mean_g,
       round(avg(v) FILTER (k = 2), 6) AS mean_b
FROM samp GROUP BY doc_id, fam, w, h
"""
