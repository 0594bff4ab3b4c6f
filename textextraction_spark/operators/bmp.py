"""BMP (Windows DIB / BITMAPINFOHEADER) — a real pixel path for the
uncompressed-bitmap tail of the crawl, in pure stdlib struct + numpy.

After the JPEG (``operators/jpeg.py``) and PNG (``operators/png.py``)
codecs for the two dominant web formats, this module covers the
uncompressed-bitmap tail: a full BI_RGB decoder for the two layouts
real BMPs overwhelmingly use — 24-bit truecolor and 8-bit palette — in
both row orders (bottom-up positive-height, the BMP default, and
top-down negative-height).

BMP is uncompressed, so like PNG the exactness standard is bit-exact
with NO error bound: decode must reproduce the encoder's input exactly
(row padding stripped, BGR swizzled to RGB, palette mapped, bottom-up
rows reversed), and the DuckDB oracle recomputes decoded pixel
statistics arithmetically from the fixture formulas.

The round-5 close-out adds **BI_RLE8 (biCompression=1)** — the only
compressed BMP layout with real-world presence: per-row runs
``(count, index)``, the three escape codes (``00 00`` end-of-line,
``00 01`` end-of-bitmap, ``00 02`` position delta — pixels skipped by
a delta are defined here as palette index 0), and absolute mode
(``00 n`` for n >= 3 literal indices, word-aligned with a pad byte
when n is odd).  RLE8 bitmaps are bottom-up only, per the format.
RLE8 is lossless, so the bit-exact standard holds.

Supported envelope (pinned by fail-soft tests): biBitCount 8 / 24,
biCompression 0 (BI_RGB) / 1 (BI_RLE8, 8-bit bottom-up only),
biSize >= 40 (pixel data located via bfOffBits, so BITMAPV4/V5 headers
work unchanged).  RLE4/bitfield compression, 1/4/16/32-bit depths, and
OS/2 core headers return None rather than garbage.

Reference analog: the reference rasterizes PDFs for OCR
(/root/reference/OCR/Image.cs:20-66) but never decodes crawl images;
this operator is beyond the reference and consumes no extraction output.

100 TB shape: identical to the other media operators — synthesis and
decode run executor-side inside Arrow batches via mapInPandas; no pixel
data ever crosses an exchange or reaches the driver.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


# -------------------------------------------------------------------- RLE8
def rle8_encode(idx: np.ndarray) -> bytes:
    """BI_RLE8-encode an (h, w) index grid, rows stored bottom-up (the
    only legal RLE order).  Runs >= 2 become encoded pairs; literal
    stretches >= 3 use absolute mode (word-aligned); shorter leftovers
    are length-1 encoded runs.  Every row ends with the 00 00
    end-of-line escape and the stream with 00 01 end-of-bitmap."""
    h, w = idx.shape
    out = bytearray()
    for y in range(h - 1, -1, -1):
        row = idx[y]
        x = 0
        while x < w:
            run = 1
            while x + run < w and run < 255 and row[x + run] == row[x]:
                run += 1
            if run >= 2:
                out += bytes((run, int(row[x])))
                x += run
                continue
            # literal stretch: until the next >=2 run or 255 bytes
            j = x + 1
            while (
                j < w
                and j - x < 255
                and not (j + 1 < w and row[j + 1] == row[j])
            ):
                j += 1
            n = j - x
            if n >= 3:
                out += bytes((0, n)) + row[x:j].astype(np.uint8).tobytes()
                if n % 2:
                    out.append(0)  # absolute mode is word-aligned
            else:
                for i in range(x, j):
                    out += bytes((1, int(row[i])))
            x = j
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    return bytes(out)


def _rle8_decode(data: bytes, off: int, w: int, h: int):
    """Expand a BI_RLE8 stream into an (h, w) index grid in VISUAL
    (top-down) row order, or None for malformed streams (overruns,
    missing end-of-bitmap, out-of-grid deltas).  Pixels never written
    (skipped by deltas / early line ends) are index 0."""
    grid = np.zeros((h, w), np.uint8)  # storage order: bottom-up
    x = y = 0
    i = off
    n = len(data)
    done = False
    while i + 1 < n:
        a, b = data[i], data[i + 1]
        i += 2
        if a > 0:  # encoded run
            if y >= h or x + a > w:
                return None
            grid[y, x : x + a] = b
            x += a
        elif b == 0:  # end of line
            x, y = 0, y + 1
            if y > h:
                return None
        elif b == 1:  # end of bitmap
            done = True
            break
        elif b == 2:  # delta
            if i + 2 > n:
                return None
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y > h:
                return None
        else:  # absolute mode: b literal indices, word-aligned
            if y >= h or x + b > w or i + b > n:
                return None
            grid[y, x : x + b] = np.frombuffer(data, np.uint8, count=b, offset=i)
            x += b
            i += b + (b & 1)
    if not done:
        return None
    return grid[::-1]  # bottom-up storage -> visual top-down


# ------------------------------------------------------------------ encoder
def encode_bmp(
    img: np.ndarray,
    palette: list | None = None,
    top_down: bool = False,
    rle: bool = False,
) -> bytes:
    """Encode a real BMP: (h, w, 3) uint8 RGB -> 24-bit BI_RGB, or
    (h, w) uint8 indices + ``palette`` -> 8-bit palette BMP.  Rows are
    4-byte padded; ``top_down`` emits the negative-height layout;
    ``rle=True`` emits BI_RLE8 (8-bit bottom-up only)."""
    if rle:
        if img.ndim != 2 or top_down:
            raise ValueError("RLE8 is 8-bit bottom-up only")
        h, w = img.shape
        pal_bytes = b"".join(
            bytes((b, g, r, 0)) for (r, g, b) in (palette or [])
        )
        body = rle8_encode(img.astype(np.uint8))
        off = 14 + 40 + len(pal_bytes)
        info = struct.pack(
            "<IiiHHIIiiII",
            40, w, h, 1, 8, 1,
            len(body), 2835, 2835, len(pal_bytes) // 4, 0,
        )
        hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        return hdr + info + pal_bytes + body
    if img.ndim == 3:
        h, w = img.shape[:2]
        bits = 24
        pal_bytes = b""
        rows = img[:, :, ::-1].astype(np.uint8)  # RGB -> BGR
        stride = (w * 3 + 3) // 4 * 4
    else:
        h, w = img.shape
        bits = 8
        pal_bytes = b"".join(
            bytes((b, g, r, 0)) for (r, g, b) in (palette or [])
        )
        rows = img.astype(np.uint8)[:, :, None]
        stride = (w + 3) // 4 * 4
    body = bytearray()
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        line = rows[y].tobytes()
        body += line + b"\x00" * (stride - len(line))
    off = 14 + 40 + len(pal_bytes)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if top_down else h, 1, bits, 0,
        len(body), 2835, 2835, len(pal_bytes) // 4, 0,
    )
    hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    return hdr + info + pal_bytes + bytes(body)


# ------------------------------------------------------------------ decoder
def decode_bmp(data: bytes):
    """Full BI_RGB decode.  Returns an (h, w, 3) uint8 RGB array (rows
    in visual top-to-bottom order regardless of the stored layout) or
    None for anything malformed or outside the supported envelope.
    Never raises."""
    try:
        if len(data) < 54 or data[:2] != b"BM":
            return None
        (off,) = struct.unpack("<I", data[10:14])
        (hdr_size,) = struct.unpack("<I", data[14:18])
        if hdr_size < 40 or 14 + hdr_size > len(data):
            return None
        w, h_raw, planes, bits, comp = struct.unpack("<iiHHI", data[18:34])
        (clr_used,) = struct.unpack("<I", data[46:50])
        if planes != 1 or comp not in (0, 1) or bits not in (8, 24):
            return None
        if comp == 1 and (bits != 8 or h_raw < 0):
            return None  # RLE8 is 8-bit bottom-up only
        top_down = h_raw < 0
        h = -h_raw if top_down else h_raw
        if w <= 0 or h <= 0 or w * h > 1 << 26:
            return None
        bypp = bits // 8
        stride = (w * bypp + 3) // 4 * 4
        if off < 14 + hdr_size:
            return None
        if comp == 0 and off + stride * h > len(data):
            return None
        pal = None
        if bits == 8:
            n_pal = clr_used or 256
            pal_start = 14 + hdr_size
            if pal_start + 4 * n_pal > off:
                return None
            raw_pal = np.frombuffer(
                data, np.uint8, count=4 * n_pal, offset=pal_start
            ).reshape(-1, 4)
            pal = raw_pal[:, [2, 1, 0]]  # BGRA -> RGB
        if comp == 1:
            idx = _rle8_decode(data, off, w, h)
            if idx is None or int(idx.max()) >= len(pal):
                return None
            return pal[idx]
        grid = np.frombuffer(
            data, np.uint8, count=stride * h, offset=off
        ).reshape(h, stride)
        if not top_down:
            grid = grid[::-1]
        if bits == 24:
            px = grid[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
            return np.ascontiguousarray(px)
        idx = grid[:, :w]
        if int(idx.max()) >= len(pal):
            return None
        return pal[idx]
    except Exception:
        return None


# ------------------------------------------------------- fixture + operator
# family = doc_id % 8: 24-bit bottom-up / 24-bit top-down / 8-bit
# palette bottom-up / 8-bit palette top-down, plus four BI_RLE8
# palette families (4-7).  The truecolor and palette value formulas
# intentionally mirror the PNG fixtures (operators/png.py) so both
# oracles share one arithmetic shape; the row-order split means half
# the BI_RGB streams exercise the bottom-up row reversal.  The RLE
# palettes are chosen so the d%4 cross-codec pins keep holding: fam 4
# is a gray ramp palette (i,i,i) and fam 5 reproduces the truecolor
# formula exactly via palette (i, i+77, i+154) — both indexed by the
# full 0..255 gray grid, which is literal-heavy (absolute-mode path);
# fam 6 re-uses the pal8 index/palette formulas under RLE; fam 7
# indexes by (gray // 32), whose ~6-pixel constant stretches exercise
# the encoded-run path.
BMP_FMTS = [
    "rgb24", "rgb24td", "pal8", "pal8td",
    "rle8_gray", "rle8_rgb", "rle8_pal", "rle8_runs",
]


def _bmp_geometry(doc_id: int) -> tuple[int, int]:
    return 4 + doc_id % 5, 4 + (doc_id * 3) % 5


def make_bmp(doc_id: int) -> bytes:
    """Deterministic BMP fixture.  Truecolor channel k =
    (d + 3r + 5c + 77k) % 256; palette index = (d + 3r + 5c) % n_pal
    with n_pal = 2 + d % 15 and entry i = (7d+11i, 13d+17i, 3d+19i)
    (all % 256) — the PNG fixture formulas over the BMP container."""
    w, h = _bmp_geometry(doc_id)
    fam = doc_id % 8
    top_down = fam % 2 == 1 and fam < 4
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    base = (doc_id + 3 * rr + 5 * cc) % 256
    if fam < 2:
        img = np.stack(
            [(base + 77 * k) % 256 for k in range(3)], axis=-1
        ).astype(np.uint8)
        return encode_bmp(img, top_down=top_down)
    if fam in (2, 3, 6):
        n_pal = 2 + doc_id % 15
        idx = ((doc_id + 3 * rr + 5 * cc) % n_pal).astype(np.uint8)
        pal = [
            ((7 * doc_id + 11 * i) % 256, (13 * doc_id + 17 * i) % 256,
             (3 * doc_id + 19 * i) % 256)
            for i in range(n_pal)
        ]
        return encode_bmp(idx, palette=pal, top_down=top_down, rle=fam == 6)
    if fam == 4:  # RLE8, gray ramp palette: decodes to (v, v, v)
        pal = [(i, i, i) for i in range(256)]
        return encode_bmp(base.astype(np.uint8), palette=pal, rle=True)
    if fam == 5:  # RLE8, palette reproducing the truecolor formula
        pal = [(i, (i + 77) % 256, (i + 154) % 256) for i in range(256)]
        return encode_bmp(base.astype(np.uint8), palette=pal, rle=True)
    # fam 7: RLE8 indexed by gray // 32 — constant stretches -> real runs
    pal = [
        ((7 * doc_id + 11 * i) % 256, (13 * doc_id + 17 * i) % 256,
         (3 * doc_id + 19 * i) % 256)
        for i in range(8)
    ]
    return encode_bmp((base // 32).astype(np.uint8), palette=pal, rle=True)


def _bmp_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = (
        "doc_id", "fmt", "w", "h",
        "mean_px", "min_px", "max_px", "mean_r", "mean_g", "mean_b",
    )
    for pdf in batches:
        rows = {k: [] for k in cols}
        for doc_id, media in zip(pdf["doc_id"].values, pdf["media"].values):
            img = decode_bmp(bytes(media))
            rows["doc_id"].append(doc_id)
            rows["fmt"].append(BMP_FMTS[int(doc_id) % 8])
            if img is None:
                rows["w"].append(0)
                rows["h"].append(0)
                for k in ("mean_px", "mean_r", "mean_g", "mean_b"):
                    rows[k].append(0.0)
                for k in ("min_px", "max_px"):
                    rows[k].append(0)
                continue
            rows["h"].append(img.shape[0])
            rows["w"].append(img.shape[1])
            rows["mean_px"].append(round(float(img.mean()), 6))
            rows["min_px"].append(int(img.min()))
            rows["max_px"].append(int(img.max()))
            for k, ch in (("mean_r", 0), ("mean_g", 1), ("mean_b", 2)):
                rows[k].append(round(float(img[:, :, ch].mean()), 6))
        yield pd.DataFrame(rows)


def media_bmp_decode(spark, sf_dir: str):
    """Real BMP pixel path: synthesize a genuine BMP per doc (family
    by doc_id % 8: BI_RGB 24-bit / 8-bit palette x bottom-up /
    top-down, plus four BI_RLE8 palette families) -> mapInPandas runs
    the full decode (row de-padding, bottom-up reversal, BGR swizzle,
    palette map, RLE8 expansion with escapes and absolute mode) on the
    actual bytes and emits decoded pixel statistics.  Pytest-oracle-gated
    (not a driver-gated query)."""
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(T.BinaryType())
    def bmp_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series([make_bmp(int(i)) for i in doc_id])

    media = d.select("doc_id", bmp_udf("doc_id").alias("media"))
    return media.mapInPandas(
        _bmp_decode_batch,
        schema=(
            "doc_id long, fmt string, w long, h long, mean_px double, "
            "min_px long, max_px long, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


# BI_RGB is uncompressed and BI_RLE8 lossless: the oracle recomputes
# every decoded sample from the fixture formulas exactly (no error
# bound).  Row order, BGR swizzling, and RLE expansion don't change
# pixel statistics, but they DO change decode correctness — the
# bit-exact pytest round trips pin those, and any layout bug that
# shifts values breaks these aggregates too.
MEDIA_BMP_DECODE_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 8 AS INT) AS fam,
         4 + doc_id % 5 AS w,
         4 + (doc_id * 3) % 5 AS h,
         2 + doc_id % 15 AS n_pal
  FROM documents
),
tc AS (
  -- truecolor formula: BI_RGB 24-bit (fams 0/1) and the RLE8 palette
  -- that reproduces it exactly (fam 5: entry i = (i, i+77, i+154))
  SELECT doc_id, fam, w, h, k, r, c,
         (doc_id + 3 * r + 5 * c + 77 * k) % 256 AS v
  FROM g, UNNEST(range(g.h)) a(r), UNNEST(range(g.w)) b(c),
       UNNEST(range(3)) d(k)
  WHERE fam < 2 OR fam = 5
),
gray AS (
  -- fam 4: RLE8 over the gray ramp palette (i, i, i)
  SELECT doc_id, fam, w, h, k, r, c,
         (doc_id + 3 * r + 5 * c) % 256 AS v
  FROM g, UNNEST(range(g.h)) a(r), UNNEST(range(g.w)) b(c),
       UNNEST(range(3)) d(k)
  WHERE fam = 4
),
pal AS (
  -- pal8 formula (BI_RGB fams 2/3 and its RLE8 twin fam 6); fam 7
  -- indexes the 8-entry palette by gray // 32 (run-heavy content)
  SELECT doc_id, fam, w, h, k, r, c,
         CASE k WHEN 0 THEN (7 * doc_id + 11 * idx) % 256
                WHEN 1 THEN (13 * doc_id + 17 * idx) % 256
                ELSE (3 * doc_id + 19 * idx) % 256 END AS v
  FROM (
    SELECT doc_id, fam, w, h, r, c,
           CASE WHEN fam = 7
                THEN ((doc_id + 3 * r + 5 * c) % 256) // 32
                ELSE (doc_id + 3 * r + 5 * c) % n_pal END AS idx
    FROM g, UNNEST(range(g.h)) a(r), UNNEST(range(g.w)) b(c)
    WHERE fam IN (2, 3, 6, 7)
  ), UNNEST(range(3)) e(k)
),
allsamp AS (
  SELECT * FROM tc UNION ALL SELECT * FROM gray UNION ALL SELECT * FROM pal
)
SELECT doc_id,
       (['rgb24', 'rgb24td', 'pal8', 'pal8td',
         'rle8_gray', 'rle8_rgb', 'rle8_pal', 'rle8_runs'])[fam + 1] AS fmt,
       w::BIGINT AS w, h::BIGINT AS h,
       round(avg(v), 6) AS mean_px,
       min(v)::BIGINT AS min_px, max(v)::BIGINT AS max_px,
       round(avg(v) FILTER (k = 0), 6) AS mean_r,
       round(avg(v) FILTER (k = 1), 6) AS mean_g,
       round(avg(v) FILTER (k = 2), 6) AS mean_b
FROM allsamp GROUP BY doc_id, fam, w, h
"""
