"""Baseline JPEG (ITU-T T.81 / ISO 10918-1) — a real pixel path for the
dominant real-crawl image format, in pure stdlib + numpy.

A complete baseline DECODER (marker parse → DQT/DHT tables →
entropy-coded segment with byte unstuffing → Huffman DC/AC decode
with EOB/ZRL runs → dequantize → inverse zigzag → 2-D IDCT → level
shift), plus the minimal ENCODER the deterministic fixtures need.

Exactness design: the fixture images are BLOCK-FLAT — every 8x8 block
is one constant from a doc_id formula.  A flat block's DCT is DC-only
and integral (DC = 8*(v-128)), so with unit quantization tables the
decode is bit-exact and the DuckDB oracle recomputes the decoded pixel
statistics arithmetically from the block formula.  Non-flat content
exercises the AC path in pytest with a measured error bound instead
(unit-quant baseline JPEG is lossy only through DCT rounding; |err| <= 2
asserted).

The decoder is table-driven (tables come from the stream's own DHT/DQT
segments), handles restart markers, and fails SOFT — malformed bytes
return None, never raise (a corrupt row must not kill an Arrow batch).
Baseline frames decode grayscale AND 3-component YCbCr (4:4:4 / 4:2:2 /
4:2:0 via general MCU interleave + replication upsampling + BT.601);
progressive (SOF2) frames decode grayscale AND color (T.81 Annex G —
interleaved DC scans, per-component AC band scans, successive
approximation).  Arithmetic coding and 12-bit/hierarchical JPEG are
outside the envelope and return None.

Reference analog: the reference rasterizes PDFs to images for OCR
(/root/reference/OCR/Image.cs:20-66) but never decodes crawl images;
this operator is beyond the reference and consumes no extraction output.

100 TB shape: identical to the other media operators — synthesis and
decode run executor-side inside Arrow batches via mapInPandas; no pixel
data ever crosses an exchange or reaches the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

# ---------------------------------------------------------------- DCT basis
# Orthonormal DCT-II basis: B[k, n] = c_k/2 * cos((2n+1) k pi / 16),
# c_0 = 1/sqrt(2), else 1.  Forward 2-D: B @ x @ B.T; inverse: B.T @ X @ B.
_B = np.array(
    [
        [
            (np.sqrt(0.5) if k == 0 else 1.0)
            / 2.0
            * np.cos((2 * n + 1) * k * np.pi / 16.0)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _zigzag() -> list[tuple[int, int]]:
    """The standard zigzag scan, generated (not transcribed)."""
    out: list[tuple[int, int]] = []
    for s in range(15):
        diag = [(u, s - u) for u in range(max(0, s - 7), min(7, s) + 1)]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left -> top-right
        out.extend(diag)
    return out


_ZZ = _zigzag()


# ---------------------------------------------------------- Huffman tables
# The encoder uses simple CANONICAL tables (all DC categories at 4 bits,
# all 162 AC symbols at 8 bits — valid per T.81, no all-ones code) and
# writes them into DHT like any real file; the decoder is entirely
# table-driven from DHT, so it reads these AND the Annex-K standard
# tables real crawls carry.
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]


def _canonical(bits_counts: list[int], symbols: list[int]):
    """(symbol -> (code, length)) from DHT-style (counts, symbols)."""
    table = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits_counts[length - 1]):
            table[symbols[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return table


_DC_COUNTS = [0, 0, 0, len(_DC_SYMS)] + [0] * 12  # all 4-bit
_AC_COUNTS = [0] * 7 + [len(_AC_SYMS)] + [0] * 8  # all 8-bit
_DC_ENC = _canonical(_DC_COUNTS, _DC_SYMS)
_AC_ENC = _canonical(_AC_COUNTS, _AC_SYMS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Pad to a byte boundary and emit RSTn (T.81 E.1.4)."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (n % 8)])


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _magnitude_bits(v: int, ssss: int) -> int:
    return v if v >= 0 else v + (1 << ssss) - 1


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _encode_block(bw: _BitWriter, block_shifted: np.ndarray, pred: int) -> int:
    """DCT + unit quant + DC-diff/AC-run entropy code one 8x8 block;
    returns the new DC predictor."""
    coef = _B @ block_shifted @ _B.T
    q = np.rint(coef).astype(np.int64)  # unit quant
    zz = [int(q[u, v]) for (u, v) in _ZZ]
    diff = zz[0] - pred
    pred = zz[0]
    ssss = _category(diff)
    c, ln = _DC_ENC[ssss]
    bw.put(c, ln)
    if ssss:
        bw.put(_magnitude_bits(diff, ssss) & ((1 << ssss) - 1), ssss)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = _AC_ENC[0xF0]  # ZRL
            bw.put(c, ln)
            run -= 16
        s = _category(v)
        c, ln = _AC_ENC[(run << 4) | s]
        bw.put(c, ln)
        bw.put(_magnitude_bits(v, s) & ((1 << s) - 1), s)
        run = 0
    if run:
        c, ln = _AC_ENC[0x00]  # EOB
        bw.put(c, ln)
    return pred


def _headers(
    h: int, w: int, comps: list[tuple[int, int, int]], restart_interval: int = 0
) -> bytes:
    """SOI + DQT(unit) + SOF0 + [DRI] + DHT + SOS for components
    [(id, hi, vi), ...], all on quant table 0 / huffman tables 0."""
    dqt = _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof_body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof_body += bytes([len(comps)])
    for cid, hi, vi in comps:
        sof_body += bytes([cid, (hi << 4) | vi, 0])
    dri = (
        _seg(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval
        else b""
    )
    dht = _seg(
        0xC4, bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMS)
    ) + _seg(0xC4, bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_SYMS))
    sos_body = bytes([len(comps)])
    for cid, _hi, _vi in comps:
        sos_body += bytes([cid, 0x00])
    sos_body += bytes([0, 63, 0])
    return (
        b"\xff\xd8" + dqt + _seg(0xC0, sof_body) + dri + dht + _seg(0xDA, sos_body)
    )


def encode_baseline_jpeg(img: np.ndarray, restart_interval: int = 0) -> bytes:
    """Grayscale baseline JFIF from an (h, w) uint8 array; non-block
    dims are edge-padded to whole blocks with the true dims in SOF (the
    decoder crops back).  Unit quantization tables (lossless for flat
    blocks, DCT-rounding-only elsewhere).  ``restart_interval`` > 0
    emits DRI + RSTn markers every N MCUs (predictor resets), the
    resync structure real encoders add for error resilience."""
    h, w = img.shape
    if h % 8 or w % 8:
        # real-world dims: pad to whole blocks by edge replication (what
        # production encoders do); SOF carries the TRUE dims and the
        # decoder crops back to them
        img = np.pad(
            img, ((0, (-h) % 8), (0, (-w) % 8)), mode="edge"
        )
    bw = _BitWriter()
    pred = 0
    nmcu = 0
    ph, pw = img.shape
    shifted = img.astype(np.float64) - 128.0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            if restart_interval and nmcu and nmcu % restart_interval == 0:
                bw.restart(nmcu // restart_interval - 1)
                pred = 0
            pred = _encode_block(
                bw, shifted[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], pred
            )
            nmcu += 1
    return (
        _headers(h, w, [(1, 1, 1)], restart_interval)
        + bw.flush()
        + b"\xff\xd9"
    )


# chroma sampling name -> (luma (hi, vi), chroma plane divisor (dx, dy))
_SAMPLINGS = {
    "444": ((1, 1), (1, 1)),
    "422": ((2, 1), (2, 1)),
    "420": ((2, 2), (2, 2)),
}


def encode_baseline_jpeg_color(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    subsample: bool | str = False,
) -> bytes:
    """3-component YCbCr baseline JFIF.  ``subsample`` is '444' (all
    planes full-size), '422' (chroma halved horizontally), or '420'
    (chroma halved both ways); the legacy bool forms map False->'444',
    True->'420'.  Interleaved MCUs with per-component DC predictors —
    the exact stream shape real encoders emit."""
    name = subsample if isinstance(subsample, str) else ("420" if subsample else "444")
    (lh, lv), (dx, dy) = _SAMPLINGS[name]
    h, w = y.shape
    assert h % (8 * lv) == 0 and w % (8 * lh) == 0
    assert cb.shape == cr.shape == (h // dy, w // dx)
    comps = [(1, lh, lv), (2, 1, 1), (3, 1, 1)]
    planes = {
        1: y.astype(np.float64) - 128.0,
        2: cb.astype(np.float64) - 128.0,
        3: cr.astype(np.float64) - 128.0,
    }
    bw = _BitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    for my in range(h // (8 * lv)):
        for mx in range(w // (8 * lh)):
            for cid, hi, vi in comps:
                p = planes[cid]
                for v in range(vi):
                    for hh in range(hi):
                        r0 = (my * vi + v) * 8
                        c0 = (mx * hi + hh) * 8
                        preds[cid] = _encode_block(
                            bw, p[r0 : r0 + 8, c0 : c0 + 8], preds[cid]
                        )
    return _headers(h, w, comps) + bw.flush() + b"\xff\xd9"


def _quantized_blocks(img: np.ndarray):
    """Unit-quantized zigzag coefficient rows for every 8x8 block of a
    (block-padded) grayscale image — the shared front half of the
    baseline and progressive encoders."""
    h, w = img.shape
    if h % 8 or w % 8:
        img = np.pad(img, ((0, (-h) % 8), (0, (-w) % 8)), mode="edge")
    ph, pw = img.shape
    shifted = img.astype(np.float64) - 128.0
    rows = []
    for by in range(ph // 8):
        for bx in range(pw // 8):
            coefq = np.rint(
                _B @ shifted[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] @ _B.T
            ).astype(np.int64)
            rows.append(np.array([coefq[u, v] for (u, v) in _ZZ], np.int64))
    return rows, h, w


def _sos_progressive(comp_ids_tt, ss: int, se: int, ah: int, al: int) -> bytes:
    """Progressive SOS: ``comp_ids_tt`` is [(component_id, table_byte)]
    — one entry for a non-interleaved (AC or single-component DC) scan,
    several for an interleaved DC scan."""
    body = bytes([len(comp_ids_tt)])
    for cid, tt in comp_ids_tt:
        body += bytes([cid, tt])
    return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))


# Progressive scan emitters, shared by the grayscale and color encoders.
# ``seq`` is the traversal: [(component_id, zigzag_row)] in scan order —
# row-major component blocks for non-interleaved scans, MCU order for
# interleaved DC scans (per-component DC predictors track by id).
def _enc_dc_first(bw: _BitWriter, seq, al: int) -> None:
    preds: dict[int, int] = {}
    for cid, row in seq:
        v = int(row[0]) >> al  # arithmetic shift (point transform)
        diff = v - preds.get(cid, 0)
        preds[cid] = v
        ssss = _category(diff)
        c, ln = _DC_ENC[ssss]
        bw.put(c, ln)
        if ssss:
            bw.put(_magnitude_bits(diff, ssss) & ((1 << ssss) - 1), ssss)


def _enc_dc_refine(bw: _BitWriter, seq, al: int) -> None:
    for _cid, row in seq:
        bw.put((int(row[0]) >> al) & 1, 1)


def _enc_ac_first(bw: _BitWriter, blocks, ss: int, se: int, al: int) -> None:
    # EOB unbatched: one 0x00 per trailing-zero block (EOBRUN = 1)
    for row in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(row[k])
            mag = (-v if v < 0 else v) >> al
            if mag == 0:
                r += 1
                continue
            while r > 15:
                c, ln = _AC_ENC[0xF0]
                bw.put(c, ln)
                r -= 16
            s = _category(mag)
            c, ln = _AC_ENC[(r << 4) | s]
            bw.put(c, ln)
            bits = mag if v >= 0 else ~mag  # one's-complement negatives
            bw.put(bits & ((1 << s) - 1), s)
            r = 0
        if r:
            c, ln = _AC_ENC[0x00]
            bw.put(c, ln)


def _enc_ac_refine(bw: _BitWriter, blocks, ss: int, se: int, al: int) -> None:
    # the previous scans ran at Al+1; this scan supplies bit Al
    for row in blocks:
        absv = [(-int(v) if v < 0 else int(v)) >> al for v in row]
        eob = 0  # index of the LAST newly-nonzero coefficient
        for k in range(ss, se + 1):
            if absv[k] == 1:
                eob = k
        r = 0
        pending: list[int] = []  # correction bits ride AFTER symbols
        for k in range(ss, se + 1):
            t = absv[k]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                c, ln = _AC_ENC[0xF0]
                bw.put(c, ln)
                r -= 16
                for bit in pending:
                    bw.put(bit, 1)
                pending = []
            if t > 1:  # history-nonzero: one correction bit
                pending.append(t & 1)
                continue
            # t == 1: newly nonzero at this level
            c, ln = _AC_ENC[(r << 4) | 1]
            bw.put(c, ln)
            bw.put(1 if row[k] >= 0 else 0, 1)  # sign bit
            for bit in pending:
                bw.put(bit, 1)
            pending = []
            r = 0
        if r or pending:
            c, ln = _AC_ENC[0x00]  # EOB (run 1) + buffered corrections
            bw.put(c, ln)
            for bit in pending:
                bw.put(bit, 1)


_PROG_DHT = _seg(
    0xC4, bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMS)
) + _seg(0xC4, bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_SYMS))


def _emit_prog_scan(fn, payload, extra, step: int) -> bytes:
    """Entropy-code one progressive scan, inserting RSTn every ``step``
    traversal units when step > 0 (per-segment state reset falls out of
    calling the emitter per chunk: fresh DC predictors, EOB runs ended)."""
    bw = _BitWriter()
    if not step:
        step = len(payload)
    nrst = 0
    for pos in range(0, len(payload), max(step, 1)):
        if pos:
            bw.restart(nrst % 8)
            nrst += 1
        fn(bw, payload[pos : pos + step], *extra)
    return bw.flush()


def encode_progressive_jpeg(img: np.ndarray, restart_interval: int = 0) -> bytes:
    """Grayscale PROGRESSIVE (SOF2) JFIF: spectral selection + one level
    of successive approximation — the scan script real progressive
    encoders emit (DC first Al=1 → AC bands 1-5 / 6-63 first Al=1 → DC
    refinement → AC refinement 1-63), exercising EOB runs, ZRL-in-
    refinement, correction-bit buffering, and cross-scan coefficient
    accumulation.  ``restart_interval`` > 0 emits DRI + RSTn every N
    blocks inside every scan (single-component scans are
    non-interleaved: one data unit per MCU).  Same unit quant tables as
    the baseline encoder, so ``decode(progressive(img)) ==
    decode(baseline(img))`` EXACTLY — the two entropy pipelines
    reconstruct identical quantized coefficients (the cross-check the
    tests pin)."""
    blocks, h, w = _quantized_blocks(img)
    seq = [(1, row) for row in blocks]
    dqt = _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = _seg(
        0xC2,
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    dri = (
        _seg(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval
        else b""
    )
    out = b"\xff\xd8" + dqt + sof + dri + _PROG_DHT
    one = [(1, 0x00)]
    for hdr, fn, payload, extra in (
        (_sos_progressive(one, 0, 0, 0, 1), _enc_dc_first, seq, (1,)),
        (_sos_progressive(one, 1, 5, 0, 1), _enc_ac_first, blocks, (1, 5, 1)),
        (_sos_progressive(one, 6, 63, 0, 1), _enc_ac_first, blocks, (6, 63, 1)),
        (_sos_progressive(one, 0, 0, 1, 0), _enc_dc_refine, seq, (0,)),
        (_sos_progressive(one, 1, 63, 1, 0), _enc_ac_refine, blocks, (1, 63, 0)),
    ):
        out += hdr + _emit_prog_scan(fn, payload, extra, restart_interval)
    return out + b"\xff\xd9"


def encode_progressive_jpeg_color(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    subsample: bool | str = False,
    restart_interval: int = 0,
) -> bytes:
    """3-component YCbCr PROGRESSIVE (SOF2) JFIF with the scan shape
    real encoders (libjpeg's standard script) emit: one INTERLEAVED
    DC-first scan over all three components in MCU order (per-component
    predictors), per-component non-interleaved AC band scans (T.81
    forbids interleaved AC in progressive mode), an interleaved DC
    refinement, and per-component AC refinements.  ``restart_interval``
    > 0 emits DRI + RSTn every N MCUs in every scan — N whole MCUs of
    the interleaved DC traversal, N blocks of a non-interleaved AC scan
    (one data unit per MCU, B.2.3).  Unit quant tables, so
    ``decode(progressive_color(img)) == decode(baseline_color(img))``
    EXACTLY — the pin the tests enforce for every sampling."""
    name = subsample if isinstance(subsample, str) else ("420" if subsample else "444")
    (lh, lv), (dx, dy) = _SAMPLINGS[name]
    h, w = y.shape
    assert h % (8 * lv) == 0 and w % (8 * lh) == 0
    assert cb.shape == cr.shape == (h // dy, w // dx)
    comps = [(1, lh, lv), (2, 1, 1), (3, 1, 1)]
    blocks = {
        1: _quantized_blocks(y)[0],
        2: _quantized_blocks(cb)[0],
        3: _quantized_blocks(cr)[0],
    }
    # MCU-order traversal for the interleaved DC scans: dims are
    # MCU-aligned (asserted), so each component's row-major block grid
    # is exactly (mcuy*vi) x (mcux*hi)
    mcux, mcuy = w // (8 * lh), h // (8 * lv)
    seq = []
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, hi, vi in comps:
                pbw = mcux * hi
                for v in range(vi):
                    for hh in range(hi):
                        seq.append(
                            (cid, blocks[cid][(my * vi + v) * pbw + mx * hi + hh])
                        )
    dqt = _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof_body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof_body += bytes([3])
    for cid, hi, vi in comps:
        sof_body += bytes([cid, (hi << 4) | vi, 0])
    dri = (
        _seg(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval
        else b""
    )
    out = b"\xff\xd8" + dqt + _seg(0xC2, sof_body) + dri + _PROG_DHT
    all3 = [(1, 0x00), (2, 0x00), (3, 0x00)]
    bpm = lh * lv + 2  # blocks per interleaved MCU
    script = [
        (_sos_progressive(all3, 0, 0, 0, 1), _enc_dc_first, seq, (1,), bpm),
        (_sos_progressive([(1, 0x00)], 1, 5, 0, 1), _enc_ac_first, blocks[1], (1, 5, 1), 1),
        (_sos_progressive([(2, 0x00)], 1, 63, 0, 1), _enc_ac_first, blocks[2], (1, 63, 1), 1),
        (_sos_progressive([(3, 0x00)], 1, 63, 0, 1), _enc_ac_first, blocks[3], (1, 63, 1), 1),
        (_sos_progressive([(1, 0x00)], 6, 63, 0, 1), _enc_ac_first, blocks[1], (6, 63, 1), 1),
        (_sos_progressive(all3, 0, 0, 1, 0), _enc_dc_refine, seq, (0,), bpm),
        (_sos_progressive([(1, 0x00)], 1, 63, 1, 0), _enc_ac_refine, blocks[1], (1, 63, 0), 1),
        (_sos_progressive([(2, 0x00)], 1, 63, 1, 0), _enc_ac_refine, blocks[2], (1, 63, 0), 1),
        (_sos_progressive([(3, 0x00)], 1, 63, 1, 0), _enc_ac_refine, blocks[3], (1, 63, 0), 1),
    ]
    for hdr, fn, payload, extra, units in script:
        out += hdr + _emit_prog_scan(fn, payload, extra, restart_interval * units)
    return out + b"\xff\xd9"


# ------------------------------------------------------------------ decoder
class _BitReader:
    def __init__(self, data: bytes):
        self.d = data
        self.i = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.i >= len(self.d):
                raise EOFError
            b = self.d[self.i]
            self.i += 1
            if b == 0xFF:
                if self.i < len(self.d) and self.d[self.i] == 0x00:
                    self.i += 1  # stuffed byte
                else:
                    raise EOFError  # a marker ends the entropy segment
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        self.n = 0


def _decode_huff(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, ssss: int) -> int:
    return v - ((1 << ssss) - 1) if v < (1 << (ssss - 1)) else v


def decode_baseline_jpeg(data: bytes):
    """Full JPEG decode -> (h, w) uint8 for grayscale frames or
    (h, w, 3) uint8 RGB for 3-component YCbCr frames (4:4:4, 4:2:2 and
    4:2:0 chroma samplings, via general MCU interleave + replication
    upsampling + BT.601 color transform).  Baseline (SOF0) frames fully;
    PROGRESSIVE (SOF2) frames grayscale AND color — spectral selection
    + successive approximation with EOB runs, the AC correction-bit
    refinement, interleaved multi-component DC scans in MCU order and
    per-component non-interleaved AC scans over each component's own
    block grid (T.81 Annex G), with DRI/RSTn restart boundaries in any
    scan (per-segment predictor + EOB-run resets).  None on anything
    malformed or unsupported (arithmetic coding, 12-bit, hierarchical,
    exotic samplings).  Tables are read from the stream's own
    DQT/DHT."""
    try:
        return _decode(data)
    except Exception:  # noqa: BLE001 — corrupt bytes fail soft by contract
        return None


def _parse_dqt(seg: bytes, qt: dict) -> None:
    j = 0
    while j < len(seg):
        pq, tq = seg[j] >> 4, seg[j] & 0xF
        j += 1
        n = 64 * (2 if pq else 1)
        raw = seg[j : j + n]
        j += n
        vals = (
            np.frombuffer(raw, dtype=">u2").astype(np.int64)
            if pq
            else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        )
        tbl = np.zeros((8, 8), dtype=np.int64)
        for k, (u, v) in enumerate(_ZZ):
            tbl[u, v] = vals[k]
        qt[tq] = tbl


def _parse_dht(seg: bytes, huff: dict) -> None:
    j = 0
    while j < len(seg):
        tc, th = seg[j] >> 4, seg[j] & 0xF
        counts = list(seg[j + 1 : j + 17])
        nsym = sum(counts)
        syms = list(seg[j + 17 : j + 17 + nsym])
        j += 17 + nsym
        enc = _canonical(counts, syms)
        huff[(tc, th)] = {(c, ln2): s for s, (c, ln2) in enc.items()}


def _decode(data: bytes):
    if data[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> (code,len)->sym
    h = w = 0
    comps: list[tuple[int, int, int, int]] = []  # (id, hi, vi, tq)
    restart_interval = 0
    progressive = False
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker == 0xD9:  # EOI before SOS
            return None
        ln = int.from_bytes(data[i + 2 : i + 4], "big")
        seg = data[i + 4 : i + 2 + ln]
        if marker != 0xDA:
            i += 2 + ln
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            _parse_dqt(seg, qt)
        elif marker == 0xC4:  # DHT (possibly several tables)
            _parse_dht(seg, huff)
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            if seg[0] != 8:
                return None  # 8-bit precision only
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            if ncomp not in (1, 3):
                return None
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    return None  # samplings beyond 2x replication
                comps.append((cid, hi, vi, tq))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7):
            return None  # non-baseline/non-progressive frame types
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            if h == 0 or w == 0 or not comps:
                return None
            if progressive:
                # i still points at this SOS marker; the progressive
                # loop owns all scans + inter-scan tables from here
                return _decode_progressive(
                    data, i, h, w, comps, qt, huff, restart_interval
                )
            i += 2 + ln
            ns = seg[0]
            if ns != len(comps):
                return None  # no multi-scan support
            tables = {}
            for s in range(ns):
                cs, tt = seg[1 + 2 * s], seg[2 + 2 * s]
                dc_t = huff.get((0, tt >> 4))
                ac_t = huff.get((1, tt & 0xF))
                if dc_t is None or ac_t is None:
                    return None
                tables[cs] = (dc_t, ac_t)
            for cid, _hi, _vi, tq in comps:
                if tq not in qt or cid not in tables:
                    return None
            return _scan_mcu(
                data, i, h, w, comps, qt, tables, restart_interval
            )
        # APPn/COM/anything else: skipped
    return None


def _decode_block(br: _BitReader, dc_t, ac_t, pred: int, q: np.ndarray):
    """One entropy-coded block -> (8x8 float spatial block, new pred)."""
    zz = np.zeros(64, dtype=np.int64)
    ssss = _decode_huff(br, dc_t)
    diff = _extend(br.bits(ssss), ssss) if ssss else 0
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        sym = _decode_huff(br, ac_t)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        k += sym >> 4
        size = sym & 0xF
        if k > 63 or size == 0:
            raise ValueError("AC run past block end")
        zz[k] = _extend(br.bits(size), size)
        k += 1
    coef = np.zeros((8, 8), dtype=np.float64)
    for idx, (u, v) in enumerate(_ZZ):
        coef[u, v] = zz[idx] * q[u, v]
    return _B.T @ coef @ _B + 128.0, pred


def _scan_mcu(data, start, h, w, comps, qt, tables, restart_interval):
    """General interleaved-MCU scan: hi*vi blocks per component per MCU,
    per-component DC predictors, restart-marker resets; planes are
    replication-upsampled to full resolution afterwards."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = {
        cid: np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
        for cid, hi, vi, _tq in comps
    }
    br = _BitReader(data[start:])
    preds = {cid: 0 for cid, *_ in comps}
    nmcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and nmcu and nmcu % restart_interval == 0:
                br.align()  # RSTn: re-align and reset every predictor
                if (
                    br.i + 1 < len(br.d)
                    and br.d[br.i] == 0xFF
                    and 0xD0 <= br.d[br.i + 1] <= 0xD7
                ):
                    br.i += 2
                preds = {cid: 0 for cid in preds}
            for cid, hi, vi, tq in comps:
                dc_t, ac_t = tables[cid]
                for v in range(vi):
                    for hh in range(hi):
                        block, preds[cid] = _decode_block(
                            br, dc_t, ac_t, preds[cid], qt[tq]
                        )
                        r0 = (my * vi + v) * 8
                        c0 = (mx * hi + hh) * 8
                        planes[cid][r0 : r0 + 8, c0 : c0 + 8] = block
            nmcu += 1
    full = []
    for cid, hi, vi, _tq in comps:
        # integer component samples FIRST (what a real decoder emits) —
        # feeding raw float planes into the color transform lets IDCT
        # epsilon (~1e-13) flip floor(x+0.5) on exact-.5 boundaries
        p = np.clip(np.rint(planes[cid]), 0, 255)
        if hi < hmax or vi < vmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return full[0].astype(np.uint8)
    return _ycbcr_to_rgb(full[0], full[1], full[2])


# --------------------------------------------- progressive (SOF2) decode
# T.81 Annex G successive-approximation + spectral-selection decoding,
# grayscale AND color: interleaved multi-component DC scans in MCU order
# (per-component predictors), single-component DC scans, AC first scans
# with EOB-run batching, and the AC refinement algorithm (correction
# bits interleaved into zero-run advances) — AC scans are always
# non-interleaved per T.81, walking the component's OWN block grid.
# Coefficients accumulate across scans in zigzag order per component;
# reconstruction is the same dequantize + IDCT the baseline path uses,
# followed by the same replication upsampling + BT.601 transform.


def _entropy_end(data: bytes, i: int) -> int:
    """End of an entropy-coded segment: the first marker that is not a
    stuffed 0x00 or an RSTn."""
    while i + 1 < len(data):
        if data[i] == 0xFF and data[i + 1] != 0x00 and not (
            0xD0 <= data[i + 1] <= 0xD7
        ):
            return i
        i += 1
    return len(data)


def _prog_dc_first(br, coef, seq, dct, al):
    """``seq`` = [(cid, block_index)] in scan order (MCU order when
    interleaved, row-major otherwise); ``coef``/``dct`` keyed by cid."""
    preds: dict[int, int] = {}
    for cid, b in seq:
        ssss = _decode_huff(br, dct[cid])
        diff = _extend(br.bits(ssss), ssss) if ssss else 0
        preds[cid] = preds.get(cid, 0) + diff
        coef[cid][b, 0] = preds[cid] << al


def _prog_dc_refine(br, coef, seq, al):
    for cid, b in seq:
        if br.bit():
            coef[cid][b, 0] |= 1 << al


def _prog_ac_first(br, coef, ac_t, ss, se, al, idxs):
    eobrun = 0
    for b in idxs:
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            sym = _decode_huff(br, ac_t)
            r, s = sym >> 4, sym & 15
            if s:
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                coef[b, k] = _extend(br.bits(s), s) << al
            else:
                if r != 15:
                    eobrun = (1 << r) - 1  # this block is run member 1
                    if r:
                        eobrun += br.bits(r)
                    break
                k += 15  # ZRL (the loop's k += 1 completes the 16)
            k += 1


def _prog_ac_refine(br, coef, ac_t, ss, se, al, idxs):
    """T.81 G.1.2.3 (the jdphuff-shaped formulation): newly-nonzero
    coefficients arrive as ±1<<Al after a run over zero-HISTORY
    positions; already-nonzero coefficients met along the way each
    consume one correction bit."""
    p1, m1 = 1 << al, -(1 << al)
    eobrun = 0

    def correct(row, k):
        if br.bit() and (row[k] & p1) == 0:
            row[k] += p1 if row[k] >= 0 else m1

    for b in idxs:
        row = coef[b]
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _decode_huff(br, ac_t)
                r, s = sym >> 4, sym & 15
                newval = 0
                if s:
                    if s != 1:
                        raise ValueError("refinement size > 1")
                    newval = p1 if br.bit() else m1
                else:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.bits(r)
                        break  # rest of block under EOB logic below
                    # r == 15: ZRL — skip 16 zero-history positions
                while k <= se:
                    if row[k] != 0:
                        correct(row, k)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("refinement run past band end")
                    row[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:
                if row[k] != 0:
                    correct(row, k)
                k += 1
            eobrun -= 1


def _skip_rst(br: _BitReader) -> None:
    """Restart boundary inside a progressive scan: byte-align and step
    over the RSTn marker (T.81 E.1.4; state resets are the caller's —
    predictors and EOB runs restart per segment)."""
    br.align()
    if (
        br.i + 1 < len(br.d)
        and br.d[br.i] == 0xFF
        and 0xD0 <= br.d[br.i + 1] <= 0xD7
    ):
        br.i += 2


def _decode_progressive(data, i, h, w, comps, qt, huff, ri):
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per component: the MCU-padded block grid (interleaved DC scans
    # cover all of it) and the NON-interleaved dims (AC / 1-component
    # scans cover only ceil(comp_dim/8) blocks — T.81 A.2.2/A.2.3)
    info: dict[int, tuple] = {}
    coef: dict[int, np.ndarray] = {}
    for cid, hi, vi, tq in comps:
        pbw, pbh = mcux * hi, mcuy * vi
        cw = -(-(w * hi) // hmax)
        ch = -(-(h * vi) // vmax)
        nbw, nbh = -(-cw // 8), -(-ch // 8)
        info[cid] = (hi, vi, tq, pbw, pbh, cw, ch, nbw, nbh)
        coef[cid] = np.zeros((pbh * pbw, 64), dtype=np.int64)
    while True:
        if data[i : i + 2] != b"\xff\xda":
            return None
        ln = int.from_bytes(data[i + 2 : i + 4], "big")
        seg = data[i + 4 : i + 2 + ln]
        i += 2 + ln
        ns = seg[0]
        if ns < 1 or len(seg) < 4 + 2 * ns:
            return None
        scomps = [(seg[1 + 2 * s], seg[2 + 2 * s]) for s in range(ns)]
        if any(cs not in info for cs, _tt in scomps):
            return None
        ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
        ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
        end = _entropy_end(data, i)
        br = _BitReader(data[i:end])
        if ss == 0:
            if se != 0:
                return None  # DC and AC never share a scan (B.2.3)
            if ns == 1:  # non-interleaved single-component DC scan
                cid = scomps[0][0]
                _hi, _vi, _tq, pbw, _pbh, _cw, _ch, nbw, nbh = info[cid]
                seq = [
                    (cid, by * pbw + bx)
                    for by in range(nbh)
                    for bx in range(nbw)
                ]
                bpm = 1  # non-interleaved: one data unit per MCU (B.2.3)
            else:  # interleaved: MCU order, hi*vi blocks per component
                seq = []
                for my in range(mcuy):
                    for mx in range(mcux):
                        for cid, _tt in scomps:
                            hi, vi, *_rest = info[cid]
                            pbw = info[cid][3]
                            for v in range(vi):
                                for hh in range(hi):
                                    seq.append(
                                        (cid, (my * vi + v) * pbw + mx * hi + hh)
                                    )
                bpm = sum(info[cs][0] * info[cs][1] for cs, _tt in scomps)
            if ah == 0:
                dct = {cs: huff.get((0, tt >> 4)) for cs, tt in scomps}
                if any(t is None for t in dct.values()):
                    return None
            # restart boundaries every ri MCUs: predictors reset per
            # segment (fresh _prog_dc_first call == fresh predictors)
            step = ri * bpm if ri else len(seq)
            for pos in range(0, len(seq), max(step, 1)):
                if pos:
                    _skip_rst(br)
                chunk = seq[pos : pos + step]
                if ah == 0:
                    _prog_dc_first(br, coef, chunk, dct, al)
                else:
                    _prog_dc_refine(br, coef, chunk, al)
        else:
            if ns != 1:
                return None  # progressive AC scans are never interleaved
            cid, tt = scomps[0]
            ac_t = huff.get((1, tt & 0xF))
            if ac_t is None or se > 63 or ss > se:
                return None
            _hi, _vi, _tq, pbw, _pbh, _cw, _ch, nbw, nbh = info[cid]
            idxs = [by * pbw + bx for by in range(nbh) for bx in range(nbw)]
            # non-interleaved: restart every ri blocks; EOB runs end at
            # the boundary (fresh call == fresh eobrun)
            step = ri if ri else len(idxs)
            for pos in range(0, len(idxs), max(step, 1)):
                if pos:
                    _skip_rst(br)
                chunk = idxs[pos : pos + step]
                if ah == 0:
                    _prog_ac_first(br, coef[cid], ac_t, ss, se, al, chunk)
                else:
                    _prog_ac_refine(br, coef[cid], ac_t, ss, se, al, chunk)
        i = end
        # inter-scan markers: tables may be redefined between scans
        while i + 2 <= len(data):
            if data[i] != 0xFF:
                return None
            m = data[i + 1]
            if m == 0xD9:  # EOI — all scans in: reconstruct
                planes = []
                for cid, hi, vi, tq in comps:
                    if tq not in qt:
                        return None
                    _h2, _v2, _tq2, pbw, pbh, cw, ch, _nbw, _nbh = info[cid]
                    # reconstruct the full padded grid, then crop to the
                    # component's true dims (same int-samples-first
                    # convention as the baseline path)
                    p = _reconstruct_blocks(
                        coef[cid], pbh * 8, pbw * 8, qt[tq]
                    ).astype(np.float64)[:ch, :cw]
                    if hi < hmax or vi < vmax:
                        p = np.repeat(
                            np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1
                        )
                    planes.append(p[:h, :w])
                if len(planes) == 1:
                    return planes[0].astype(np.uint8)
                return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
            if m == 0xDA:
                break  # next scan
            ln2 = int.from_bytes(data[i + 2 : i + 4], "big")
            seg2 = data[i + 4 : i + 2 + ln2]
            if m == 0xC4:
                _parse_dht(seg2, huff)
            elif m == 0xDB:
                _parse_dqt(seg2, qt)
            elif m == 0xDD:  # DRI may be redefined between scans
                ri = int.from_bytes(seg2[:2], "big")
            i += 2 + ln2
        else:
            return None


def _reconstruct_blocks(coef, h, w, q):
    """zigzag coefficient store -> dequantize -> IDCT -> cropped plane."""
    bh, bw_ = (h + 7) // 8, (w + 7) // 8
    out = np.zeros((bh * 8, bw_ * 8), dtype=np.float64)
    qzz = np.array([q[u, v] for (u, v) in _ZZ], dtype=np.int64)
    for b in range(coef.shape[0]):
        by, bx = divmod(b, bw_)
        dq = coef[b] * qzz
        block = np.zeros((8, 8), dtype=np.float64)
        for idx, (u, v) in enumerate(_ZZ):
            block[u, v] = dq[idx]
        out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            _B.T @ block @ _B + 128.0
        )
    return np.clip(np.rint(out[:h, :w]), 0, 255).astype(np.uint8)


def _ycbcr_to_rgb(y, cb, cr):
    """BT.601 (JFIF) color transform.  floor(x + 0.5) rounding so the
    SQL oracle can reproduce the exact integers (np.rint rounds
    half-to-even; DuckDB round() rounds half-away — floor(x+0.5) is the
    one convention both engines express exactly)."""
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


# ------------------------------------------------------- fixture + operator
def make_block_jpeg(doc_id: int) -> bytes:
    """Deterministic block-flat grayscale JPEG: (2 + doc_id%3) x
    (2 + (doc_id*5)%3) blocks, block (bx, by) = one constant from the
    doc_id formula — DC-only content, so the decode is bit-exact and
    the oracle recomputes decoded statistics arithmetically.  Odd
    doc_ids emit the PROGRESSIVE (SOF2) stream shape, even ones
    baseline (SOF0); both decode to identical pixels (unit quant), so
    one oracle gates both entropy pipelines."""
    wb = 2 + doc_id % 3
    hb = 2 + (doc_id * 5) % 3
    img = np.zeros((hb * 8, wb * 8), dtype=np.uint8)
    for by in range(hb):
        for bx in range(wb):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                doc_id * 7 + 13 * bx + 29 * by
            ) % 256
    if doc_id % 2:
        return encode_progressive_jpeg(img)
    return encode_baseline_jpeg(img)


def _jpeg_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "w", "h", "mean_px", "min_px", "max_px")}
        for doc_id, media in zip(pdf["doc_id"].values, pdf["media"].values):
            img = decode_baseline_jpeg(bytes(media))
            rows["doc_id"].append(doc_id)
            if img is None or img.size == 0:
                for k in ("w", "h", "mean_px", "min_px", "max_px"):
                    rows[k].append(0)
                continue
            rows["h"].append(img.shape[0])
            rows["w"].append(img.shape[1])
            rows["mean_px"].append(round(float(img.mean()), 6))
            rows["min_px"].append(int(img.min()))
            rows["max_px"].append(int(img.max()))
        yield pd.DataFrame(rows)


def media_jpeg_decode(spark, sf_dir: str):
    """Real JPEG pixel path: synthesize a genuine baseline JPEG per doc
    -> mapInPandas runs the FULL decode (Huffman entropy decode,
    dequantize, IDCT) on the actual compressed bytes and emits decoded
    pixel statistics.  Pytest-oracle-gated (not a driver-gated
    query, see tests/test_operators.py::TestJpegCodec)."""
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(T.BinaryType())
    def jpeg_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series([make_block_jpeg(int(i)) for i in doc_id])

    media = d.select("doc_id", jpeg_udf("doc_id").alias("media"))
    return media.mapInPandas(
        _jpeg_decode_batch,
        schema=(
            "doc_id long, w long, h long, mean_px double, "
            "min_px long, max_px long"
        ),
    )


def make_color_jpeg(doc_id: int) -> bytes:
    """Deterministic block-flat COLOR JPEG: even doc_ids are 4:4:4, odd
    are 4:2:0 (the two samplings real crawls carry); within each
    sampling, doc_id%4 >= 2 emits the PROGRESSIVE (SOF2) stream shape
    (interleaved DC scans + per-component AC band scans) and the rest
    baseline — identical decoded pixels either way (unit quant), so one
    oracle gates both entropy pipelines.  Every 8x8 luma block is one
    constant; chroma is constant per chroma block, so after replication
    upsampling each luma block sees one exact (Y, Cb, Cr) and the
    decoded RGB is bit-exact — the oracle recomputes it with the same
    floor(x+0.5) BT.601 arithmetic in SQL."""
    sub = doc_id % 2 == 1
    prog = (doc_id % 4) >= 2  # half the fixtures per sampling: SOF2
    if sub:  # 4:2:0 needs even luma-block counts (whole MCUs)
        wb = 4
        hb = 2 + 2 * ((doc_id // 2) % 2)
    else:
        wb = 2 + doc_id % 3
        hb = 2 + (doc_id * 5) % 3
    y = np.zeros((hb * 8, wb * 8), dtype=np.uint8)
    for by in range(hb):
        for bx in range(wb):
            y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                doc_id * 7 + 13 * bx + 29 * by
            ) % 256
    if sub:
        cb = np.zeros((hb * 4, wb * 4), dtype=np.uint8)
        cr = np.zeros((hb * 4, wb * 4), dtype=np.uint8)
        for my in range(hb // 2):
            for mx in range(wb // 2):
                cb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
                    doc_id * 11 + 17 * mx + 23 * my
                ) % 256
                cr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
                    doc_id * 5 + 19 * mx + 31 * my
                ) % 256
        enc = encode_progressive_jpeg_color if prog else encode_baseline_jpeg_color
        return enc(y, cb, cr, subsample=True)
    cb = np.zeros_like(y)
    cr = np.zeros_like(y)
    for by in range(hb):
        for bx in range(wb):
            cb[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                doc_id * 11 + 17 * bx + 23 * by
            ) % 256
            cr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                doc_id * 5 + 19 * bx + 31 * by
            ) % 256
    enc = encode_progressive_jpeg_color if prog else encode_baseline_jpeg_color
    return enc(y, cb, cr, subsample=False)


def _jpeg_color_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = ("doc_id", "fmt", "w", "h", "mean_r", "mean_g", "mean_b")
    for pdf in batches:
        rows = {k: [] for k in cols}
        for doc_id, media in zip(pdf["doc_id"].values, pdf["media"].values):
            img = decode_baseline_jpeg(bytes(media))
            rows["doc_id"].append(doc_id)
            rows["fmt"].append("420" if doc_id % 2 else "444")
            if img is None or img.ndim != 3:
                for k in ("w", "h"):
                    rows[k].append(0)
                for k in ("mean_r", "mean_g", "mean_b"):
                    rows[k].append(0.0)
                continue
            rows["h"].append(img.shape[0])
            rows["w"].append(img.shape[1])
            for k, ch in (("mean_r", 0), ("mean_g", 1), ("mean_b", 2)):
                rows[k].append(round(float(img[:, :, ch].mean()), 6))
        yield pd.DataFrame(rows)


def media_jpeg_color(spark, sf_dir: str):
    """Color half of the JPEG path: per-doc genuine 4:4:4 / 4:2:0 YCbCr
    baseline files -> full decode (interleaved MCUs, chroma upsampling,
    BT.601 -> RGB) -> per-channel statistics, executor-side in Arrow
    batches.  Pytest-oracle-gated (not a driver-gated query)."""
    from pyspark.sql import types as T

    from textextraction_spark.job.packaging import ensure_shipped

    ensure_shipped(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(T.BinaryType())
    def jpeg_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series([make_color_jpeg(int(i)) for i in doc_id])

    media = d.select("doc_id", jpeg_udf("doc_id").alias("media"))
    return media.mapInPandas(
        _jpeg_color_batch,
        schema=(
            "doc_id long, fmt string, w long, h long, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


# Per luma block (bx, by): Y from the luma formula; chroma indices are
# (bx, by) for 4:4:4 and (bx//2, by//2) for 4:2:0 (replication
# upsampling makes every pixel of the block see exactly that pair).
# RGB = clamp(floor(bt601 + 0.5)) — the decoder's exact arithmetic.
MEDIA_JPEG_COLOR_ORACLE = """
WITH g AS (
  SELECT doc_id,
         doc_id % 2 = 1 AS sub,
         CASE WHEN doc_id % 2 = 1
              THEN 4  -- mirrors make_color_jpeg's even-MCU sizing
              ELSE 2 + doc_id % 3 END AS wb,
         CASE WHEN doc_id % 2 = 1
              THEN 2 + 2 * ((doc_id // 2) % 2)
              ELSE 2 + (doc_id * 5) % 3 END AS hb
  FROM documents
),
blocks AS (
  SELECT doc_id, sub, wb, hb, bx, by,
         (doc_id * 7 + 13 * bx + 29 * by) % 256 AS y,
         (doc_id * 11 + 17 * (CASE WHEN sub THEN bx // 2 ELSE bx END)
                      + 23 * (CASE WHEN sub THEN by // 2 ELSE by END)) % 256 AS cb,
         (doc_id * 5  + 19 * (CASE WHEN sub THEN bx // 2 ELSE bx END)
                      + 31 * (CASE WHEN sub THEN by // 2 ELSE by END)) % 256 AS cr
  FROM g, UNNEST(range(g.hb)) a(by), UNNEST(range(g.wb)) b(bx)
),
rgb AS (
  SELECT doc_id, wb, hb,
         GREATEST(0, LEAST(255, floor(y + 1.402 * (cr - 128.0) + 0.5))) AS r,
         GREATEST(0, LEAST(255, floor(y - 0.344136 * (cb - 128.0)
                                        - 0.714136 * (cr - 128.0) + 0.5))) AS gg,
         GREATEST(0, LEAST(255, floor(y + 1.772 * (cb - 128.0) + 0.5))) AS b
  FROM blocks
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 1 THEN '420' ELSE '444' END AS fmt,
       (wb * 8)::BIGINT AS w, (hb * 8)::BIGINT AS h,
       round(avg(r), 6) AS mean_r,
       round(avg(gg), 6) AS mean_g,
       round(avg(b), 6) AS mean_b
FROM rgb GROUP BY doc_id, wb, hb
"""


# each block is one constant and all blocks have equal area, so pixel
# statistics == statistics over the block-constant grid
MEDIA_JPEG_DECODE_ORACLE = """
WITH g AS (
  SELECT doc_id, 2 + doc_id % 3 AS wb, 2 + (doc_id * 5) % 3 AS hb
  FROM documents
),
px AS (
  SELECT doc_id, wb, hb, (doc_id * 7 + 13 * bx + 29 * by) % 256 AS v
  FROM g, UNNEST(range(g.hb)) a(by), UNNEST(range(g.wb)) b(bx)
)
SELECT doc_id, (wb * 8)::BIGINT AS w, (hb * 8)::BIGINT AS h,
       round(avg(v), 6) AS mean_px,
       min(v)::BIGINT AS min_px, max(v)::BIGINT AS max_px
FROM px GROUP BY doc_id, wb, hb
"""
