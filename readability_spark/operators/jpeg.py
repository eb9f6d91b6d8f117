"""Real baseline JPEG codec (pure stdlib + numpy) + Spark pixel stats.

VERDICT r3 carried "JPEG payloads return metadata-only" as the last
honest media gap (multimodal.decode_pixels PIL-gates them). Like the PNG
(``operators/imaging.py``) and WAV (``operators/audio.py``) codecs, no
native lib is actually required for the baseline sequential DCT process
of ITU-T T.81 (the JPEG spec): entropy coding is canonical Huffman over
run-length-coded zigzag coefficients, and the transform is the 8×8
DCT-II, exactly representable with a float64 cosine matrix.

Implemented here, from the public spec only:

- :func:`encode_jpeg_gray` — a real encoder: level shift, per-block
  orthonormal 2D DCT, Annex-K luminance quantization table, zigzag scan,
  differential DC, run/size AC coding with ZRL/EOB, canonical Huffman
  (Annex-K table layout written into DHT), 0xFF byte stuffing, JFIF/
  DQT/SOF0/DHT/SOS segment framing.
- :func:`decode_jpeg` — a segment-walking decoder that reads its tables
  FROM THE STREAM (DQT/DHT/SOF0/DRI), entropy-decodes interleaved MCUs
  for 1- or 3-component baseline images (any sampling factors, so 4:4:4
  and 4:2:0 both work), handles restart markers and byte unstuffing, and
  returns the **luma plane** (grayscale = the image; color = Y channel —
  the channel every perceptual stat/aHash in this repo consumes).
  Progressive (SOF2), arithmetic, and 12-bit inputs raise ``ValueError``
  so the mapInPandas wrapper isolates them as ``ok=False`` rows.

Oracle story (same trick as PNG's closed-form pixels, adapted to a LOSSY
codec): the synthesized image is a grid of constant 8×8 blocks whose
values are **even**. A constant block has only a DC coefficient (8·s for
level-shifted value s, orthonormal DCT), the Annex-K DC quant step is 16,
and round(8s/16) = s/2 is exact for even s — so quantization loses
nothing and decode returns the block values bit-exactly. The DuckDB
oracle therefore recomputes every statistic from the closed form
``v(bx,by) = 2*((doc_id*7 + bx*3 + by*5) % 128)`` without seeing a byte,
while the Spark side can only reach those values by running the full
Huffman+DCT round trip the encoder wrote.

Scale shape: one mapInPandas projection, zero shuffles — identical to
the PNG/WAV/extraction UDF shape; image bytes never enter a shuffle.
"""

from __future__ import annotations

from struct import error as struct_error
from typing import Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from readability_spark.operators.batches import arrow_map

# --------------------------------------------------------------------------
# spec constants (ITU-T T.81 Annex K)
# --------------------------------------------------------------------------

#: Annex K.1 luminance quantization table (natural row-major order).
QTAB_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

#: Annex K.3 luminance DC Huffman spec: (#codes of length 1..16, values).
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))

#: Annex K.5 luminance AC Huffman spec.
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """The 64 (row, col) positions in zigzag scan order, derived rather
    than hardcoded (diagonal walk, direction alternating by diagonal
    parity)."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(s + 1) if i < 8 and s - i < 8]
        order.extend(diag if s % 2 else diag[::-1])
    return np.array(order, dtype=np.int64)


_ZZ = _zigzag_order()
_ZZ_FLAT = _ZZ[:, 0] * 8 + _ZZ[:, 1]  # natural index of zigzag position k

#: Orthonormal 8-point DCT-II basis matrix: DCT = C @ block @ C.T.
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _canonical_codes(bits: list, vals: list) -> dict:
    """JPEG canonical Huffman assignment (T.81 C.2): val -> (code, length)."""
    codes = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


def _decode_table(bits: list, vals: list) -> dict:
    """(length, code) -> val, for the stream-driven decoder."""
    return {(l, c): v for v, (c, l) in _canonical_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # T.81 byte stuffing
                self.out.append(0x00)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _magnitude(v: int) -> Tuple[int, int]:
    """JPEG coefficient coding: (size category, appended bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def encode_jpeg_gray(px: np.ndarray) -> bytes:
    """Encode an 8-bit grayscale image (h×w uint8 array; dimensions need
    not be multiples of 8 — edges replicate) as a baseline JFIF JPEG."""
    h, w = px.shape
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = px
    padded[h:, :w] = px[h - 1 : h, :]
    padded[:, w:] = padded[:, w - 1 : w]

    dc_codes = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_codes = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    bw = _BitWriter()
    prev_dc = 0
    q = QTAB_LUMA.astype(np.float64)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coef = _C @ block @ _C.T
            qc = np.rint(coef / q).astype(np.int64)
            zz = qc.flat[_ZZ_FLAT]
            # DC: differential, size category + appended bits
            diff = int(zz[0]) - prev_dc
            prev_dc = int(zz[0])
            size, extra = _magnitude(diff)
            code, length = dc_codes[size]
            bw.write(code, length)
            if size:
                bw.write(extra, size)
            # AC: run/size with ZRL (0xF0) and EOB (0x00)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[0xF0]
                    bw.write(code, length)
                    run -= 16
                size, extra = _magnitude(v)
                code, length = ac_codes[(run << 4) | size]
                bw.write(code, length)
                bw.write(extra, size)
                run = 0
            if last_nz < 63:
                code, length = ac_codes[0x00]
                bw.write(code, length)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    qzz = bytes(int(QTAB_LUMA.flat[i]) for i in _ZZ_FLAT)
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + qzz)  # DQT, table 0, 8-bit
    out += seg(
        0xC0,  # SOF0: precision 8, 1 component, sampling 1x1, qtable 0
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01\x01\x11\x00",
    )
    out += seg(0xC4, b"\x00" + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += seg(0xC4, b"\x10" + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    out += seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------


class _BitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("jpeg: truncated entropy stream")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:  # a real marker: feed 1-padding (spec allows; EOI follows)
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int:
        """Byte-align and consume one marker (for RSTn); returns marker."""
        self.n = 0
        self.acc = 0
        d = self.data
        while self.pos < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1  # fill bytes
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF:
            raise ValueError("jpeg: expected restart marker")
        marker = d[self.pos + 1]
        self.pos += 2
        return marker


def _huff_decode(br: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("jpeg: invalid huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(b: bytes) -> Tuple[int, int, np.ndarray]:
    """Decode a baseline JPEG; returns (width, height, luma uint8 h×w).

    Reads quant/huffman tables from the stream; supports 1- and
    3-component baseline sequential scans with arbitrary sampling factors
    (4:4:4, 4:2:0, …) and restart intervals. For color images the
    returned plane is luma (Y) — chroma blocks are entropy-decoded to
    keep the stream in sync, then discarded. Raises ValueError on
    progressive/arithmetic/12-bit/malformed input.
    """
    try:
        return _decode_jpeg_inner(b)
    except (IndexError, KeyError) as exc:  # truncated/garbled header walks
        raise ValueError(f"jpeg: malformed stream ({exc})") from exc


def _decode_jpeg_inner(b: bytes) -> Tuple[int, int, np.ndarray]:
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    qtabs: dict = {}
    htabs: dict = {}
    comps: list = []
    w = h = 0
    restart = 0
    pos = 2
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("jpeg: no scan data before EOI")
        if marker in (0xC2, 0xC6, 0xCA, 0xCE):
            raise ValueError("jpeg: progressive not supported")
        if marker in (0xC9, 0xCB, 0xCD, 0xCF):
            raise ValueError("jpeg: arithmetic coding not supported")
        if marker in (0xC3, 0xC5, 0xC7):
            raise ValueError("jpeg: lossless/differential not supported")
        seg_len = int.from_bytes(b[pos : pos + 2], "big")
        seg = b[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant tables not supported")
                tab = np.zeros(64, dtype=np.int32)
                tab[_ZZ_FLAT] = np.frombuffer(seg[i + 1 : i + 65], dtype=np.uint8)
                qtabs[tq] = tab.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                htabs[(tc, th)] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            if seg[0] != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": samp >> 4, "v": samp & 0xF, "tq": tq}
                )
        elif marker == 0xDD:  # DRI
            restart = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                matches = [x for x in comps if x["id"] == cs]
                if not matches:  # SOS before SOF, or unknown selector —
                    # bare StopIteration would escape the mapInPandas
                    # generator as RuntimeError (PEP 479) and kill the task
                    raise ValueError("jpeg: scan component not in frame")
                scan.append({**matches[0], "td": tda >> 4, "ta": tda & 0xF})
            return _decode_scan(b, pos + seg_len, scan, qtabs, htabs, w, h, restart)
        pos += seg_len
    raise ValueError("jpeg: no SOS segment")


def _decode_scan(
    b: bytes, pos: int, scan: list, qtabs: dict, htabs: dict,
    w: int, h: int, restart: int,
) -> Tuple[int, int, np.ndarray]:
    if not scan or w == 0 or h == 0:
        raise ValueError("jpeg: SOS before SOF")
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    if hmax < 1 or vmax < 1:
        raise ValueError("jpeg: bad sampling factors")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    luma = scan[0]
    lw, lh = mcux * 8 * luma["h"], mcuy * 8 * luma["v"]
    plane = np.zeros((lh, lw), dtype=np.float64)
    br = _BitReader(b, pos)
    pred = {c["id"]: 0 for c in scan}
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and n_mcu and n_mcu % restart == 0:
                m = br.align_to_marker()
                if not (0xD0 <= m <= 0xD7):
                    raise ValueError("jpeg: missing restart marker")
                pred = {c["id"]: 0 for c in scan}
            for c in scan:
                dc_tab = htabs.get((0, c["td"]))
                ac_tab = htabs.get((1, c["ta"]))
                q = qtabs.get(c["tq"])
                if dc_tab is None or ac_tab is None or q is None:
                    raise ValueError("jpeg: missing table for scan")
                for v_ in range(c["v"]):
                    for h_ in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        size = _huff_decode(br, dc_tab)
                        diff = _extend(br.bits(size), size) if size else 0
                        pred[c["id"]] += diff
                        zz[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(br, ac_tab)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            size = rs & 0xF
                            if k > 63:
                                raise ValueError("jpeg: coefficient overrun")
                            zz[k] = _extend(br.bits(size), size)
                            k += 1
                        if c is luma:
                            coef = np.zeros(64, dtype=np.float64)
                            coef[_ZZ_FLAT] = zz
                            block = _C.T @ (coef.reshape(8, 8) * q) @ _C
                            y0 = (my * luma["v"] + v_) * 8
                            x0 = (mx * luma["h"] + h_) * 8
                            plane[y0 : y0 + 8, x0 : x0 + 8] = block
            n_mcu += 1
    out = np.clip(np.rint(plane[:h, :w] + 128.0), 0, 255).astype(np.uint8)
    return w, h, out


# --------------------------------------------------------------------------
# Spark operator
# --------------------------------------------------------------------------

JPEG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("px_mean", DoubleType(), True),
        StructField("px_min", IntegerType(), True),
        StructField("px_max", IntegerType(), True),
        StructField("ok", BooleanType(), True),
    ]
)


def synth_block_value(doc_id: int, bx: int, by: int) -> int:
    """Closed-form EVEN value of constant block (bx, by) — even values
    survive the Annex-K DC quantization exactly (see module docstring)."""
    return 2 * ((doc_id * 7 + bx * 3 + by * 5) % 128)


def synth_jpeg_dims(doc_id: int) -> Tuple[int, int]:
    """(width, height) in whole blocks: 16..48 × 16..40."""
    return 8 * (2 + doc_id % 5), 8 * (2 + doc_id % 4)


def synthesize_jpegs(docs: DataFrame) -> DataFrame:
    """(doc_id) -> (doc_id, content): real baseline JPEG bytes of the
    constant-block image, written by the real encoder."""
    out_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("content", BinaryType(), True),
        ]
    )

    def per_row(doc_id):
        d = int(doc_id)
        w, h = synth_jpeg_dims(d)
        px = np.empty((h, w), dtype=np.uint8)
        for by in range(h // 8):
            for bx in range(w // 8):
                px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = synth_block_value(d, bx, by)
        return ((d, encode_jpeg_gray(px)),)

    return arrow_map(docs, ["doc_id"], per_row, out_schema)


def jpeg_pixel_stats(images: DataFrame) -> DataFrame:
    """Decode the binary JPEG column (real Huffman + IDCT path) and emit
    exact pixel statistics; malformed payloads isolate to ok=False rows."""

    def per_row(doc_id, content):
        d = int(doc_id)
        try:
            w, h, px = decode_jpeg(bytes(content))
            n = w * h
            if n == 0:
                raise ValueError("jpeg: empty image")
            arr = px.astype(np.int64)
            return (
                (d, w, h, n, float(arr.sum()) / n, int(arr.min()), int(arr.max()), True),
            )
        except (ValueError, IndexError, struct_error):
            return ((d, None, None, None, None, None, None, False),)

    return arrow_map(images, ["doc_id", "content"], per_row, JPEG_STATS_SCHEMA)
