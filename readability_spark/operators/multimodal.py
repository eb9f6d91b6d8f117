"""Multimodal columns: opaque binary payloads + typed metadata, with REAL
header codecs.

Images/audio/video are carried as ``binary`` columns; decode runs as
Arrow-batched ``mapInPandas`` (the same execution shape as the html
extraction UDF). The codecs are real pure-stdlib parsers — no PIL/ffmpeg in
this container, but none is needed for container metadata:

- PNG: signature check + IHDR parse (width/height/bit depth/color type)
  with CRC32 verification of the IHDR chunk;
- WAV: RIFF chunk walk (fmt → channels/sample rate/bits; data → sample
  count, duration);
- MP4 (ISO-BMFF): box walk (ftyp brand; frame count carried in a box
  payload).

PNG pixel content, baseline JPEG pixel content, and WAV PCM sample
content ARE decoded for real — pure stdlib+numpy codecs in
operators/imaging.py (zlib inflate + all five PNG filters),
operators/jpeg.py (stream-read Huffman tables, interleaved MCUs, IDCT),
and operators/audio.py (int16 PCM). The remaining compressed-codec
content (progressive JPEG, H.264, WebP, ...) genuinely needs native libs
and stays a declared stub: :func:`decode_pixels` raises
``NotImplementedError`` for those unless PIL is importable. Synthesis
builds fully
valid container bytes (correct lengths + CRCs) so the decoders are
exercised on real structure, and every synthesized parameter is a
deterministic function of ``doc_id`` so the DuckDB oracle can verify the
full synthesize → binary → parse round trip.
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from readability_spark.operators.batches import arrow_map

MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("media_type", StringType(), True),
        StructField("byte_len", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", IntegerType(), True),
        StructField("duration_us", LongType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("ok", BooleanType(), True),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# builders (valid container bytes; parameters deterministic per doc)
# ---------------------------------------------------------------------------

def build_png(width: int, height: int, idat: bytes = b"\x00" * 16) -> bytes:
    """Minimal structurally-valid PNG: signature + IHDR + IDAT + IEND, all
    chunk lengths and CRCs correct. (IDAT content is opaque filler — header
    metadata never needs pixel decode.)"""

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)  # 8-bit RGB
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def build_wav(
    sample_rate: int,
    n_samples: int,
    channels: int = 1,
    bits: int = 16,
    data: Optional[bytes] = None,
) -> bytes:
    """Valid PCM WAV: RIFF header + fmt + data chunks. ``data`` carries real
    PCM bytes (operators/audio.py synthesizes deterministic waveforms);
    default is silence, which is all the header-metadata path needs."""
    block_align = channels * bits // 8
    if data is None:
        data = b"\x00" * (n_samples * block_align)
    if len(data) != n_samples * block_align:
        raise ValueError("data length does not match n_samples")
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, bits
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def build_mp4(n_frames: int, timescale: int = 1000, frame_delta: int = 40) -> bytes:
    """Minimal *real* ISO-BMFF movie: ftyp + moov{mvhd, trak{mdia{minf{stbl{
    stts}}}}}. The frame count lives where a real MP4 carries it — the stts
    time-to-sample table — and the movie duration in mvhd (v0 layout,
    duration = n_frames * frame_delta ticks at `timescale` ticks/sec). When
    n_frames > 1 the stts is split into two entries so parsers must sum
    sample counts, as they would on variable-frame-timing files."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    duration = n_frames * frame_delta
    mvhd_payload = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">IIII", 0, 0, timescale, duration)  # ctime mtime timescale duration
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)  # unity matrix
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", 2)  # next_track_ID
    )
    if n_frames > 1:
        entries = [(n_frames - 1, frame_delta), (1, frame_delta)]
    else:
        entries = [(n_frames, frame_delta)]
    stts_payload = b"\x00\x00\x00\x00" + struct.pack(">I", len(entries))
    for count, delta in entries:
        stts_payload += struct.pack(">II", count, delta)
    stts = _box(b"stts", stts_payload)
    trak = _box(b"trak", _box(b"mdia", _box(b"minf", _box(b"stbl", stts))))
    moov = _box(b"moov", _box(b"mvhd", mvhd_payload) + trak)
    return ftyp + moov


# ---------------------------------------------------------------------------
# parsers (header-only, pure stdlib)
# ---------------------------------------------------------------------------

def parse_png(b: bytes) -> dict:
    """PNG IHDR metadata; raises ValueError on malformed data (bad
    signature, short/invalid IHDR, CRC mismatch)."""
    if b[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    (length,) = struct.unpack_from(">I", b, 8)
    tag = b[12:16]
    if tag != b"IHDR" or length != 13 or len(b) < 16 + 13 + 4:
        raise ValueError("missing IHDR")
    data = b[16 : 16 + 13]
    (crc,) = struct.unpack_from(">I", b, 16 + 13)
    if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
        raise ValueError("IHDR CRC mismatch")
    width, height, bit_depth, color_type = struct.unpack(">IIBB", data[:10])
    return {"width": width, "height": height, "bit_depth": bit_depth, "color_type": color_type}


def parse_wav(b: bytes) -> dict:
    """RIFF/WAVE chunk walk; raises ValueError on malformed data."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not RIFF/WAVE")
    pos, end = 12, min(len(b), 8 + struct.unpack_from("<I", b, 4)[0])
    channels = sample_rate = bits = None
    data_len = None
    while pos + 8 <= end:
        tag = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            _fmt, channels, sample_rate, _brate, _align, bits = struct.unpack_from(
                "<HHIIHH", b, pos + 8
            )
        elif tag == b"data":
            data_len = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or data_len is None:
        raise ValueError("missing fmt/data chunk")
    block_align = channels * bits // 8
    if block_align <= 0 or sample_rate <= 0:
        raise ValueError("degenerate fmt chunk (zero channels/bits/rate)")
    n_samples = data_len // block_align
    return {
        "channels": channels,
        "sample_rate": sample_rate,
        "bits": bits,
        "n_samples": n_samples,
        "duration_us": n_samples * 1_000_000 // sample_rate,
    }


_MP4_CONTAINERS = frozenset({b"moov", b"trak", b"mdia", b"minf", b"stbl"})


def parse_mp4(b: bytes) -> dict:
    """Real ISO-BMFF walk: descend container boxes, read the frame count by
    summing stts sample counts and the duration from mvhd (v0 and v1
    layouts, 64-bit `largesize` boxes handled). An MP4 without a moov/stts
    (e.g. the old `free`-box stand-in, or a fragmented stream) parses with
    n_frames=None — the frame count is never trusted from anywhere but the
    sample table. Raises ValueError on malformed data."""
    out = {"brand": None, "n_frames": None, "timescale": None, "duration": None}

    def walk(pos: int, end: int, depth: int = 0) -> None:
        if depth > 16:
            raise ValueError("box nesting too deep")
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", b, pos)
            tag = b[pos + 4 : pos + 8]
            header = 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    raise ValueError("truncated largesize box")
                (size,) = struct.unpack_from(">Q", b, pos + 8)
                header = 16
            if size < header or pos + size > end:
                raise ValueError("bad box size")
            body, body_end = pos + header, pos + size
            if tag == b"ftyp":
                out["brand"] = b[body : body + 4].decode("ascii", "replace")
            elif tag in _MP4_CONTAINERS:
                walk(body, body_end, depth + 1)
            elif tag == b"mvhd":
                if body_end - body < 4:
                    raise ValueError("short mvhd")
                version = b[body]
                if version == 0:
                    if body_end - body < 20:
                        raise ValueError("short mvhd v0")
                    out["timescale"], out["duration"] = struct.unpack_from(">II", b, body + 12)
                else:
                    if body_end - body < 32:
                        raise ValueError("short mvhd v1")
                    (out["timescale"],) = struct.unpack_from(">I", b, body + 20)
                    (out["duration"],) = struct.unpack_from(">Q", b, body + 24)
            elif tag == b"stts":
                if body_end - body < 8:
                    raise ValueError("short stts")
                (entry_count,) = struct.unpack_from(">I", b, body + 4)
                if body_end - body < 8 + 8 * entry_count:
                    raise ValueError("truncated stts entries")
                total = 0
                for i in range(entry_count):
                    (count,) = struct.unpack_from(">I", b, body + 8 + 8 * i)
                    total += count
                out["n_frames"] = (out["n_frames"] or 0) + total
            pos = body_end

    walk(0, len(b))
    if out["brand"] is None:
        raise ValueError("no ftyp box")
    if out["timescale"] and out["duration"] is not None:
        out["duration_us"] = out["duration"] * 1_000_000 // out["timescale"]
    else:
        out["duration_us"] = None
    return out


def decode_pixels(payload: bytes):
    """Pixel-content decode. PNG and baseline JPEG decode natively via the
    repo's own codecs (``operators/imaging.py`` / ``operators/jpeg.py``,
    both pure stdlib+numpy) and return ``(width, height, luma-bytes)``.
    Everything else (progressive JPEG, WebP, AVIF, …) genuinely requires a
    native imaging lib and stays gated behind a PIL import; this container
    does not have it, so callers treat those pixels as opaque."""
    if payload[:8] == _PNG_SIG:
        from readability_spark.operators.imaging import decode_png_gray

        return decode_png_gray(payload)
    if payload[:2] == b"\xff\xd8":
        from readability_spark.operators.jpeg import decode_jpeg

        w, h, px = decode_jpeg(payload)  # ValueError on progressive etc.
        return w, h, bytearray(px.tobytes())
    try:  # pragma: no cover - needs PIL
        import io

        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            "pixel decoding beyond PNG/baseline-JPEG requires PIL"
        ) from exc
    return Image.open(io.BytesIO(payload))  # pragma: no cover - needs PIL


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def _media_params(doc_id: int) -> tuple:
    """Deterministic synthesis parameters per doc (mirrored in the oracle)."""
    kind = doc_id % 3
    if kind == 0:
        return ("image/png", doc_id % 640 + 1, doc_id % 480 + 1, None, None, None)
    if kind == 1:
        rate = 8000 * (1 + (doc_id // 3) % 3)
        return ("audio/wav", None, None, rate, doc_id % 100 + 1, None)
    return ("video/mp4", None, None, None, None, doc_id % 30 + 1)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, media_type, payload: binary). Payloads are
    *valid* PNG/WAV/MP4 container bytes built per doc."""
    from pyspark.sql.types import BinaryType

    out_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("media_type", StringType(), True),
            StructField("payload", BinaryType(), True),
        ]
    )

    def per_row(doc_id):
        d = int(doc_id)
        mt, w, h, rate, n_samp, n_frames = _media_params(d)
        if mt == "image/png":
            payload = build_png(w, h)
        elif mt == "audio/wav":
            payload = build_wav(rate, n_samp)
        else:
            payload = build_mp4(n_frames)
        return ((d, mt, payload),)

    return arrow_map(docs, ["doc_id"], per_row, out_schema)


def sample_frames(meta: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame-sampling plan over decoded video metadata: one row per sampled
    frame index (0, every_n, 2*every_n, ... < n_frames). Pure column
    expressions (sequence + explode) — the fan-out a real frame decoder
    would map over; the pixel fetch itself stays behind decode_pixels.
    Returns (doc_id, frame_idx, n_frames)."""
    vids = meta.filter((F.col("media_type") == "video/mp4") & F.col("ok"))
    return vids.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
        "n_frames",
    )


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched header decode over the binary column; malformed
    payloads produce ok=False rows instead of failing the job (same
    failure-isolation contract as html extraction)."""

    def per_row(doc_id, mt, payload):
        raw = bytes(payload) if payload is not None else b""
        row = {
            "doc_id": int(doc_id),
            "media_type": mt,
            "byte_len": len(raw),
            "width": None,
            "height": None,
            "sample_rate": None,
            "n_samples": None,
            "duration_us": None,
            "n_frames": None,
            "ok": True,
        }
        try:
            if mt == "image/png":
                meta = parse_png(raw)
                row["width"], row["height"] = meta["width"], meta["height"]
                row["n_frames"] = 1
            elif mt == "audio/wav":
                meta = parse_wav(raw)
                row["sample_rate"] = meta["sample_rate"]
                row["n_samples"] = meta["n_samples"]
                row["duration_us"] = meta["duration_us"]
                row["n_frames"] = 1
            elif mt == "video/mp4":
                meta = parse_mp4(raw)
                row["n_frames"] = meta["n_frames"]
                row["duration_us"] = meta["duration_us"]
            else:
                row["ok"] = False
        except (ValueError, struct.error, ZeroDivisionError, OverflowError):
            row["ok"] = False
        return (row,)

    return arrow_map(media, ["doc_id", "media_type", "payload"], per_row, MEDIA_META_SCHEMA)
