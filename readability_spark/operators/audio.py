"""Real WAV PCM sample decode (pure stdlib) + audio signal statistics.

Companion to operators/imaging.py: the synthesized WAVs here carry an
actual int16 waveform — the closed form
``((doc_id*31 + i*17) % 65536) - 32768`` per sample index ``i`` — and the
Spark operator recovers the samples only by parsing the RIFF container and
decoding the PCM bytes. The DuckDB oracle recomputes every statistic from
the formula without touching bytes, so a decode bug (wrong endianness,
off-by-one sample count, bad sign handling) breaks the value hash.

Statistics are chosen to be engine-exact:
- ``n_samples``/``peak`` are integers;
- ``amp_mean`` and the mean of squares are exact-integer sums (< 2^53)
  divided once — identical doubles in any IEEE engine; ``rms`` adds one
  correctly-rounded sqrt;
- ``zero_crossings`` counts sign boundaries ((s_i >= 0) != (s_{i+1} >= 0))
  — pure integer logic.

Scale shape: one mapInPandas projection, zero shuffles, audio bytes never
enter a shuffle — the same execution contract as image/html decode. A
production deployment swaps in soundfile/ffmpeg for compressed codecs
inside the same batch shape.
"""

from __future__ import annotations

import struct
import zlib
from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from readability_spark.operators.batches import arrow_map
from readability_spark.operators.multimodal import build_wav

AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("amp_mean", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", IntegerType(), True),
        StructField("zero_crossings", LongType(), True),
        StructField("ok", BooleanType(), True),
    ]
)


def synth_sample(doc_id: int, i: int) -> int:
    """Closed-form int16 sample — keep in sync with the oracle."""
    return (doc_id * 31 + i * 17) % 65536 - 32768


def synth_audio_params(doc_id: int, max_n: int = 400) -> Tuple[int, int]:
    """(sample_rate, n_samples) per doc."""
    return 8000 * (1 + doc_id % 3), doc_id % max_n + 50


def decode_wav_pcm16(b: bytes) -> Tuple[int, List[int]]:
    """RIFF walk → (sample_rate, int16 samples). Mono 16-bit PCM only;
    raises ValueError on anything malformed."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not RIFF/WAVE")
    pos, end = 12, min(len(b), 8 + struct.unpack_from("<I", b, 4)[0])
    rate = bits = channels = None
    data = None
    while pos + 8 <= end:
        tag = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        if pos + 8 + size > len(b):
            raise ValueError("truncated chunk")
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt_code, channels, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", b, pos + 8
            )
            if fmt_code != 1:
                raise ValueError("not PCM")
        elif tag == b"data":
            data = b[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16 or channels != 1:
        raise ValueError("only mono 16-bit PCM supported")
    if len(data) % 2:
        raise ValueError("odd PCM byte count")
    n = len(data) // 2
    return rate, list(struct.unpack(f"<{n}h", data))


def synthesize_audio(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload): real mono PCM16 WAVs whose samples are
    the deterministic closed form of :func:`synth_sample`."""
    from pyspark.sql.types import BinaryType

    out_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("payload", BinaryType(), True),
        ]
    )

    def per_row(doc_id):
        d = int(doc_id)
        rate, n = synth_audio_params(d)
        pcm = struct.pack(f"<{n}h", *(synth_sample(d, i) for i in range(n)))
        return ((d, build_wav(rate, n, data=pcm)),)

    return arrow_map(docs, ["doc_id"], per_row, out_schema)


def resample_box_pcm16(samples, k: int):
    """Exact decimation by integer factor ``k``: output sample j is
    floor(mean) of input frame [j*k, (j+1)*k) — integer sum, one floor
    division toward -inf (Python ``//`` == SQL ``floor(x/k)``), trailing
    partial frame dropped. The box average is the standard anti-aliasing
    low-pass for integer-factor downsampling."""
    n_out = len(samples) // k
    return [
        int(sum(samples[j * k : (j + 1) * k])) // k for j in range(n_out)
    ]


def audio_resample(audio: DataFrame, target_rate: int = 8000) -> DataFrame:
    """Arrow-batched WAV resample: decode → integer-factor box decimation to
    ``target_rate`` → re-encode as a real mono PCM16 WAV. The audio
    counterpart of the PNG thumbnail pass: model front-ends want one fixed
    rate, and the resampled bytes are ~1/k of the input, so only the small
    stream reaches downstream stages.

    Returns ``(doc_id, src_rate, out_rate, n_in, payload, ok)``; inputs
    whose rate is not an integer multiple of ``target_rate`` and malformed
    payloads yield ok=False (isolation contract as everywhere else).

    Scale shape: one mapInPandas projection, zero shuffles."""
    from pyspark.sql.types import BinaryType

    out_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("src_rate", IntegerType(), True),
            StructField("out_rate", IntegerType(), True),
            StructField("n_in", LongType(), True),
            StructField("payload", BinaryType(), True),
            StructField("ok", BooleanType(), True),
        ]
    )

    cols = out_schema.fieldNames()

    def per_row(doc_id, payload):
        row = dict.fromkeys(cols)
        row["doc_id"], row["ok"] = int(doc_id), False
        try:
            rate, samples = decode_wav_pcm16(bytes(payload) if payload is not None else b"")
            if rate % target_rate:
                raise ValueError("rate not an integer multiple")
            k = rate // target_rate
            out = resample_box_pcm16(samples, k)
            pcm = struct.pack(f"<{len(out)}h", *out)
            row.update(
                src_rate=rate,
                out_rate=target_rate,
                n_in=len(samples),
                payload=build_wav(target_rate, len(out), data=pcm),
                ok=True,
            )
        except (ValueError, struct.error):
            pass
        return (row,)

    return arrow_map(audio, ["doc_id", "payload"], per_row, out_schema)


def audio_sample_stats(audio: DataFrame) -> DataFrame:
    """Arrow-batched WAV decode + signal stats: (doc_id, sample_rate,
    n_samples, amp_mean, rms, peak, zero_crossings, ok). Malformed payloads
    yield ok=False rows."""

    import math

    import numpy as np

    cols = AUDIO_STATS_SCHEMA.fieldNames()

    def per_row(doc_id, payload):
        row = dict.fromkeys(cols)
        row["doc_id"], row["ok"] = int(doc_id), False
        try:
            rate, samples = decode_wav_pcm16(bytes(payload) if payload is not None else b"")
            arr = np.asarray(samples, dtype=np.int64)
            n = len(arr)
            if n == 0:
                # A structurally valid WAV with an empty data chunk decodes
                # fine but has no stats; keep the ok=False isolation contract
                # instead of dividing by zero.
                raise ValueError("empty data chunk")
            nonneg = arr >= 0
            row.update(
                sample_rate=rate,
                n_samples=n,
                amp_mean=float(arr.sum()) / n,
                rms=math.sqrt(float((arr * arr).sum()) / n),
                peak=int(np.abs(arr).max()),
                zero_crossings=int((nonneg[1:] != nonneg[:-1]).sum()),
                ok=True,
            )
        except (ValueError, struct.error, zlib.error):
            pass
        return (row,)

    return arrow_map(audio, ["doc_id", "payload"], per_row, AUDIO_STATS_SCHEMA)


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("fp_hi", LongType(), True),
        StructField("fp_lo", LongType(), True),
        StructField("ok", BooleanType(), True),
    ]
)

#: Fingerprint frame count — 65 frames give 64 energy-delta bits.
FP_FRAMES = 65


def fingerprint_pcm16(samples) -> Tuple[int, int]:
    """(fp_hi, fp_lo) of a PCM16 sample sequence — the pure bit math of
    :func:`audio_fingerprint`, shared by the Arrow batch closure and the
    property tests. Raises ValueError on an empty sequence (no deltas to
    sign)."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    n = len(arr)
    if n == 0:
        raise ValueError("empty sample sequence")
    frames = (np.arange(n, dtype=np.int64) * FP_FRAMES) // n
    energy = np.zeros(FP_FRAMES, dtype=np.int64)
    np.add.at(energy, frames, arr * arr)
    bits = energy[1:] > energy[:-1]  # 64 bools
    lo = sum(1 << j for j in range(32) if bits[j])
    hi = sum(1 << j for j in range(32) if bits[32 + j])
    return int(hi), int(lo)


def audio_fingerprint(audio: DataFrame) -> DataFrame:
    """64-bit acoustic fingerprint per WAV: sample ``i`` lands in frame
    ``(i * 65) // n``, frame energy is the exact integer sum of squared
    samples, and bit ``b`` is set iff ``E[b+1] > E[b]`` — the
    sign-of-energy-delta scheme (a Haitsma–Kalker–style robust hash reduced
    to its time axis). Re-encoded or slightly renoised audio keeps most
    delta signs, so near copies land within a few bits — the audio analogue
    of the image aHash.

    Returned as two 32-bit halves ``(fp_hi, fp_lo)`` (bits 32-63 / 0-31,
    the simhash64/aHash convention) so the banded Hamming machinery applies
    unchanged. Energies stay < 2^39 for any WAV this decoder accepts, so
    the arithmetic is integer-exact on both engines. Docs shorter than 65
    samples leave the skipped frames at energy 0 (deterministic); malformed
    or empty payloads yield ``ok=False``.

    Scale shape: one mapInPandas projection, zero shuffles — the same
    execution contract as the decode/stats operators.
    """

    cols = AUDIO_FP_SCHEMA.fieldNames()

    def per_row(doc_id, payload):
        row = dict.fromkeys(cols)
        row["doc_id"], row["ok"] = int(doc_id), False
        try:
            _rate, samples = decode_wav_pcm16(bytes(payload) if payload is not None else b"")
            hi, lo = fingerprint_pcm16(samples)
            row.update(fp_hi=hi, fp_lo=lo, ok=True)
        except (ValueError, struct.error, zlib.error):
            pass
        return (row,)

    return arrow_map(audio, ["doc_id", "payload"], per_row, AUDIO_FP_SCHEMA)


def audio_near_dup(
    fp: DataFrame, max_hamming: int = 3, bucket_cap: int = 64
) -> DataFrame:
    """Near-duplicate audio pairs over :func:`audio_fingerprint` output —
    the audio leg of the text/image/audio near-dup triple, all through
    :func:`~readability_spark.operators.dedup.hash64_near_pairs` (4×16-bit
    banding, hot-bucket refinement, popcount verify; scale analysis in
    BENCH/CARDINALITY.md). ``ok=false`` rows are excluded.

    Output: ``id_a, id_b, hamming`` (``id_a < id_b``).
    """
    from readability_spark.operators.dedup import hash64_near_pairs

    return hash64_near_pairs(
        _fp_sig(fp), max_hamming=max_hamming, bucket_cap=bucket_cap
    )


def _fp_sig(fp: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return fp.filter(F.col("ok")).select(
        "doc_id",
        F.col("fp_hi").alias("sim_hi"),
        F.col("fp_lo").alias("sim_lo"),
    )


def audio_dup_edges(
    fp: DataFrame, max_hamming: int = 3, bucket_cap: int = 64
) -> DataFrame:
    """Star-reduced connectivity edges over the audio fingerprint near-pair
    relation — same components as :func:`audio_near_dup` with an edge count
    linear in duplicate-flood sizes (dedup.hash64_cluster_edges)."""
    from readability_spark.operators.dedup import hash64_cluster_edges

    return hash64_cluster_edges(
        _fp_sig(fp), max_hamming=max_hamming, bucket_cap=bucket_cap
    )
