"""Gzip-JSONL shard sink + source — the other standard training-data
hand-off next to WebDataset tar (sources/webdataset.py).

JSONL(.gz) is the de-facto interchange format for LLM corpora (C4, The
Pile, RedPajama, Dolma all ship it): one JSON object per line, sharded
into fixed-count gzip files that loaders stream sequentially. The
reference repo stops at per-document extraction; this module is part of
the pipeline surface a training run needs downstream of it.

Scale shape (same discipline as the tar sink)
---------------------------------------------
* Shard assignment is the shared md5-based pure column expression
  (webdataset.shard_assign) — partition-independent and deterministic,
  so retries land every doc in the same shard.
* Building is ONE ``groupBy(shard_id)`` shuffle feeding
  ``applyInPandas``; each task materializes exactly one shard, so
  ``n_shards`` is the memory knob (size shards to the conventional
  0.1-1 GB; at 100 TB that is ~10^5-10^6 shards, far above any
  practical parallelism, so the shuffle stays balanced).
* Writing happens INSIDE the shard task (temp file + atomic rename —
  the task-commit shape Spark's own sinks use); bytes never route
  through the driver.
* Parsing back is a shuffle-free Arrow batch projection.

Determinism as a correctness lever: lines are sorted by doc_id, the
JSON serialization is pinned (fixed key order doc_id/lang/source/text,
no whitespace, ensure_ascii), and gzip is written with mtime=0 at a
fixed level, so shard bytes are a pure function of the corpus. The
manifest's ``payload_bytes`` (UNCOMPRESSED jsonl length) is *measured*
on the Spark side and *recomputed* by the DuckDB oracle, which rebuilds
the identical line text with string concatenation — an independent
end-to-end check of the serialization. (The oracle's concatenation
assumes text needing no JSON escaping, which the synthetic corpus
satisfies; the operator itself escapes correctly for arbitrary text —
pinned in tests/test_jsonl.py.) ``gz_bytes`` is reported for operators
but not oracle-checked — compressed length is a zlib implementation
property, not closed-form.
"""

from __future__ import annotations

import gzip
import io
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from readability_spark.operators.batches import arrow_map
from readability_spark.sources.webdataset import shard_assign

MANIFEST_SCHEMA = (
    "shard_id int, n_docs bigint, payload_bytes bigint, gz_bytes bigint"
)
SAMPLE_SCHEMA = (
    "shard_id int, doc_id bigint, lang string, source string, text string"
)

_GZ_LEVEL = 6


def _encode_lines(pdf) -> "tuple[int, list[bytes]]":
    """(shard_id, doc_id-sorted encoded JSON lines) for one shard group."""
    pdf = pdf.sort_values("doc_id")
    lines = []
    for doc_id, lang, source, text in zip(
        pdf["doc_id"], pdf["lang"], pdf["source"], pdf["text"]
    ):
        # pinned serialization: fixed key order, no whitespace, ascii —
        # line bytes are a pure function of the row
        obj = {
            "doc_id": int(doc_id),
            "lang": str(lang),
            "source": str(source),
            "text": "" if text is None else str(text),
        }
        lines.append(
            (json.dumps(obj, separators=(",", ":"), ensure_ascii=True) + "\n").encode(
                "utf-8"
            )
        )
    return int(pdf["shard_id"].iloc[0]), lines


def _gzip_bytes(payload: bytes) -> bytes:
    bio = io.BytesIO()
    # mtime=0: gzip headers embed a timestamp; pin it so shard bytes are
    # reproducible across runs (the same move as tar's mtime=0)
    with gzip.GzipFile(fileobj=bio, mode="wb", compresslevel=_GZ_LEVEL, mtime=0) as gz:
        gz.write(payload)
    return bio.getvalue()


def _assigned(docs: DataFrame, n_shards: int) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        shard_assign("doc_id", n_shards).alias("shard_id"),
    )


def build_jsonl_shards(
    docs: DataFrame,
    n_shards: int = 8,
    out_dir: "str | None" = None,
) -> DataFrame:
    """(shard_id, n_docs, payload_bytes, gz_bytes) per non-empty shard.

    With ``out_dir`` set, each shard task also writes its archive to
    ``{out_dir}/shard-{id:05d}.jsonl.gz`` (temp file + atomic rename, so
    a retried task can never leave a torn shard)."""
    import pandas as pd

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sid, lines = _encode_lines(pdf)
        payload = b"".join(lines)
        blob = _gzip_bytes(payload)
        if out_dir is not None:
            os.makedirs(out_dir, exist_ok=True)
            final = os.path.join(out_dir, f"shard-{sid:05d}.jsonl.gz")
            tmp = final + ".inprogress"
            with open(tmp, "wb") as fh:
                fh.write(blob)
            os.replace(tmp, final)
        return pd.DataFrame(
            [
                {
                    "shard_id": sid,
                    "n_docs": len(lines),
                    "payload_bytes": len(payload),
                    "gz_bytes": len(blob),
                }
            ]
        )

    return (
        _assigned(docs, n_shards)
        .groupBy("shard_id")
        .applyInPandas(build, schema=MANIFEST_SCHEMA)
    )


def write_jsonl(docs: DataFrame, out_dir: str, n_shards: int = 8) -> DataFrame:
    """Materialize the shard files and return the manifest."""
    return build_jsonl_shards(docs, n_shards=n_shards, out_dir=out_dir)


def build_jsonl_blobs(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """(shard_id, gz) rows — the in-flight form for round-trip checks and
    for sinks that forward blobs elsewhere (object-store multipart)."""
    import pandas as pd

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sid, lines = _encode_lines(pdf)
        return pd.DataFrame([{"shard_id": sid, "gz": _gzip_bytes(b"".join(lines))}])

    return (
        _assigned(docs, n_shards)
        .groupBy("shard_id")
        .applyInPandas(build, schema="shard_id int, gz binary")
    )


def parse_jsonl(shards: DataFrame, gz_col: str = "gz") -> DataFrame:
    """(shard_id, doc_id, lang, source, text) back out of gzip-JSONL shard
    blobs — a shuffle-free Arrow batch map; the source side of the sink."""

    def per_row(sid, blob):
        for line in gzip.decompress(bytes(blob)).splitlines():
            obj = json.loads(line)
            yield (int(sid), int(obj["doc_id"]), obj["lang"], obj["source"], obj["text"])

    return arrow_map(shards, ["shard_id", gz_col], per_row, StructType.fromDDL(SAMPLE_SCHEMA))
