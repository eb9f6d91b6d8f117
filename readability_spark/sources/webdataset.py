"""WebDataset-style tar shard sink + source — the training-data hand-off.

A curated corpus leaves this engine as *shards*: fixed-count tar archives
(the WebDataset convention — one ``{key}.txt`` member per sample,
samples sorted by key, uncompressed USTAR) that training loaders stream
sequentially. The reference repo stops at per-document extraction
(``Readability/ArticleCandidate.cs``); this module is part of the
pipeline surface a 100-TB training run needs downstream of it.

Scale shape
-----------
* Shard assignment is a pure column expression — the md5-based 32-bit
  hash of the key (portable across engines, the repo-wide ``unit_hash``
  discipline) mod ``n_shards``; partition-independent and deterministic,
  so re-runs and retries land every sample in the same shard.
* Building is ONE ``groupBy(shard_id)`` shuffle feeding
  ``applyInPandas``; each task materializes exactly one shard in memory,
  so ``n_shards`` is the memory knob — size shards to the WebDataset-
  conventional 0.1–1 GB (at 100 TB that is ~10^5–10^6 shards, far above
  any practical parallelism, so the shuffle stays balanced).
* Writing happens INSIDE the shard task (write-to-temp + atomic rename,
  the same task-commit shape Spark's own file sinks use) — shard bytes
  never route through the driver.
* Parsing back is a shuffle-free Arrow batch projection.

Determinism as a correctness lever: members are sorted by key and every
tar header field is pinned (mtime=0, uid/gid=0, empty uname/gname,
USTAR format), so the shard BYTES are a pure function of the corpus —
and their exact LENGTH is closed-form arithmetic over member sizes
(512-byte header + payload rounded up to 512 per member, + 1024
end-of-archive, padded to the 10240-byte record size). The manifest's
``tar_bytes`` is *measured* from the built archive on the Spark side
and *recomputed arithmetically* by the DuckDB oracle — an independent
end-to-end check that the sink writes exactly the bytes it should.
"""

from __future__ import annotations

import io
import os
import tarfile

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from readability_spark.operators.batches import arrow_map

# one manifest row per non-empty shard
MANIFEST_SCHEMA = (
    "shard_id int, n_samples bigint, payload_bytes bigint, tar_bytes bigint"
)
SAMPLE_SCHEMA = "shard_id int, doc_id bigint, text string"

_BLOCK = 512
_RECORD = 10240  # tarfile.RECORDSIZE: archives are padded to this


def shard_assign(key_col: str = "doc_id", n_shards: int = 8) -> Column:
    """Deterministic shard id: md5-based 32-bit hash of the key, mod n.

    Same conv()-of-md5-hex trick as sampling.unit_hash — value-identical
    to the oracle's nibble arithmetic, independent of partitioning.
    """
    h32 = F.expr(
        f"cast(conv(substr(md5(cast({key_col} as string)), 1, 8), 16, 10) as bigint)"
    )
    return F.pmod(h32, F.lit(n_shards)).cast("int")


def predicted_tar_bytes(sizes: "list[int]") -> int:
    """Closed-form archive length for member payload sizes (test helper)."""
    body = sum(_BLOCK + -(-s // _BLOCK) * _BLOCK for s in sizes) + 2 * _BLOCK
    return -(-body // _RECORD) * _RECORD


def _build_tar(keys: "list[int]", payloads: "list[bytes]") -> bytes:
    """Deterministic uncompressed USTAR archive: one {key:012d}.txt per
    sample, all header fields pinned so bytes are reproducible."""
    bio = io.BytesIO()
    with tarfile.open(fileobj=bio, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for key, data in zip(keys, payloads):
            ti = tarfile.TarInfo(name=f"{key:012d}.txt")
            ti.size = len(data)
            ti.mtime = 0
            ti.mode = 0o644
            ti.uid = ti.gid = 0
            ti.uname = ti.gname = ""
            tf.addfile(ti, io.BytesIO(data))
    return bio.getvalue()


def build_webdataset_shards(
    docs: DataFrame,
    n_shards: int = 8,
    out_dir: "str | None" = None,
) -> DataFrame:
    """(shard_id, n_samples, payload_bytes, tar_bytes) per non-empty shard.

    With ``out_dir`` set, each shard task also writes its archive to
    ``{out_dir}/shard-{id:05d}.tar`` (temp file + atomic rename, so a
    retried task can never leave a torn shard).
    """
    import pandas as pd

    assigned = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        shard_assign("doc_id", n_shards).alias("shard_id"),
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        keys = [int(k) for k in pdf["doc_id"]]
        payloads = [t.encode("utf-8") for t in pdf["text"]]
        blob = _build_tar(keys, payloads)
        sid = int(pdf["shard_id"].iloc[0])
        if out_dir is not None:
            os.makedirs(out_dir, exist_ok=True)
            final = os.path.join(out_dir, f"shard-{sid:05d}.tar")
            tmp = final + ".inprogress"
            with open(tmp, "wb") as fh:
                fh.write(blob)
            os.replace(tmp, final)
        return pd.DataFrame(
            [
                {
                    "shard_id": sid,
                    "n_samples": len(keys),
                    "payload_bytes": sum(len(p) for p in payloads),
                    "tar_bytes": len(blob),
                }
            ]
        )

    return assigned.groupBy("shard_id").applyInPandas(build, schema=MANIFEST_SCHEMA)


def write_webdataset(docs: DataFrame, out_dir: str, n_shards: int = 8) -> DataFrame:
    """Materialize the shard files and return the manifest."""
    return build_webdataset_shards(docs, n_shards=n_shards, out_dir=out_dir)


def parse_webdataset(shards: DataFrame, tar_col: str = "tar") -> DataFrame:
    """(shard_id, doc_id, text) back out of shard archives — shuffle-free
    Arrow batch map over (shard_id, tar) rows; the source side of the sink."""

    def per_row(sid, blob):
        with tarfile.open(fileobj=io.BytesIO(bytes(blob)), mode="r:") as tf:
            for member in tf.getmembers():
                data = tf.extractfile(member).read()
                yield (int(sid), int(member.name.split(".")[0]), data.decode("utf-8"))

    return arrow_map(shards, ["shard_id", tar_col], per_row, StructType.fromDDL(SAMPLE_SCHEMA))


def build_webdataset_blobs(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """(shard_id, tar) rows — the in-flight form for round-trip checks and
    for sinks that forward blobs elsewhere (object store multipart, WARC
    re-containering) instead of a local directory."""
    import pandas as pd

    assigned = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        shard_assign("doc_id", n_shards).alias("shard_id"),
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        keys = [int(k) for k in pdf["doc_id"]]
        payloads = [t.encode("utf-8") for t in pdf["text"]]
        return pd.DataFrame(
            [{"shard_id": int(pdf["shard_id"].iloc[0]), "tar": _build_tar(keys, payloads)}]
        )

    return assigned.groupBy("shard_id").applyInPandas(
        build, schema="shard_id int, tar binary"
    )
