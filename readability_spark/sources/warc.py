"""Common-Crawl-style WARC source: record writer + distributed record parser.

The north rule's corpus is "Common-Crawl-style web pages"; the on-disk form
of that corpus is WARC (ISO/IEC 28500, a public format): a stream of
records, each a header block (``WARC/1.0`` + name:value lines, terminated by
a blank line) followed by ``Content-Length`` payload bytes and a blank-line
record terminator. Common Crawl compresses **each record as its own gzip
member**, concatenated — that convention is what makes a 1 GB ``.warc.gz``
splittable: a reader can start at any member boundary and stream forward
without seeing the bytes before it.

This module provides both directions, fully distributed:

- :func:`synthesize_warc_files` — build valid ``.warc.gz`` file blobs from
  the deterministic page table (``sources/pages.py``), one gzip member per
  record, ``warcinfo`` header record first, gzip mtime pinned to 0 so the
  bytes are reproducible. ``applyInPandas`` per file group; every field is a
  deterministic function of ``doc_id`` so the DuckDB oracle can verify the
  full write → parse round trip byte-exactly (md5 of the recovered html).
- :func:`parse_warc_files` — an Arrow batch map over ``(warc_file, content)``
  blobs: walk gzip members (``zlib.decompressobj`` + ``unused_data``),
  parse each record's headers, extract HTTP status/headers/body from
  ``response`` records, and emit the input-hint row shape
  ``(url, warc_ts, html, ...)``. Non-response records (warcinfo, request,
  metadata) are counted but not emitted. Per-record failures isolate to an
  ``ok=false`` row — one corrupt record never fails a task (same failure
  contract as the extraction UDF).

Scale shape: parsing is a pure Arrow batch projection — no shuffle; at
cluster scale the blob column comes from ``spark.read.format("binaryFile")``
over the WARC bucket (or an Iceberg table of (path, content)), and
parallelism is one task per file, the natural unit because gzip members
chain within a file. Memory is bounded by one decompressed record at a
time plus the raw blob. A true petabyte deployment would swap the in-memory
blob for ranged streaming from object storage; the record walk below is
already incremental so only that IO layer changes.
"""

from __future__ import annotations

import gzip
import zlib
from datetime import datetime
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from readability_spark.operators.batches import arrow_map

WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("warc_file", StringType(), True),
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("status", IntegerType(), True),
        StructField("content_type", StringType(), True),
        StructField("html", BinaryType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# record building (writer side)
# ---------------------------------------------------------------------------

def build_http_response(
    body: bytes, status: int = 200, content_type: str = "text/html; charset=UTF-8"
) -> bytes:
    reason = {200: "OK", 404: "Not Found", 301: "Moved Permanently"}.get(status, "OK")
    head = (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    )
    return head.encode("ascii") + body


def build_warc_record(
    record_type: str,
    payload: bytes,
    *,
    url: Optional[str] = None,
    date: str = "2025-04-04T00:00:00Z",
    record_id: str = "<urn:x-synth:0>",
    content_type: str = "application/http; msgtype=response",
) -> bytes:
    """One uncompressed WARC/1.0 record: header block + payload + CRLF CRLF."""
    lines = [
        "WARC/1.0",
        f"WARC-Type: {record_type}",
        f"WARC-Record-ID: {record_id}",
        f"WARC-Date: {date}",
    ]
    if url is not None:
        lines.append(f"WARC-Target-URI: {url}")
    lines.append(f"Content-Type: {content_type}")
    lines.append(f"Content-Length: {len(payload)}")
    head = ("\r\n".join(lines) + "\r\n\r\n").encode("ascii")
    return head + payload + b"\r\n\r\n"


def build_response_record(url: str, date: str, html: bytes) -> bytes:
    return build_warc_record(
        "response",
        build_http_response(html),
        url=url,
        date=date,
        record_id=f"<urn:x-synth:{url}>",
    )


def gzip_member(record: bytes) -> bytes:
    """One record as its own gzip member (mtime=0 → reproducible bytes)."""
    return gzip.compress(record, mtime=0)


# ---------------------------------------------------------------------------
# synthesis: deterministic .warc.gz blobs from the page table
# ---------------------------------------------------------------------------

def synthesize_warc_files(
    spark: SparkSession, sf_dir: str, n_files: int = 16, compress: bool = True
) -> DataFrame:
    """Page table → (warc_file, content, n_records). One row per WARC file;
    records within a file are the file's docs in doc_id order, preceded by a
    warcinfo record. File assignment is doc_id % n_files — deterministic
    and balanced (the synthetic doc_ids are dense)."""
    from readability_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir).withColumn(
        "doc_id", F.regexp_extract("url", r"/doc/(\d+)\.html$", 1).cast("long")
    )
    out_schema = StructType(
        [
            StructField("warc_file", StringType(), False),
            StructField("content", BinaryType(), False),
            StructField("n_records", IntegerType(), False),
        ]
    )

    def build_file(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["file_id"].iloc[0])
        name = f"crawl-{fid:05d}.warc{'.gz' if compress else ''}"
        info = build_warc_record(
            "warcinfo",
            b"software: readability-spark-synth\r\nformat: WARC File Format 1.0\r\n",
            record_id=f"<urn:x-synth:warcinfo:{fid}>",
            content_type="application/warc-fields",
        )
        parts = [gzip_member(info) if compress else info]
        for url, ts, html in zip(
            pdf["url"].to_numpy(), pdf["warc_ts"].to_numpy(), pdf["html"].to_numpy()
        ):
            date = pd.Timestamp(ts).strftime(WARC_DATE_FMT)
            rec = build_response_record(url, date, bytes(html))
            parts.append(gzip_member(rec) if compress else rec)
        return pd.DataFrame(
            [{"warc_file": name, "content": b"".join(parts), "n_records": len(parts)}]
        )

    return (
        pages.withColumn("file_id", F.col("doc_id") % n_files)
        .groupBy("file_id")
        .applyInPandas(lambda _key, pdf: build_file(pdf), out_schema)
    )


# ---------------------------------------------------------------------------
# parsing (reader side)
# ---------------------------------------------------------------------------

def iter_warc_records(blob: bytes):
    """Yield (headers: dict, payload: bytes) for each record in a WARC blob,
    transparently walking concatenated gzip members. Incremental: one
    decompressed member held at a time."""
    pos = 0
    n = len(blob)
    while pos < n:
        if blob[pos : pos + 2] == b"\x1f\x8b":
            d = zlib.decompressobj(32 + 15)  # gzip member, auto header
            chunk = d.decompress(blob[pos:])
            consumed = (n - pos) - len(d.unused_data)
            if consumed <= 0:
                raise ValueError("gzip member did not advance")
            pos += consumed
        else:
            chunk = blob[pos:]
            pos = n
        yield from _iter_records_uncompressed(chunk)


def _iter_records_uncompressed(chunk: bytes):
    pos = 0
    n = len(chunk)
    while pos < n:
        while pos < n and chunk[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        head_end = chunk.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("truncated WARC header block")
        head = chunk[pos:head_end].decode("ascii", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line: {lines[0][:40]!r}")
        headers = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError(f"bad Content-Length: {exc}") from exc
        body_start = head_end + 4
        if body_start + clen > n:
            raise ValueError("truncated WARC payload")
        yield headers, chunk[body_start : body_start + clen]
        pos = body_start + clen


def parse_http_response(payload: bytes):
    """HTTP response payload → (status, content_type, body)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("no HTTP header/body separator")
    head = payload[:sep].decode("ascii", "replace")
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"bad HTTP status line: {lines[0][:40]!r}")
    status = int(parts[1])
    ctype = None
    for line in lines[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
    return status, ctype, payload[sep + 4 :]


def parse_warc_files(df: DataFrame, content_col: str = "content") -> DataFrame:
    """(warc_file, content) blobs → WARC_RECORD_SCHEMA response rows.

    Pure Arrow batch map — no shuffle; only (warc_file, content) are shipped to
    Python. A blob that fails mid-walk emits one ok=false row carrying the
    error; records already yielded from it are kept (restart-friendly:
    downstream exact dedup absorbs replays)."""

    def failed(name, url, exc) -> dict:
        return {
            "warc_file": name,
            "url": url,
            "warc_ts": None,
            "status": None,
            "content_type": None,
            "html": None,
            "n_bytes": None,
            "ok": False,
            "err": f"{type(exc).__name__}: {exc}"[:500],
        }

    def per_row(name, blob):
        try:
            for headers, payload in iter_warc_records(bytes(blob)):
                if headers.get("warc-type") != "response":
                    continue
                url = headers.get("warc-target-uri")
                try:
                    status, ctype, body = parse_http_response(payload)
                    date = headers.get("warc-date")
                    yield {
                        "warc_file": name,
                        "url": url,
                        "warc_ts": None
                        if date is None
                        else datetime.strptime(date, WARC_DATE_FMT),
                        "status": status,
                        "content_type": ctype,
                        "html": body,
                        "n_bytes": len(body),
                        "ok": True,
                        "err": None,
                    }
                except Exception as exc:  # noqa: BLE001 — record isolation
                    yield failed(name, url, exc)
        except Exception as exc:  # noqa: BLE001 — blob isolation
            yield failed(name, None, exc)

    return arrow_map(df, ["warc_file", content_col], per_row, WARC_RECORD_SCHEMA)
