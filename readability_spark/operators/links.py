"""Outlink extraction + host-level link graph.

A crawl pipeline needs the link structure as much as the text: outlinks
drive frontier expansion, host graphs drive crawl prioritization and spam
domain detection, and PageRank-style scores weight corpus sampling.

- :func:`extract_outlinks` rides the same DOM machinery as article
  extraction (one parse per page inside an Arrow batch map), resolving hrefs
  against the document's base URL exactly the way the reference resolves
  relative URIs (``core/urls.DocumentUrl`` — honoring ``<base href>``, cf.
  reference DocumentUrl.cs:16-42). Fragments-only, javascript: and data:
  hrefs are skipped; anchor text is the element's normalized inner text.
- :func:`host_graph` collapses page-level links to a weighted host→host
  edge list — one groupBy (map-side combined), the natural 10^12→10^7
  reduction step before any graph algorithm runs.

Scale shape: extraction is a shuffle-free projection; the host graph is
one shuffle keyed on (src_host, dst_host) whose cardinality is bounded by
host-pair count, not page count. PageRank over the result lives in
``operators/graph.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from readability_spark.operators.batches import arrow_map

OUTLINK_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("href", StringType(), True),
        StructField("anchor", StringType(), True),
    ]
)


def outlinks_of_html(url: str, html) -> list:
    """(href_absolute, anchor_text) pairs for one page; never raises."""
    from readability_spark.core.urls import DocumentUrl
    from readability_spark.dom.parser import parse_html

    try:
        doc = parse_html(html, base_uri=url)
        doc_url = DocumentUrl.from_document(doc, explicit_uri=url) or DocumentUrl(url)
        out = []
        for a in doc.get_elements_by_tag_name("a"):
            href = (a.get_attr("href") or "").strip()
            if not href or href.startswith("#"):
                continue
            low = href.lower()
            if low.startswith(("javascript:", "data:", "mailto:")):
                continue
            try:
                absolute = doc_url.to_absolute(href)
            except Exception:  # noqa: BLE001 — malformed href
                continue
            anchor = " ".join(a.text_content.split())
            out.append((absolute, anchor))
        return out
    except Exception:  # noqa: BLE001 — per-doc isolation
        return []


def extract_outlinks(df: DataFrame) -> DataFrame:
    """(url, html) pages → one row per outlink (url, href, anchor)."""

    def per_row(u, h):
        return [(u, href, anchor) for href, anchor in outlinks_of_html(u, h)]

    return arrow_map(df, ["url", "html"], per_row, OUTLINK_SCHEMA)


def host_graph(links: DataFrame, url_col: str = "url", href_col: str = "href") -> DataFrame:
    """Page-level links → weighted host edge list
    (src_host, dst_host, n_links). Self-loops kept (intra-host nav is a
    real signal); drop them downstream if the algorithm requires."""
    from readability_spark.operators.urltools import host_of

    return (
        links.select(
            host_of(F.col(url_col)).alias("src_host"),
            host_of(F.col(href_col)).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def anchor_profile(
    links: DataFrame,
    href_col: str = "href",
    anchor_col: str = "anchor",
    src_col: str = "url",
) -> DataFrame:
    """Inbound anchor-text profile per link target — the classic web-search
    signal that the *linking* pages describe the target better than the
    target describes itself (used for dead-page titling, spam-anchor
    detection, and query-independent relevance priors).

    Output: (href, n_links, n_src_hosts, n_distinct_anchors, top_anchor,
    top_anchor_n) — top_anchor is the modal anchor string, ties broken
    lexicographically.

    Scale shape: the modal-anchor side pre-aggregates to (href, anchor)
    counts first — a map-side-combined shuffle — so the ranking window
    sorts *distinct anchors per target*, not raw inbound links (a page
    with 10^9 identical "click here" inlinks contributes one row). The
    totals side is one groupBy(href) with two exact count-distincts; both
    sides land hash-partitioned on href so the final join is co-located.
    If distinct-anchor cardinality per target is itself adversarial, cap
    it upstream with the salted two-phase rank (snapshots.domain_top_k
    shape).
    """
    from readability_spark.operators.urltools import host_of

    per_anchor = (
        links.groupBy(F.col(href_col).alias("href"), F.col(anchor_col).alias("anchor"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("href").orderBy(F.col("n").desc(), F.col("anchor").asc())
    top = (
        per_anchor.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("href", F.col("anchor").alias("top_anchor"), F.col("n").alias("top_anchor_n"))
    )
    totals = (
        links.select(
            F.col(href_col).alias("href"),
            host_of(F.col(src_col)).alias("_src_host"),
            F.col(anchor_col).alias("_anchor"),
        )
        .groupBy("href")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("_src_host").alias("n_src_hosts"),
            F.countDistinct("_anchor").alias("n_distinct_anchors"),
        )
    )
    return totals.join(top, "href").select(
        "href", "n_links", "n_src_hosts", "n_distinct_anchors", "top_anchor", "top_anchor_n"
    )
