"""HTML table inventory: per-table structure stats + data-table verdict.

Web-scale use: tables are the highest-value structured payload in a crawl
(statistics, schedules, specs) and the highest-volume layout noise (nav
grids, spacer tables). A training-data pipeline wants BOTH signals — keep
data tables as structured text, drop presentation tables as boilerplate —
and the split is exactly the reference's ``IsDataTable`` heuristic
(reference: src/Readability.cs \"MarkDataTables\" /
Readability.js _markDataTables; reimplemented at
core/readability.py:1142-1180), applied here standalone over the raw page
DOM rather than inside the extraction cleanup pass.

Spark-first shape (same contract as operators/extract.py):

- one Arrow batch map over (url, html) (``operators.batches``) — the DOM parse and
  the table walk happen inside the Python worker, nothing tree-shaped
  crosses the JVM boundary; output rows are flat scalars;
- per-document failure isolation: a malformed page yields zero table rows,
  never a task failure;
- pure function of html bytes — deterministic under repartitioning and
  retries, so the plan is a single narrow stage (scan → Python map); any
  downstream groupBy (e.g. data-table share per host) is the only shuffle.

At 100 TB this runs as a side-channel of the same scan the extraction job
does — in production you fuse it into the extract pass's UDF (one parse
serves both); it is standalone here so the verdict chain is independently
oracle-checkable.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from readability_spark.operators.batches import arrow_map

TABLE_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("table_idx", IntegerType(), False),
        StructField("n_rows", IntegerType(), False),
        StructField("n_cols", IntegerType(), False),
        StructField("has_caption", BooleanType(), False),
        StructField("has_header", BooleanType(), False),
        StructField("presentation", BooleanType(), False),
        StructField("nested", BooleanType(), False),
        StructField("is_data_table", BooleanType(), False),
        StructField("cell_chars", LongType(), False),
    ]
)


def _table_verdict(table) -> tuple:
    """The reference's MarkDataTables decision chain on ONE <table> Element
    (core/readability.py:1142-1173 order, byte-for-byte same rules), plus
    the structural stats the row reports. Returns
    (n_rows, n_cols, has_caption, has_header, presentation, nested,
    is_data, cell_chars)."""
    presentation = table.get_attr("role") == "presentation"
    datatable_zero = table.get_attr("datatable") == "0"
    summary = bool(table.get_attr("summary"))
    captions = table.get_elements_by_tag_name("caption")
    has_caption = bool(captions and captions[0].children)
    has_header = any(
        table.get_elements_by_tag_name(tag)
        for tag in ("col", "colgroup", "tfoot", "thead", "th")
    )
    nested = bool(table.get_elements_by_tag_name("table"))

    rows = 0
    cols = 0
    cell_chars = 0
    for tr in table.get_elements_by_tag_name("tr"):
        rows += 1  # spans: stats view counts structural rows (no rowspan here)
        row_cols = 0
        for td in tr.get_elements_by_tag_name("td"):
            row_cols += 1
            cell_chars += len(td.text_content)
        cols = max(cols, row_cols)

    if presentation or datatable_zero:
        is_data = False
    elif summary or has_caption or has_header:
        is_data = True
    elif nested:
        is_data = False
    elif cols == 1 or rows == 1:
        is_data = False
    elif rows >= 10 or cols > 4:
        is_data = True
    else:
        is_data = rows * cols > 10
    return rows, cols, has_caption, has_header, presentation, nested, is_data, cell_chars


def _tables_one(url: Optional[str], html) -> list:
    from readability_spark.dom.parser import decode_html_bytes, parse_html

    try:
        if html is None:
            return []
        html_s = (
            decode_html_bytes(bytes(html))
            if isinstance(html, (bytes, bytearray, memoryview))
            else html
        )
        doc = parse_html(html_s, base_uri=url)
        out = []
        for i, table in enumerate(doc.get_elements_by_tag_name("table")):
            r, c, cap, hdr, pres, nest, isd, chars = _table_verdict(table)
            out.append(
                {
                    "url": url,
                    "table_idx": i,
                    "n_rows": r,
                    "n_cols": c,
                    "has_caption": cap,
                    "has_header": hdr,
                    "presentation": pres,
                    "nested": nest,
                    "is_data_table": isd,
                    "cell_chars": chars,
                }
            )
        return out
    except Exception:  # noqa: BLE001 — per-document failure isolation
        return []


def table_stats(df: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """(url, html) → one row per <table> with structure stats and the
    reference IsDataTable verdict (TABLE_SCHEMA)."""
    return arrow_map(df, [url_col, html_col], _tables_one, TABLE_SCHEMA)


# -- heading outline: the second DOM-walk side channel ---------------------

OUTLINE_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("n_h1", IntegerType(), False),
        StructField("n_h2", IntegerType(), False),
        StructField("n_h3", IntegerType(), False),
        StructField("n_h4", IntegerType(), False),
        StructField("n_h5", IntegerType(), False),
        StructField("n_h6", IntegerType(), False),
        StructField("n_headings", IntegerType(), False),
        StructField("max_level", IntegerType(), True),
        StructField("first_h1", StringType(), True),
        StructField("skips_levels", BooleanType(), False),
    ]
)

_H_TAGS = ("h1", "h2", "h3", "h4", "h5", "h6")


def _outline_one(url, html) -> list:
    from readability_spark.dom.parser import decode_html_bytes, parse_html

    try:
        if html is None:
            return []
        html_s = (
            decode_html_bytes(bytes(html))
            if isinstance(html, (bytes, bytearray, memoryview))
            else html
        )
        doc = parse_html(html_s, base_uri=url)
        counts = [0] * 6
        first_h1 = None
        for h in doc.get_elements_by_tag_name(*_H_TAGS):
            lvl = int(h.tag[1])
            counts[lvl - 1] += 1
            if lvl == 1 and first_h1 is None:
                first_h1 = h.text_content
        used = [i + 1 for i, c in enumerate(counts) if c > 0]
        skips = any(
            lvl > 1 and counts[lvl - 2] == 0 for lvl in used
        )
        return [
            {
                "url": url,
                **{f"n_h{i + 1}": counts[i] for i in range(6)},
                "n_headings": sum(counts),
                "max_level": max(used) if used else None,
                "first_h1": first_h1,
                "skips_levels": skips,
            }
        ]
    except Exception:  # noqa: BLE001 — per-document failure isolation
        return []


def heading_outline(df: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """(url, html) → one outline row per document: per-level heading
    counts, deepest level, first <h1> text, and whether the outline skips
    levels (an h3 under no h2 — the accessibility/structure smell that
    correlates with templated/spammy pages). Same batch contract as
    :func:`table_stats`; in production both ride the extraction parse."""
    return arrow_map(df, [url_col, html_col], _outline_one, OUTLINE_SCHEMA)
