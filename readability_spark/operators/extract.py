"""The extraction operator: vectorized Arrow ``mapInPandas`` over html bytes.

Spark-first design (SURVEY.md §1.4/§3.4):

- input: DataFrame with at least (url: string, html: binary|string);
- the DOM parse + Readability pipeline runs entirely inside the Python worker
  per Arrow batch — the DOM never crosses the JVM↔Python boundary, and there
  is no per-row Python fallback serialization (north rule);
- failures are isolated per document (``ok=false, err=...``), never failing
  the task, so ``spark.task.maxFailures`` retries stay cheap and the job is
  restartable;
- pure function of (html, url, options) — deterministic under repartitioning
  and retries.
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

ARTICLE_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
        StructField("title", StringType(), True),
        StructField("byline", StringType(), True),
        StructField("dir", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content_html", StringType(), True),
        StructField("text", StringType(), True),
        StructField("excerpt", StringType(), True),
        StructField("site_name", StringType(), True),
        StructField("published", StringType(), True),
        StructField("length", IntegerType(), True),
    ]
)


def _extract_one(url: Optional[str], html, options: dict, include_html: bool) -> dict:
    """Extract a single document; never raises.

    options["readerable_prefilter"]: run isProbablyReaderable on the parsed
    DOM and skip the expensive grab/cleanup passes for pages that fail it
    (err="not_readerable"). One parse serves both — on crawl-shaped corpora
    where most pages are nav/listing/login, this skips the majority of the
    per-doc cost without a second pipeline stage (SURVEY.md §4: Catalyst
    cannot stage around an opaque UDF, so the staging lives inside it).
    """
    # imports resolved once per worker via module import, cheap here
    from readability_spark.core.readability import Readability, extract_article
    from readability_spark.core.text import canonical_text

    row = {k.name: None for k in ARTICLE_SCHEMA.fields}
    row["url"] = url
    row["ok"] = False
    try:
        if html is None:
            row["err"] = "null html"
            return row
        if options.get("readerable_prefilter"):
            from readability_spark.core.readerable import is_probably_readerable
            from readability_spark.dom.parser import decode_html_bytes, parse_html

            html_s = (
                decode_html_bytes(bytes(html))
                if isinstance(html, (bytes, bytearray, memoryview))
                else html
            )
            doc = parse_html(html_s, base_uri=url)
            if not is_probably_readerable(doc):
                row["err"] = "not_readerable"
                return row
            opts = {k: v for k, v in options.items() if k != "readerable_prefilter"}
            reader = Readability(doc, **opts)
            reader._source_html = html_s
            art = reader.parse()
        else:
            art = extract_article(html, url=url, **options)
        if art is None:
            row["err"] = "no article found"
            return row
        row["ok"] = True
        row["title"] = art["title"]
        row["byline"] = art["byline"]
        row["dir"] = art["dir"]
        row["lang"] = art["lang"]
        if include_html:
            row["content_html"] = art["content"]
        row["text"] = canonical_text(art["_articleContent"])
        row["excerpt"] = art["excerpt"]
        row["site_name"] = art["siteName"]
        row["published"] = art["publishedTime"]
        row["length"] = len(row["text"])
    except Exception as exc:  # noqa: BLE001 — per-row failure isolation
        row["ok"] = False
        row["err"] = f"{type(exc).__name__}: {exc}"[:1000]
    return row


def make_extract_batches(
    options: Optional[dict] = None, include_html: bool = True, html_bytes: bool = False
):
    """Build the mapInPandas function (options captured in the closure,
    broadcast implicitly with the serialized function). The one per-batch
    extraction loop: ``extract`` and the job path
    (``plans.pipeline.observed_extract``) both run it. ``html_bytes=True``
    appends each page's input size to its row (``ARTICLE_SCHEMA`` plus a
    long ``html_bytes`` column)."""
    options = dict(options or {})
    if not include_html:
        # text-only output: skip building the content-HTML string inside
        # parse() (canonical_text reads the article DOM directly)
        options.setdefault("serialize_content", False)
    names = [f.name for f in ARTICLE_SCHEMA.fields] + (["html_bytes"] if html_bytes else [])

    def extract_batches(batches: Iterator) -> Iterator:
        import gc

        import pandas as pd

        from readability_spark.operators.workergc import tune_worker_gc

        # see workergc: delayed young-gen scans over the per-doc DOM storm,
        # plus one explicit collect per Arrow batch to bound the floating
        # cyclic garbage the delay accumulates
        tune_worker_gc()

        for pdf in batches:
            # numpy iteration: pandas Series.__iter__ boxes per element
            urls = pdf["url"].to_numpy() if "url" in pdf.columns else [None] * len(pdf)
            htmls = pdf["html"].to_numpy()
            rows = [
                _extract_one(u, h, options, include_html)
                for u, h in zip(urls, htmls)
            ]
            if html_bytes:
                for row, h in zip(rows, htmls):
                    row["html_bytes"] = len(h) if h is not None else 0
            gc.collect()
            yield pd.DataFrame(rows, columns=names)

    return extract_batches


def extract(
    df: DataFrame,
    options: Optional[dict] = None,
    include_html: bool = True,
) -> DataFrame:
    """url+html DataFrame → article DataFrame (ARTICLE_SCHEMA).

    Column pruning: only (url, html) are shipped to Python — select them
    explicitly so the parquet scan reads just those columns.
    """
    cols = [c for c in ("url", "html") if c in df.columns]
    return df.select(*cols).mapInPandas(
        make_extract_batches(options, include_html), ARTICLE_SCHEMA
    )


def extract_debug(df: DataFrame, k: int = 5) -> DataFrame:
    """Diagnostic variant: url + ranked top-candidate (path, score) structs
    (the reference's ArtScr probe, SURVEY.md §2.1/§2.9 GetPath)."""
    from pyspark.sql.types import ArrayType, DoubleType

    schema = StructType(
        [
            StructField("url", StringType(), True),
            StructField(
                "top_candidates",
                ArrayType(
                    StructType(
                        [
                            StructField("path", StringType(), True),
                            StructField("score", DoubleType(), True),
                        ]
                    )
                ),
                True,
            ),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import gc

        import pandas as pd

        from readability_spark.core.candidates import top_candidates
        from readability_spark.operators.workergc import tune_worker_gc

        tune_worker_gc()

        for pdf in it:
            out = []
            # numpy iteration, like the main extract path: Series.__iter__
            # boxes per element
            for u, h in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                try:
                    ranked = top_candidates(h, url=u, k=k)
                except Exception:
                    ranked = []
                out.append({"url": u, "top_candidates": ranked})
            gc.collect()
            yield pd.DataFrame(out, columns=["url", "top_candidates"])

    cols = [c for c in ("url", "html") if c in df.columns]
    return df.select(*cols).mapInPandas(batches, schema)


def extract_token_paths(df: DataFrame) -> DataFrame:
    """Alternative elector (SURVEY.md §2.5): the C#-reference token-density
    finder, distributed — url + the elected candidate's path string
    (reference ArticleCandidate.TryFind; parity measured in
    tests/test_tokenfinder_parity.py). Null path = no candidate found."""
    schema = StructType(
        [
            StructField("url", StringType(), True),
            StructField("top_path", StringType(), True),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import gc

        import pandas as pd

        from readability_spark.core.tokenfinder import find_article_path
        from readability_spark.operators.workergc import tune_worker_gc

        tune_worker_gc()

        for pdf in it:
            out = []
            for u, h in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                try:
                    path = find_article_path(h)
                except Exception:
                    path = None
                out.append({"url": u, "top_path": path})
            gc.collect()
            yield pd.DataFrame(out, columns=["url", "top_path"])

    cols = [c for c in ("url", "html") if c in df.columns]
    return df.select(*cols).mapInPandas(batches, schema)


def readerable(df: DataFrame) -> DataFrame:
    """Cheap pre-filter column: url + readerable boolean
    (isProbablyReaderable; pipeline staging per SURVEY.md §4)."""
    from pyspark.sql.types import BooleanType as _B

    schema = StructType(
        [
            StructField("url", StringType(), True),
            StructField("readerable", _B(), False),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import gc

        import pandas as pd

        from readability_spark.core.readerable import is_probably_readerable
        from readability_spark.dom.parser import parse_html
        from readability_spark.operators.workergc import tune_worker_gc

        tune_worker_gc()

        for pdf in it:
            out = []
            for u, h in zip(pdf["url"].to_numpy(), pdf["html"].to_numpy()):
                try:
                    ok = is_probably_readerable(parse_html(h))
                except Exception:
                    ok = False
                out.append({"url": u, "readerable": ok})
            gc.collect()
            yield pd.DataFrame(out, columns=["url", "readerable"])

    cols = [c for c in ("url", "html") if c in df.columns]
    return df.select(*cols).mapInPandas(batches, schema)
