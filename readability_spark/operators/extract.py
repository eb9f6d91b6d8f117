"""The extraction operator: vectorized Arrow batches over html bytes.

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

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from readability_spark.operators.batches import arrow_map

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
    from readability_spark.core.readability import NotReaderable, extract_article
    from readability_spark.core.text import canonical_text

    row = {k.name: None for k in ARTICLE_SCHEMA.fields}
    row["url"] = url
    row["ok"] = False
    try:
        if html is None:
            row["err"] = "null html"
            return row
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
    except NotReaderable:
        row["err"] = "not_readerable"
    except Exception as exc:  # noqa: BLE001 — per-row failure isolation
        row["ok"] = False
        row["err"] = f"{type(exc).__name__}: {exc}"[:1000]
    return row


def extract_options(options: Optional[dict], include_html: bool) -> dict:
    """The options every document of one extraction runs with."""
    options = dict(options or {})
    if not include_html:
        # text-only output: skip building the content-HTML string inside
        # parse() (canonical_text reads the article DOM directly)
        options.setdefault("serialize_content", False)
    return options


def extract(
    df: DataFrame,
    options: Optional[dict] = None,
    include_html: bool = True,
) -> DataFrame:
    """url+html DataFrame → article DataFrame (ARTICLE_SCHEMA).

    Column pruning: only (url, html) are shipped to Python, so the parquet
    scan reads just those columns. A frame without a url column extracts
    with a null url.
    """
    options = extract_options(options, include_html)
    if "url" not in df.columns:
        df = df.withColumn("url", F.lit(None).cast("string"))
    return arrow_map(
        df,
        ["url", "html"],
        lambda u, h: (_extract_one(u, h, options, include_html),),
        ARTICLE_SCHEMA,
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

    def per_row(u, h):
        from readability_spark.core.candidates import top_candidates

        try:
            ranked = top_candidates(h, url=u, k=k)
        except Exception:
            ranked = []
        return ((u, ranked),)

    return arrow_map(df, ["url", "html"], per_row, schema)


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

    def per_row(u, h):
        from readability_spark.core.tokenfinder import find_article_path

        try:
            path = find_article_path(h)
        except Exception:
            path = None
        return ((u, path),)

    return arrow_map(df, ["url", "html"], per_row, schema)


def readerable(df: DataFrame) -> DataFrame:
    """Cheap pre-filter column: url + readerable boolean
    (isProbablyReaderable; pipeline staging per SURVEY.md §4)."""
    schema = StructType(
        [
            StructField("url", StringType(), True),
            StructField("readerable", BooleanType(), False),
        ]
    )

    def per_row(u, h):
        from readability_spark.core.readerable import is_probably_readerable
        from readability_spark.dom.parser import parse_html

        try:
            ok = is_probably_readerable(parse_html(h))
        except Exception:
            ok = False
        return ((u, ok),)

    return arrow_map(df, ["url", "html"], per_row, schema)
