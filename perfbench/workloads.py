"""The three workloads: inputs from a seed, one timed pass, its check.

Each workload materialises its input once (``materialise``) and warms up
(``warm_up``, which runs the cold passes), then runs passes (``run_pass``)
that return the pass's wall time and size, and checks each pass's output
afterwards (``check``), outside the timed interval.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import crawlpages
import docs
from metrics import DEDUP_QUERIES, MB
from stages import extract_stage

# checkpoint buckets of the job path: 8 x 3 cores rounded up to a power of
# two, the job's own sizing rule (plans/pipeline.observed_extract)
BUCKETS = 32
# input files per corpus; Spark's default split planning packs them into
# about one scan task per core
INPUT_FILES = 12


@dataclass
class Pass:
    wall_s: float
    units: int  # docs for the jobs, docs x queries for dedup_suite
    mb: float  # input MB the pass read
    detail: dict = field(default_factory=dict)


class JobWorkload:
    """``job.main`` minus session start and stop: bucket the pages, run
    ``plans.pipeline.observed_extract``, write bucket-aligned parquet, then
    append the manifest and collect ``length_histogram``."""

    include_html = True
    min_passes = 1

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.pages_path = f"{work}/pages"

    def out_dir(self, k: int) -> str:
        return f"{self.work}/out/{k}"

    def run_pass(self, spark, k: int, reader=None) -> Pass:
        """One job pass; with a ``reader`` the pass runs in its own job group
        and reads its stage metrics inside the timed interval."""
        from readability_spark.job import load_input
        from readability_spark.plans.pipeline import (
            append_manifest,
            length_histogram,
            observed_extract,
            with_bucket,
        )

        out = self.out_dir(k)
        detail = {}
        t0 = time.perf_counter()
        if reader:
            reader.tag(f"pass:{k}")
        pages = with_bucket(load_input(spark, self.pages_path), BUCKETS)
        result, obs = observed_extract(
            pages, options={}, include_html=self.include_html, n_buckets=BUCKETS
        )
        result.write.mode("overwrite").partitionBy("bucket").parquet(out)
        out_df = spark.read.parquet(out)
        append_manifest(out_df, f"{self.work}/manifest/{k}")
        length_histogram(out_df).collect()
        if reader:
            stage = extract_stage(reader.stages(f"pass:{k}"))
            detail = dict(stage, task_skew=reader.task_skew(stage))
            reader.untag()
        wall = time.perf_counter() - t0
        m = obs.get
        detail["output_files"] = len(glob.glob(f"{out}/*/*.parquet"))
        return Pass(wall, m["docs"], m["html_bytes"] / MB, detail)

    def warm_up(self, spark) -> list:
        """Two unchecked passes: the second still runs slow while the JVM's
        write and Arrow paths compile."""
        walls = []
        for k in (-2, -1):
            walls.append(self.run_pass(spark, k).wall_s)
            self.cleanup(k)
        return walls

    def cleanup(self, k: int) -> None:
        shutil.rmtree(self.out_dir(k), ignore_errors=True)
        shutil.rmtree(f"{self.work}/manifest/{k}", ignore_errors=True)

    def sample(self, n: int) -> tuple:
        """(urls, htmls) of the first ``n`` pages, as the job reads them."""
        t = pq.read_table(self.pages_path, columns=["url", "html"]).slice(0, n)
        return t.column("url").to_pylist(), t.column("html").to_pylist()


class TemplateJob(JobWorkload):
    """sf0.1 template pages (``sources.pages``), text-only (``--no-html``)."""

    include_html = False

    def materialise(self, spark) -> None:
        from readability_spark.sources.pages import synthesize_pages

        table = docs.make_documents(self.seed)
        self.docs_path = docs.write_documents(table, self.work)
        pages = synthesize_pages(spark, self.work)
        pages.repartition(INPUT_FILES).write.parquet(self.pages_path)

    def check(self, k: int) -> tuple:
        """(docs checked, docs whose title, byline, excerpt, published and
        text equal the template truth behind ``sources.pages.ORACLE_*``)."""
        from readability_spark.sources import pages as P

        sql = f"""
        WITH truth AS (
            SELECT {P.ORACLE_URL} AS url, {P.ORACLE_TITLE} AS title,
                   {P.ORACLE_BYLINE} AS byline, {P.ORACLE_EXCERPT} AS excerpt,
                   {P.ORACLE_PUBLISHED} AS published, {P.ORACLE_TEXT} AS text
            FROM read_parquet('{self.docs_path}')),
        got AS (SELECT * FROM read_parquet('{self.out_dir(k)}/*/*.parquet')),
        per_url AS (
            SELECT t.url, count(g.url) AS n_rows,
                   coalesce(bool_and(g.ok AND g.title = t.title AND g.byline = t.byline
                       AND g.excerpt = t.excerpt AND g.published = t.published
                       AND g.text = t.text), false) AS good
            FROM truth t LEFT JOIN got g ON g.url = t.url GROUP BY t.url)
        SELECT count(*),
               count(*) FILTER (WHERE n_rows = 1 AND good),
               (SELECT count(*) FROM got WHERE url NOT IN (SELECT url FROM truth))
        FROM per_url
        """
        with duckdb.connect() as con:
            n, good, stray = con.execute(sql).fetchone()
        return n, max(good - stray, 0)


class CrawlJob(JobWorkload):
    """Crawl-shaped pages from ``crawlpages``, with the job's default
    ``content_html`` output."""

    def materialise(self, spark) -> None:
        pages = crawlpages.make_pages(self.seed, crawlpages.DOCS)
        self.truth = {p.url: p.paragraphs for p in pages}
        print(f"crawl corpus: {crawlpages.summary(pages)}", file=sys.stderr)
        os.makedirs(self.pages_path)
        per_file = -(-len(pages) // INPUT_FILES)
        for f in range(INPUT_FILES):
            chunk = pages[f * per_file : (f + 1) * per_file]
            table = pa.table(
                {"url": [p.url for p in chunk], "html": [p.html for p in chunk]},
                schema=pa.schema([("url", pa.string()), ("html", pa.binary())]),
            )
            pq.write_table(table, f"{self.pages_path}/part-{f:05d}.parquet")

    def check(self, k: int) -> tuple:
        """(docs checked, docs whose text holds every planted paragraph and
        whose text and content_html hold no boilerplate marker)."""
        with duckdb.connect() as con:
            rows = con.execute(
                "SELECT url, ok, text, content_html "
                f"FROM read_parquet('{self.out_dir(k)}/*/*.parquet')"
            ).fetchall()
        copies = Counter(row[0] for row in rows)
        good = sum(
            copies[url] == 1
            and url in self.truth
            and ok
            and all(p in text for p in self.truth[url])
            and crawlpages.MARKER not in text
            and crawlpages.MARKER not in (html or "")
            for url, ok, text, html in rows
        )
        stray = sum(n for url, n in copies.items() if url not in self.truth)
        return len(self.truth), max(good - stray, 0)


class DedupSuite:
    """The three near-duplicate registry queries at sf0.1, back to back."""

    # Planning these queries takes about half of a pass and keeps speeding up
    # for minutes while the JVM compiles Catalyst, so the first warm pass is
    # still about 10% slow. The median of three passes (about 11 s each)
    # keeps it, or a pass that lands in a slow phase of the box, out of the
    # figure.
    min_passes = 3

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.results: dict = {}

    def materialise(self, spark) -> None:
        import __spark_entry__

        table = docs.make_documents(self.seed)
        path = docs.write_documents(table, self.work)
        self.n_docs = table.num_rows
        self.text_mb = sum(len(t.encode()) for t in table.column("text").to_pylist()) / MB
        self.registry = __spark_entry__.queries()
        # the DuckDB oracles run during the warm-up passes
        self._pool = ThreadPoolExecutor(1)
        self._oracle = self._pool.submit(_oracle_results, __spark_entry__.oracle_sql(), path)

    def warm_up(self, spark) -> list:
        """One unchecked cold pass; set-up ends when the oracle results are
        in as well."""
        walls = [self.run_pass(spark, -1).wall_s]
        self.oracle = self._oracle.result()
        self._pool.shutdown()
        return walls

    def run_pass(self, spark, k: int, reader=None) -> Pass:
        detail = {}
        t0 = time.perf_counter()
        for q in DEDUP_QUERIES:
            if reader:
                reader.tag(f"{q}:{k}")
            tq = time.perf_counter()
            df = self.registry[q](spark, self.work)
            rows = df.collect()
            wall = time.perf_counter() - tq
            self.results[q] = (df.columns, [tuple(r) for r in rows])
            detail[q] = {"wall_s": wall, "rows": len(rows)}
            if reader:
                detail[q]["stages"] = reader.stages(f"{q}:{k}")
                reader.untag()
        total = time.perf_counter() - t0
        n = len(DEDUP_QUERIES)
        return Pass(total, self.n_docs * n, self.text_mb * n, detail)

    def check(self, k: int) -> tuple:
        """(queries checked, queries whose result equals the DuckDB oracle)."""
        from readability_spark.testing import compare_result

        good = sum(
            not compare_result(*self.results[q], *self.oracle[q]) for q in DEDUP_QUERIES
        )
        return len(DEDUP_QUERIES), good

    def cleanup(self, k: int) -> None:
        self.results.clear()


def _oracle_results(oracle_sql: dict, docs_path: str) -> dict:
    """query -> (columns, rows) of its DuckDB oracle over the documents."""
    out = {}
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        for q in DEDUP_QUERIES:
            cur = con.execute(oracle_sql[q])
            out[q] = ([d[0] for d in cur.description], cur.fetchall())
    return out


WORKLOADS = {"template_job": TemplateJob, "crawl_job": CrawlJob, "dedup_suite": DedupSuite}
