"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()`` exposes every implemented operator (extraction, dedup,
similarity, text analysis, multimodal plumbing, streaming-equivalent aggs,
pipeline-level joins/aggs per SURVEY.md §2.10); ``oracle_sql()`` gives the
DuckDB-equivalent SQL the driver cross-checks at sf=0.01.

Design note: everything hash-based uses md5 (portable across Spark/DuckDB)
so even LSH internals have exact SQL oracles; floats are rounded at fixed
precision on both sides; timestamps are compared as formatted strings.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)
# Python workers forked by a LATER-started daemon inherit the driver
# process env, not the driver's sys.path — without this, any harness that
# imports this module from a cwd other than the repo root gets
# ModuleNotFoundError('readability_spark') inside every Arrow UDF task
# (r1-r4 harnesses always ran from the repo root, so it never surfaced).
if _REPO_DIR not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO_DIR + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else _REPO_DIR
    )

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize the Common-Crawl-shaped page table from sf0.001
    and run the full Readability extraction over it (vectorized Arrow UDF)."""
    return _q_extract_articles(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, fanned out across the session's parallelism.

    The sf parquet ships as ONE row group, so without the explicit
    repartition EVERY query's map-side stage — shingle/bigram explodes,
    minhash, per-doc Python — runs as a single task (scan, explode and
    partial aggregation fuse into one stage, so parallelism only recovers
    after the first shuffle). That is a layout artifact of the tiny local
    fixture, not of the operators: at production scale the scan arrives
    already split by spark.sql.files.maxPartitionBytes. The pinned
    doc_id-hash repartition mirrors job.py's salted input move; Catalyst
    prunes columns through RepartitionByExpression, so slim queries still
    ship only the columns they read. Measured: lm_perplexity 23.9s ->
    ~3s, tokenfinder 7s -> 1.6s (via the same fix in _pages).

    The fan-out is CONDITIONAL by family (VERDICT r4 item 3): per-doc-
    Python and token-explode-heavy queries call this; slim column-
    expression queries (projection/filter/agg, line-level explodes, small
    joins) call :func:`_docs_slim` instead — for them the repartition was
    a pure fixed cost at sandbox sf (url_canonical_dedup 0.38s -> 1.12s,
    3-trial, r4) and at production scale an avoidable full shuffle of the
    read columns ahead of a map-only/agg-only plan."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )


def _docs_slim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as the scan arrives — NO fan-out repartition.

    For the slim family (pure column expressions, map-side-combinable
    aggregations, line-level explodes, broadcast-small joins) the blanket
    `_docs` repartition buys no parallelism worth its shuffle: the heavy
    lifting is whole-stage-codegen'd into the scan stage and the first
    real shuffle (the groupBy/join the query actually needs) restores
    parallelism anyway. At production scale the scan arrives already
    split by spark.sql.files.maxPartitionBytes, so the production plan
    for these queries never pays a blanket reshuffle either — scan ->
    agg, exactly what Catalyst emits from this reader."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized page table, fanned out across the session's parallelism.

    Same single-row-group layout artifact as ``_docs``: the sf parquet is
    ONE row group, so every extraction-family query (extract, readerable,
    candidate probe, token-density elector) would otherwise run its heavy
    per-doc Python stage as a single task. The explicit url-hash
    repartition is job.py's --pre-salt move (north rule: salted
    repartitioning on url-hash); the partition count is pinned because the
    shuffled bytes are small enough that AQE's byte-based coalesce would
    fold an unpinned repartition back to one partition."""
    from readability_spark.sources.pages import synthesize_pages

    return synthesize_pages(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, F.col("url")
    )


def _extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.extract import extract

    return extract(_pages(spark, sf_dir), include_html=False)


def _q_extract_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full Readability extraction per page (url, metadata, text,
    length) — byte-identical text vs the reference fixtures; the throughput
    row BENCH/BASELINE.md is graded on."""
    out = _extract(spark, sf_dir)
    return out.select(
        "url",
        "title",
        "byline",
        "site_name",
        "lang",
        "published",
        "excerpt",
        "text",
        F.col("length").cast("long").alias("length"),
    )


def _q_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard sink manifest (WebDataset convention): deterministic
    md5-hash shard assignment, one applyInPandas task per shard building
    the actual USTAR archive. ``tar_bytes`` is MEASURED from the built
    archive; the oracle recomputes it byte-exactly from closed-form tar
    arithmetic (512-byte headers, 512-rounded payloads, 1024 end-of-
    archive, 10240 record padding) — an independent end-to-end check
    that the sink writes exactly the bytes it should."""
    from readability_spark.sources.webdataset import build_webdataset_shards

    return build_webdataset_shards(_docs(spark, sf_dir), n_shards=16)


def _q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink → source identity: build the shard archives, parse them back
    with the mapInPandas tar reader, and emit (shard_id, doc_id,
    n_chars_rt). The oracle reads NONE of the tar machinery — it derives
    the same rows straight from the documents table plus the md5 shard
    assignment, so any byte damage in the sink or reader breaks parity."""
    from readability_spark.sources.webdataset import (
        build_webdataset_blobs,
        parse_webdataset,
    )

    parsed = parse_webdataset(
        build_webdataset_blobs(_docs(spark, sf_dir), n_shards=16)
    )
    return parsed.select(
        "shard_id", "doc_id", F.length("text").cast("long").alias("n_chars_rt")
    )


def _q_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-JSONL training-shard manifest (C4/Pile/Dolma convention):
    deterministic md5 shard assignment, one applyInPandas task per shard
    building the pinned-serialization archive. ``payload_bytes`` (the
    UNCOMPRESSED jsonl length) is MEASURED from the built lines; the
    oracle recomputes it by rebuilding the identical line text with
    string concatenation — an independent end-to-end check of the
    serialization. gz_bytes is reported to users but excluded here
    (compressed length is a zlib property, not closed-form)."""
    from readability_spark.sources.jsonl import build_jsonl_shards

    return build_jsonl_shards(_docs(spark, sf_dir), n_shards=16).select(
        "shard_id", "n_docs", "payload_bytes"
    )


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink → source identity for the gzip-JSONL shards: build the blobs,
    parse them back with the mapInPandas gzip reader, and emit
    (shard_id, doc_id, lang, source, n_chars_rt). The oracle reads NONE
    of the gzip/json machinery — it derives the same rows straight from
    the documents table plus the md5 shard assignment, so any byte damage
    in the sink or reader breaks parity."""
    from readability_spark.sources.jsonl import build_jsonl_blobs, parse_jsonl

    parsed = parse_jsonl(build_jsonl_blobs(_docs(spark, sf_dir), n_shards=16))
    return parsed.select(
        "shard_id",
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars_rt"),
    )


def _q_url_aligned_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCAligned-style cross-lingual pair mining from URL structure alone
    (El-Kishky et al. 2020): strip the language identifier out of each
    URL (path segment or lang= query, three deterministic spellings —
    lowercase, UPPERCASE, ll-CC — plus a query-parameter class), elect
    one doc per (key, lang), pair across languages. The oracle rebuilds
    the same synthetic URLs and replays the identical regex chain
    (patterns shared from the module constants; only the replacement
    syntax differs per engine, $1 vs \\1)."""
    from readability_spark.operators.urltools import url_aligned_pairs

    docs = _docs_slim(spark, sf_dir)
    d = F.col("doc_id")
    cc = (
        F.when(F.col("lang") == "en", "us")
        .when(F.col("lang") == "zh", "cn")
        .otherwise(F.col("lang"))
    )
    seg = (
        F.when(d % 3 == 0, F.col("lang"))
        .when(d % 3 == 1, F.upper(F.col("lang")))
        .otherwise(F.concat(F.col("lang"), F.lit("-"), cc))
    )
    gid = (d % 10).cast("string")
    base = F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com"))
    url = F.when(
        d % 5 == 0,
        F.concat(base, F.lit("/doc/"), gid, F.lit(".html?lang="), seg, F.lit("&x=1")),
    ).otherwise(
        F.concat(base, F.lit("/"), seg, F.lit("/doc/"), gid, F.lit(".html"))
    )
    pages = docs.select(url.alias("url"), "lang")
    return url_aligned_pairs(pages)


def _q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law slope of each source's token frequency spectrum (OLS of
    log freq on log rank) — the companion corpus-statistics diagnostic to
    the Heaps vocab-growth curve. ln() runs on exact integer inputs and
    is quantized to a 1e6 bigint grid, every OLS sum is exact integer
    arithmetic (decimal/hugeint for the cross products), and the slope is
    one round4'd double division — cross-engine exact."""
    from readability_spark.operators.textstats import zipf_slope

    return zipf_slope(_docs_slim(spark, sf_dir))


def _q_extract_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction THROUGH the readerable-prefilter path (one parse serves
    the isProbablyReaderable gate and the grab — the crawl-shaped fast
    path, operators/extract.py options['readerable_prefilter']): pages
    whose paragraphs clear the 140-char/score-20 gate extract
    byte-identically to extract_articles, the rest are gated out — the
    oracle applies the same closed-form gate (n_chars > 140 ∧
    REPEAT·sqrt(n_chars−140) > 20, the readerable_pages condition) on
    top of the exact extraction oracle, pinning the gated code path
    end-to-end in the driver check, not just in pytest."""
    from readability_spark.operators.extract import extract

    out = extract(
        _pages(spark, sf_dir),
        options={"readerable_prefilter": True},
        include_html=False,
    ).filter(F.col("ok"))
    return out.select(
        "url",
        "title",
        "byline",
        "site_name",
        "lang",
        "published",
        "excerpt",
        "text",
        F.col("length").cast("long").alias("length"),
    )


def _q_extract_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate-strip accounting over the REAL extraction
    pass — the north rule's 'boilerplate bytes stripped' lineage metric as
    a first-class query: raw html bytes in, extracted text chars out,
    stripped = in - out, per source. The oracle reconstructs both sides
    from the synthesis templates (pages.ORACLE_HTML byte length /
    _ORACLE_LEN), so ANY drift in what extraction keeps breaks the match.
    Plan: extraction (mapInPandas) joined to the page byte ledger on url,
    doc_id parsed from the url, one broadcast dim join to documents for
    source, one map-side-combined agg."""
    pages = _pages(spark, sf_dir).select("url", F.length("html").alias("hb"))
    ext = (
        _extract(spark, sf_dir)
        .filter(F.col("ok"))
        .select("url", F.col("length").cast("long").alias("tc"))
    )
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    per = (
        pages.join(ext, "url")
        .withColumn(
            "doc_id", F.regexp_extract("url", r"(\d+)\.html$", 1).cast("bigint")
        )
        .join(F.broadcast(docs), "doc_id")
    )
    agg = per.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("hb").cast("bigint").alias("html_bytes"),
        F.sum("tc").cast("bigint").alias("text_chars"),
    )
    stripped = F.col("html_bytes") - F.col("text_chars")
    ratio = stripped.cast("double") / F.col("html_bytes").cast("double")
    return agg.select(
        "source",
        "n_docs",
        "html_bytes",
        "text_chars",
        stripped.cast("bigint").alias("stripped_bytes"),
        (F.floor(ratio * 10000.0 + 0.5) / 10000.0).alias("strip_ratio"),
    )


def _q_extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language extraction rollup (n_docs, total extracted chars) —
    the lineage/metrics view over the extraction pass."""
    out = _extract(spark, sf_dir)
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("length").cast("long")).alias("total_chars"),
    )


def _q_extract_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of extracted article lengths in 500-char buckets — the
    score/size-distribution observability view."""
    out = _extract(spark, sf_dir)
    return (
        out.withColumn("len_bucket", F.floor(F.col("length") / 500))
        .groupBy("len_bucket")
        .agg(F.count("*").alias("n"))
    )


def _q_candidate_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top elected-candidate path + score per page (the ArtScr probe as a
    distributed query). On the synthetic template the election is provably
    the article div, with score 5 (div prior) + REPEAT x (1 base + 1 comma
    segment + capped length bonus) and zero link density — exactly
    recomputable in SQL."""
    from readability_spark.operators.extract import extract_debug

    out = extract_debug(_pages(spark, sf_dir), k=1)
    return out.select(
        "url",
        F.col("top_candidates")[0]["path"].alias("top_path"),
        F.col("top_candidates")[0]["score"].alias("top_score"),
    )


def _q_tokenfinder_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C#-reference token-density elector over the synthetic corpus; the
    template's election is provably the article div for every doc."""
    from readability_spark.operators.extract import extract_token_paths

    return extract_token_paths(_pages(spark, sf_dir))


_TOKENFINDER_CRAWL_GOLDENS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "goldens_tokenfinder_crawl.json"
)


def _tokenfinder_crawl_pages() -> list:
    """(url, html): 24 crawl-shaped pages (perfbench/crawlpages.py, seed 1,
    imported read-only) and one page without an article."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
    try:
        import crawlpages
    finally:
        sys.path.pop(0)
    pages = [(p.url, p.html) for p in crawlpages.make_pages(1, 24)]
    return pages + [("https://empty.example/page.html", b"<html><body></body></html>")]


def _tokenfinder_real_corpus() -> list:
    """(url, html, expected elected path) for the reference fixture pages
    whose elected path matches the reference golden (sources/fixtures.py
    single source). Without the reference checkout: the crawl pages above
    against tests/goldens_tokenfinder_crawl.json, characterisation goldens
    (what the in-process finder elected when they were written; regenerate
    with scripts/tokenfinder_crawl_goldens.py only for an intended change)."""
    from readability_spark.sources import fixtures

    have = set(fixtures.fixture_names())
    if have:
        gold = fixtures.tokenfinder_path_goldens()
        return [
            (f"http://fakehost/test/{n}/page.html", fixtures.load_case(n)["source"], gold[n][1])
            for n in fixtures.TOKENFINDER_MATCHED_PAGES
            if n in have
        ]
    with open(_TOKENFINDER_CRAWL_GOLDENS) as f:
        gold = json.load(f)
    return [(url, html, gold[url]) for url, html in _tokenfinder_crawl_pages()]


def _q_tokenfinder_real_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-density elector probed on REAL reference pages (messy crawl
    HTML), not the synthetic template — the oracle is the reference's own
    elected-path goldens (test/SampleTests.cs DataRows), so this row checks
    finder parity end to end through the Spark mapInPandas surface. Without
    the reference checkout the pages and goldens are the crawl-shaped
    fallback of ``_tokenfinder_real_corpus``."""
    from readability_spark.operators.extract import extract_token_paths

    rows = [(url, html) for url, html, _path in _tokenfinder_real_corpus()]
    df = spark.createDataFrame(rows, "url string, html binary")
    # no-article pages golden as '' in SampleTests.cs — align null with it
    return extract_token_paths(df).select(
        "url", F.coalesce(F.col("top_path"), F.lit("")).alias("top_path")
    )


def _tokenfinder_real_oracle() -> str:
    vals = ",\n".join(
        "('{}', '{}')".format(url, path.replace("'", "''"))
        for url, _html, path in _tokenfinder_real_corpus()
    )
    if not vals:
        return "SELECT ''::varchar AS url, ''::varchar AS top_path WHERE 1=0"
    return f"SELECT * FROM (VALUES {vals}) AS t(url, top_path)"


def _q_readerable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.extract import readerable

    return readerable(_pages(spark, sf_dir))


def _variant_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic url spellings per doc (tracking params, fragments,
    default ports, mixed-case scheme/host) that must canonicalize to the
    same url — the dedup fodder for _q_url_canonical_dedup."""
    docs = _docs_slim(spark, sf_dir)
    base = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".Example.com/doc/"),
        F.col("doc_id").cast("string"), F.lit(".html"),
    )
    variant = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(base, F.lit("?utm_source=feed&utm_medium=rss")))
        .when(F.col("doc_id") % 4 == 1, F.concat(base, F.lit("#section-2")))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("HTTP://"), F.col("source"), F.lit(".Example.com:80/doc/"),
                F.col("doc_id").cast("string"), F.lit(".html"),
            ),
        )
        .otherwise(F.concat(base, F.lit("?id="), F.col("doc_id").cast("string"),
                            F.lit("&utm_campaign=x")))
    )
    plain = F.when(
        F.col("doc_id") % 4 == 3,
        F.concat(base, F.lit("?id="), F.col("doc_id").cast("string")),
    ).otherwise(base)
    return docs.select(plain.alias("url")).unionByName(docs.select(variant.alias("url")))


def _q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.urltools import canonical_dedup_groups

    return canonical_dedup_groups(_variant_urls(spark, sf_dir))


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.urltools import domain_stats

    docs = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"), F.lit(".html"),
        ).alias("url"),
        "n_chars",
    )
    return domain_stats(docs)


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import quality_score

    return quality_score(_docs_slim(spark, sf_dir))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import fingerprint

    return fingerprint(_docs_slim(spark, sf_dir))


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.pii import pii_scrub, with_injected_pii

    return pii_scrub(with_injected_pii(_docs_slim(spark, sf_dir)))


def _q_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pearson correlation between bigram-LM perplexity and
    the heuristic quality composite — both on their ROUNDED outputs so
    the joined inputs are cross-engine exact; the correlation itself is
    round4-floored. Oracle nests the LM oracle and the quality
    expression."""
    from readability_spark.operators.lm import lm_perplexity
    from readability_spark.operators.textstats import (
        quality_score,
        signal_correlation,
    )

    docs = _docs(spark, sf_dir)
    ppl = lm_perplexity(docs, head_max=29.0, middle_max=30.5).select("doc_id", "ppl")
    q = quality_score(docs).select("doc_id", "quality")
    return signal_correlation(ppl, q, docs, "ppl", "quality")


def _q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token ratio + hapax fraction — the vocabulary-
    richness spam signal. Oracle mirrors the two-level token counts."""
    from readability_spark.operators.textstats import lexical_diversity

    return lexical_diversity(_docs(spark, sf_dir))


def _q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card over the injected-duplicate corpus (so the
    exact-dup rate is nonzero): sizes, lang/source breadth, dup rate,
    mean composite quality — one global aggregation."""
    from readability_spark.operators.dedup import with_injected_duplicates
    from readability_spark.operators.textstats import corpus_card

    return corpus_card(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII governance report over the injected-PII corpus:
    docs-with-PII, per-class hit totals, hits per 1k tokens. Oracle
    mirrors the injection, the regex counts, and the per-source
    aggregation."""
    from readability_spark.operators.pii import pii_density_report, with_injected_pii

    return pii_density_report(with_injected_pii(_docs(spark, sf_dir)))


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.urltools import host_of
    from readability_spark.plans.pipeline import build_training_corpus
    from readability_spark.sources.robots import parse_robots, synthesize_robots

    docs = _docs_slim(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 4, F.concat(F.lit("/private/"), did, F.lit(".html")))
        .when(F.col("doc_id") % 7 == 0, F.concat(F.lit("/archive/"), did, F.lit(".html")))
        .otherwise(F.concat(F.lit("/doc/"), did, F.lit(".html")))
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com"), path).alias("url"),
    )
    rules = parse_robots(synthesize_robots(docs))
    blocked = (
        urls.select(host_of(F.col("url")).alias("domain"))
        .distinct()
        .filter(F.substring(F.md5("domain"), 1, 1).isin("0", "1", "2", "3"))
    )
    return build_training_corpus(
        docs, urls, rules, blocked, r"/doc/[0-9]*7\.html$",
        gopher_stopwords=_SYNTH_STOPWORDS,
    )


def _q_snapshot_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way increment triage (exact_dup / near_dup / new) over the
    same old/new snapshot splits as snapshot_diff — the ' v2' mutation
    makes true near-dups whose originals sit in the old snapshot.
    Oracle composes the md5 membership pass with the incremental
    minhash probe CTEs."""
    from readability_spark.operators.snapshots import snapshot_triage

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 1).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 2, F.concat("text", F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_triage(old, new)


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.snapshots import snapshot_diff

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 1).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 2, F.concat("text", F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(old, new)


def _q_domain_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.snapshots import domain_top_k

    return domain_top_k(_docs(spark, sf_dir), k=10)


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.sources.robots import (
        parse_robots,
        robots_filter,
        synthesize_robots,
    )

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 4, F.concat(F.lit("/private/"), did, F.lit(".html")))
        .when(F.col("doc_id") % 7 == 0, F.concat(F.lit("/archive/"), did, F.lit(".html")))
        .otherwise(F.concat(F.lit("/doc/"), did, F.lit(".html")))
    )
    urls = docs.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com"), path).alias("url")
    )
    return robots_filter(urls, parse_robots(synthesize_robots(docs)))


def _q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.urltools import blocklist_filter, host_of

    urls = _docs_slim(spark, sf_dir).select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"), F.lit(".html"),
        ).alias("url")
    )
    # deterministic stand-in blocklist: hosts whose md5 starts 0-3 (~25%)
    blocked = (
        urls.select(host_of(F.col("url")).alias("domain"))
        .distinct()
        .filter(F.substring(F.md5("domain"), 1, 1).isin("0", "1", "2", "3"))
    )
    return blocklist_filter(urls, blocked, r"/doc/[0-9]*7\.html$")


def _q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import length_quantiles

    return length_quantiles(_docs(spark, sf_dir))


# The synthetic corpus' 31-word vocabulary contains only 'the' and 'a' as
# function words, so Gopher's literal 8-word required list can never hit
# twice; the oracle-checked queries substitute the corpus' own function words
# (the operator's default stays the true Gopher list).
_SYNTH_STOPWORDS = ("the", "a")


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import gopher_rules

    return gopher_rules(_docs(spark, sf_dir), stopwords=_SYNTH_STOPWORDS)


def _q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.cleaning import c4_clean, with_synthetic_lines

    return c4_clean(with_synthetic_lines(_docs_slim(spark, sf_dir)))


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.cleaning import line_dedup, with_synthetic_lines

    return line_dedup(with_synthetic_lines(_docs_slim(spark, sf_dir)))


def _q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source template lines over the deterministically-lined corpus
    (min_docs=3 within a source). Oracle rebuilds the same lined text
    and mirrors the per-(source, line) distinct-doc counts."""
    from readability_spark.operators.cleaning import (
        host_boilerplate_lines,
        with_synthetic_lines,
    )

    return host_boilerplate_lines(with_synthetic_lines(_docs(spark, sf_dir)))


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.decontam import decontaminate, with_injected_contamination

    return decontaminate(with_injected_contamination(_docs(spark, sf_dir)))


def _q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.decontam import chunk_dedup
    from readability_spark.operators.dedup import with_injected_duplicates

    return chunk_dedup(with_injected_duplicates(_docs_slim(spark, sf_dir)))


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.similarity import ivf_topk, load_embeddings

    return ivf_topk(load_embeddings(spark, sf_dir))


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_TOTAL = 200


def _q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.sampling import mix_corpus

    return mix_corpus(_docs_slim(spark, sf_dir), _MIX_WEIGHTS, total=_MIX_TOTAL)


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.spans import duplicate_ngram_spans

    return duplicate_ngram_spans(_docs(spark, sf_dir))


def _q_audio_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.audio import audio_sample_stats, synthesize_audio

    return audio_sample_stats(synthesize_audio(_docs(spark, sf_dir)))


def _q_audio_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample every synthesized WAV to 8 kHz (integer box decimation),
    re-encode, then decode THAT and compute signal stats — the oracle
    numbers prove the decimation arithmetic and that the re-encoded RIFF
    container parses."""
    from readability_spark.operators.audio import (
        audio_resample,
        audio_sample_stats,
        synthesize_audio,
    )

    resampled = audio_resample(synthesize_audio(_docs(spark, sf_dir)))
    return audio_sample_stats(resampled.select("doc_id", "payload"))


def _q_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.imaging import image_pixel_stats, synthesize_images

    return image_pixel_stats(synthesize_images(_docs(spark, sf_dir)))


def _q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every synthesized PNG to 8x8 (exact box-average), re-encode as
    a real PNG, then decode THAT and compute pixel stats + aHash — so the
    oracle-checked numbers prove both the resize arithmetic and that the
    re-encoded bytes are valid PNGs."""
    from readability_spark.operators.imaging import (
        image_pixel_stats,
        image_resize,
        synthesize_images,
    )

    resized = image_resize(synthesize_images(_docs(spark, sf_dir)))
    return image_pixel_stats(resized.select("doc_id", "payload"))


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.semdedup import semdedup
    from readability_spark.operators.similarity import load_embeddings

    return semdedup(load_embeddings(spark, sf_dir))


def _q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs_slim(spark, sf_dir), {"en": 0.5, "es": 0.25}, default_rate=0.1
    ).select("doc_id", "lang", "u")


def _q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.plans.pipeline import pack_into_sequences

    return pack_into_sequences(_docs_slim(spark, sf_dir))


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dsir import demo_raw, demo_target, dsir_select

    docs = _docs(spark, sf_dir)
    return dsir_select(demo_raw(docs), demo_target(docs), k=100)


def _q_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.plans.pipeline import pack_by_token_budget

    return pack_by_token_budget(
        _docs_slim(spark, sf_dir), budget_tokens=600, group_col="source"
    )


def _q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full WARC round trip: synthesize .warc.gz files (one gzip member per
    record, Common-Crawl convention) from the page table, then parse them
    back with the distributed record walker. The oracle reconstructs every
    field — including md5 of the recovered html body — straight from
    `documents`, so a single flipped byte anywhere in the write→compress→
    decompress→parse path fails the hash."""
    from readability_spark.sources.warc import parse_warc_files, synthesize_warc_files

    recs = parse_warc_files(synthesize_warc_files(spark, sf_dir))
    return recs.filter("ok").select(
        "url",
        "warc_ts",
        "status",
        "content_type",
        "n_bytes",
        F.md5(F.col("html")).alias("html_md5"),
    )


def _q_page_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction over the synthetic pages: each page provably
    yields its 4 nav/footer links resolved against the page url."""
    from readability_spark.operators.links import extract_outlinks

    return extract_outlinks(_pages(spark, sf_dir))


def _q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph: page links collapsed to weighted host→host
    edges (the 10^12→10^7 reduction before any graph algorithm)."""
    from readability_spark.operators.links import extract_outlinks, host_graph

    return host_graph(extract_outlinks(_pages(spark, sf_dir)))


def _pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic non-trivial doc-derived graph on 97 nodes: a quadratic
    (non-bijective → varied in-degree) map plus a cycle edge guaranteeing
    every node has out-edges (no dangling mass; the operator still computes
    the dangling term — provably 0.0 here, mirrored by its absence in the
    oracle)."""
    docs = _docs(spark, sf_dir)
    quad = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 1) % 97).alias("dst"),
    )
    cyc = docs.select(
        (F.col("doc_id") % 97).alias("src"), ((F.col("doc_id") + 1) % 97).alias("dst")
    )
    return quad.unionByName(cyc)


def _q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 rounds of damped PageRank; the oracle unrolls the identical power
    iteration as 10 CTE rounds, so every join/sum round-trips exactly
    (ranks rounded once, at the end, via the shared floor trick)."""
    from readability_spark.operators.graph import pagerank

    pr = pagerank(_pagerank_edges(spark, sf_dir), n_iter=10)
    return pr.select(
        "node", (F.floor(F.col("rank") * 10000.0 + 0.5) / 10000.0).alias("rank")
    )


def _q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction groups over the z-order file manifest
    (target 100 rows/group): consecutive files packed by running-sum
    binning, preserving cluster order. Oracle nests the zorder oracle
    and mirrors the exclusive-prefix-sum grouping."""
    from readability_spark.operators.layout import compaction_plan, zorder_layout

    dims = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 256).alias("xb"),
        (F.col("n_chars") % 256).alias("yb"),
    )
    manifest = zorder_layout(dims, ["xb", "yb"], bits=8, file_bits=6)
    return compaction_plan(manifest, target_rows=100)


def _q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl scheduling: PageRank the host graph, then
    waterfill a 1000-fetch budget proportional to the ROUNDED ranks
    under a 25-fetch politeness cap (the high-authority hosts saturate
    it). Oracle nests the full unrolled-pagerank oracle as a CTE and
    mirrors the weighted-waterfilling windows."""
    from readability_spark.operators.frontier import crawl_budget_waterfill
    from readability_spark.operators.graph import pagerank

    pr = pagerank(_pagerank_edges(spark, sf_dir), n_iter=10).select(
        "node", (F.floor(F.col("rank") * 10000.0 + 0.5) / 10000.0).alias("rank")
    )
    return crawl_budget_waterfill(pr, budget=1000.0, per_host_cap=25.0)


def _q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order file layout over (doc-id bucket × length bucket): the file
    manifest + per-file bounding boxes a Morton-clustered write produces.
    The Morton code and the oracle's SQL come from ONE generator
    (layout.zorder_sql), so the interleave is mirrored bit-for-bit."""
    from readability_spark.operators.layout import zorder_layout

    dims = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 256).alias("xb"),
        (F.col("n_chars") % 256).alias("yb"),
    )
    return zorder_layout(dims, ["xb", "yb"], bits=8, file_bits=6)


def _q_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour distinct-user HLL (register-level-verifiable) + exact count;
    the register table is the streaming-state form (see
    streaming.stream_window_distinct, parity-tested in
    tests/test_spark_pipeline.py)."""
    from readability_spark.streaming.stream import windowed_distinct_users_batch

    out = windowed_distinct_users_batch(spark, sf_dir)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_registers",
        "max_register",
        "sum_registers",
        "raw_est",
        "hll_est",
        "n_exact",
    )


def _q_exact_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr spans with rank-certified (hash-free) window identity:
    6-token windows, k=4 doubling ranks at p and p+2 overlap-cover the
    window. Oracle groups the materialized window strings directly."""
    from readability_spark.operators.suffix import exact_duplicate_spans

    return exact_duplicate_spans(_docs(spark, sf_dir), length=6)


def _q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup with REMOVAL over the injected-duplicates corpus:
    every 6-token window appearing >= 2 times corpus-wide keeps its first
    occurrence (smallest doc_id, p) and every token covered by any other
    occurrence is cut; cleaned text reassembles per doc. The injected
    full-doc copies guarantee whole documents collapse to ''. The oracle
    mirrors the md5 window keys, the (doc_id, p) survivor election, and
    the position-coverage anti-join."""
    from readability_spark.operators.dedup import with_injected_duplicates
    from readability_spark.operators.spans import remove_duplicate_spans

    return remove_duplicate_spans(
        with_injected_duplicates(_docs(spark, sf_dir)), length=6
    )


def _q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL Rademacher projection 64→16 dims: one codegen projection, zero
    shuffles; the md5-seeded sign matrix and left-deep addition chain are
    regenerated identically in the oracle, so values match bit-for-bit
    before the shared round(6)."""
    from readability_spark.operators.projection import jl_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = jl_project(emb, "embedding", in_dim=64, out_dim=16)
    return out.select(
        "vec_id",
        *[F.round(F.col(f"p{j:02d}"), 6).alias(f"p{j:02d}") for j in range(16)],
    )


def _q_suffix_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed prefix-doubling suffix array (token-level, suffixes end
    at doc boundaries — the ExactSubstr building block). The oracle ranks
    the materialized suffix strings directly; space < every token char, so
    joined-string order == token-sequence order."""
    from readability_spark.operators.suffix import suffix_ranks

    out = suffix_ranks(_docs(spark, sf_dir))
    return out.select("doc_id", F.col("p").cast("long").alias("p"), "rank")


def _q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 rounds of HITS on the same doc-derived 97-node graph as pagerank;
    the oracle unrolls the identical half-steps (L2-normalized) as CTEs."""
    from readability_spark.operators.graph import hits

    out = hits(_pagerank_edges(spark, sf_dir), n_iter=8)
    return out.select(
        "node",
        (F.floor(F.col("authority") * 10000.0 + 0.5) / 10000.0).alias("authority"),
        (F.floor(F.col("hub") * 10000.0 + 0.5) / 10000.0).alias("hub"),
    )


def _q_incremental_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated incremental dedup: batch rows whose text was never
    seen in the history partition (doc_id % 3 == 0 simulates the prior
    crawl). The Bloom layer is a physical optimization only — exact verify
    on bloom-positives makes the output literally anti-join semantics, so
    the oracle is a NOT EXISTS."""
    from readability_spark.operators.bloom import incremental_new_docs

    docs = _docs(spark, sf_dir)
    history = docs.filter("doc_id % 3 = 0")
    return incremental_new_docs(docs, history, key_col="text").select("doc_id", "lang")


def _q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text-layer round trip: build a valid FlateDecode PDF per doc
    (parenthesized header line + text wrapped at col 80), extract the text
    back with the stream/operator walker. The layout is a SQL-replicable
    function of (doc_id, text), so the oracle checks the recovered text
    exactly."""
    from readability_spark.operators.pdftext import pdf_extract, synthesize_pdfs

    out = pdf_extract(synthesize_pdfs(_docs(spark, sf_dir)))
    return out.filter("ok").select("doc_id", "n_pages", "text")


def _q_corpus_pack_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase histogram packing over the few-giant-groups layout
    (budget per lang). Returns the identical admitted set as exact greedy
    (monotone binning), so the oracle is the same windowed SQL."""
    from readability_spark.plans.pipeline import pack_by_token_budget_binned

    return pack_by_token_budget_binned(
        _docs(spark, sf_dir), budget_tokens=1500, group_col="lang"
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import exact_duplicates, with_injected_duplicates

    groups = exact_duplicates(with_injected_duplicates(_docs(spark, sf_dir)))
    return groups.select(
        "fp",
        "n_copies",
        "keep_id",
        F.array_join(F.transform("doc_ids", lambda x: x.cast("string")), ",").alias("dup_ids"),
    )


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import minhash_lsh_pairs, with_injected_duplicates

    return minhash_lsh_pairs(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup admission of a synthetic crawl increment (injected copies +
    every 7th original) against the remaining corpus as history — banded
    minhash probe, exact-Jaccard verify on collisions only."""
    from readability_spark.operators.dedup import (
        DUP_OFFSET,
        incremental_minhash_new,
        with_injected_duplicates,
    )

    d = with_injected_duplicates(_docs(spark, sf_dir))
    is_new = (F.col("doc_id") >= DUP_OFFSET) | (F.col("doc_id") % 7 == 2)
    return incremental_minhash_new(d.filter(is_new), d.filter(~is_new))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import near_dup_clusters, with_injected_duplicates

    return near_dup_clusters(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_domain_mix_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style Group-DRO domain reweighting: train the logistic proxy
    with per-domain multiplicative weights (exponentiated gradient on
    clipped excess loss vs the ln-2 trivial baseline) over the `source`
    column as the domain, 8 rounds. The oracle unrolls the identical
    rounds — per-domain loss/gradient aggregation, alpha update with
    window-function normalization + uniform smoothing, weighted theta
    step — as 3 CTEs per round, so the whole Group-DRO recurrence is
    value-checked."""
    from readability_spark.operators.classifier import (
        domain_mix_report,
        quality_features,
    )

    docs = _docs(spark, sf_dir).withColumnRenamed("source", "domain")
    feats = quality_features(docs, keep_cols=("domain",)).cache()
    return domain_mix_report(feats, lr=0.5, eta=4.0, smoothing=0.05, n_iter=8)


def _q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror/syndication report over the injected-duplicate corpus:
    verified near-dup pairs aggregated by unordered source pair. Oracle
    joins the same pairs CTE to the corpus on both endpoints."""
    from readability_spark.operators.dedup import (
        near_dup_source_matrix,
        with_injected_duplicates,
    )

    return near_dup_source_matrix(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-style reweighting over the injected-duplicate corpus:
    every doc keeps weight cluster_size^-0.5 (unique docs 1.0). Oracle
    recomputes the minhash pair graph, the recursive-CTE components, and
    the power weights."""
    from readability_spark.operators.dedup import (
        soft_dedup_weights,
        with_injected_duplicates,
    )

    return soft_dedup_weights(with_injected_duplicates(_docs(spark, sf_dir)), alpha=0.5)


_QUOTAS = {"en": 120, "es": 40, "de": 40, "zh": 100}


def _q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quota sampling for eval-set construction:
    exactly min(quota, n_lang) docs per stratum in unit-hash order (zh
    quota 100 > its 75 docs at sf0.01, exercising the exhausted-stratum
    path; fr is unlisted and dropped). Oracle ranks the same md5 unit
    hash single-phase; the salted two-phase Spark rank must match it
    row-for-row."""
    from readability_spark.operators.sampling import quota_sample

    return quota_sample(_docs(spark, sf_dir), _QUOTAS)


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5/XLM-R-style temperature sampling at tau=0.3 over the same 52k
    budget as unimax_alloc — proportional-to-n^tau shares, flattened
    toward uniform. Oracle mirrors the power/normalize windows."""
    from readability_spark.operators.sampling import temperature_mix

    return temperature_mix(_docs(spark, sf_dir), budget_tokens=52000.0, tau=0.3)


def _q_domain_quality_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes per-domain quality reputation: method-of-moments
    Beta prior over per-source good-doc rates (good = rounded composite
    quality >= 0.55), posterior-mean shrinkage per domain. Oracle mirrors
    the gate, the moment windows, and the degenerate-variance fallback."""
    from readability_spark.operators.textstats import domain_quality_prior

    return domain_quality_prior(_docs(spark, sf_dir))


def _q_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation across sources: waterfilling a 52k-token
    budget at epoch cap 2.0 — at sf0.01 this lands in the mixed regime
    (small sources capped at 2 epochs, large ones share the remainder at
    the water level). The oracle mirrors the closed-form window
    arithmetic (prefix sums, capped-prefix index t, water level) exactly."""
    from readability_spark.operators.sampling import unimax_allocation

    return unimax_allocation(_docs(spark, sf_dir), budget_tokens=52000.0, epoch_cap=2.0)


def _q_split_dedup_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split audit over the injected-duplicate corpus: assign
    whole near-dup clusters to train/val/test by cluster-key unit hash,
    report per-split sizes, clustered mass, and the straddling-pair
    invariant (must be 0). Oracle recomputes the pair graph, the
    recursive-CTE components, the md5 unit-hash assignment, and the
    straddle join."""
    from readability_spark.operators.dedup import with_injected_duplicates
    from readability_spark.operators.sampling import split_leakage_audit

    return split_leakage_audit(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def _q_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import simhash64

    return simhash64(_docs(spark, sf_dir))


def _q_simhash64_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import simhash64_near_pairs, with_injected_duplicates

    return simhash64_near_pairs(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import ngram_jaccard_pairs, with_injected_duplicates

    return ngram_jaccard_pairs(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-10 most-similar cross-label
    vectors per query, near-duplicates above rounded cosine 0.95
    excluded. Oracle mirrors the cross-label join, the rounded-cosine
    cap, and the (cosine DESC, vec_id) rank."""
    from readability_spark.operators.similarity import hard_negatives, load_embeddings

    return hard_negatives(load_embeddings(spark, sf_dir))


def _q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.similarity import cosine_topk, load_embeddings

    return cosine_topk(load_embeddings(spark, sf_dir))


def _q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-10 (FAISS-SQ8-style bandwidth path): exact
    integer dot/norms on the quantized grid, one double division at the end,
    so the oracle reproduces scores bit-for-bit."""
    from readability_spark.operators.similarity import int8_cosine_topk, load_embeddings

    return int8_cosine_topk(load_embeddings(spark, sf_dir))


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.similarity import load_embeddings, lsh_topk

    return lsh_topk(load_embeddings(spark, sf_dir))


def _q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: 6 tables (vs the single-probe query's 16) with
    radius-1 bit flips on the query probes — the classic index-size
    saving (Lv et al. 2007): (1+b) probes per table recover the recall
    of ~b extra tables without storing them. Oracle mirrors the probe
    expansion with xor flips."""
    from readability_spark.operators.similarity import load_embeddings, lsh_topk

    return lsh_topk(load_embeddings(spark, sf_dir), n_tables=6, probe_radius=1)


def _q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell z-scored distance-to-centroid outlier flags over the
    embeddings table — the vector-cleaning pass. Oracle mirrors the
    argmax assignment, the cell moments, and the rounded-z gate."""
    from readability_spark.operators.similarity import embedding_outliers, load_embeddings

    return embedding_outliers(load_embeddings(spark, sf_dir))


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.similarity import (
        embedding_near_dup_pairs,
        load_embeddings,
        with_injected_near_dups,
    )

    # n_planes pinned: the oracle mirrors b=8, L=8, dim=64 literally — a
    # derived value would silently diverge at other table sizes/dims
    return embedding_near_dup_pairs(
        with_injected_near_dups(load_embeddings(spark, sf_dir)), n_planes=8, n_tables=8
    )


def _q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.multimodal import extract_media_metadata, synthesize_media

    return extract_media_metadata(synthesize_media(_docs(spark, sf_dir)))



def _q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.streaming.stream import user_sessions_batch

    return user_sessions_batch(spark, sf_dir)



def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.multimodal import (
        extract_media_metadata,
        sample_frames,
        synthesize_media,
    )

    return sample_frames(extract_media_metadata(synthesize_media(_docs(spark, sf_dir))))


def _q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.streaming.stream import windowed_event_counts_batch

    out = windowed_event_counts_batch(spark, sf_dir)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )



def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase stamped with the user's latest prior view
    (union-window formulation — one shuffle, no per-key inequality join)."""
    from readability_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    out = asof_join(
        purchases,
        views,
        key="user_id",
        ts="ts",
        right_value_cols=["event_id", "value"],
        right_id="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("view_event_id"),
        F.round("asof_value", 4).alias("view_value"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("lag_micros"),
    )


def _q_events_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range-overlap) join: clicks inside each signup's 30-minute
    attribution window, bucketized so the theta-join becomes an equi-join."""
    from readability_spark.operators.temporal import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"), "user_id", "ts"
    )
    out = interval_join(clicks, iv, key="user_id", ts="ts", bucket_seconds=1800)
    return out.select("signup_event_id", "click_event_id", "user_id")


def _q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram PMI collocations (Church & Hanks), min_count=5."""
    from readability_spark.operators.collocations import pmi_bigrams

    out = pmi_bigrams(_docs(spark, sf_dir), min_count=5)
    return out.select("a", "b", "n_ab", F.round("pmi", 6).alias("pmi"))


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact consecutive-phrase lookup via positional postings pruned to the
    phrase's own terms before the shuffle."""
    from readability_spark.operators.collocations import phrase_search

    return phrase_search(_docs(spark, sf_dir), ["table", "part"])


def _q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global training order 0..n-1 with NO single-task global sort
    (256-bucket two-phase rank; bit-identical to the naive global window)."""
    from readability_spark.operators.ordering import global_shuffle_index

    return global_shuffle_index(_docs(spark, sf_dir), seed="r4:")


def _q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite selection: lang=en + quality>=0.5 + exact-dedup keepers."""
    from readability_spark.operators.dedup import with_injected_duplicates
    from readability_spark.plans.pipeline import select_training_corpus

    return select_training_corpus(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_resume_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume protocol: buckets NOT yet in the manifest via a
    broadcast anti-join — the pending-work query a restarted job runs
    first (job.py runs the xxhash64 production form)."""
    # resume protocol demo with a portable bucket key (prod uses xxhash64;
    # doc_id % N keeps the oracle engine-independent)
    docs = _docs(spark, sf_dir).withColumn("bucket", F.col("doc_id") % 32)
    manifest = spark.range(16).select(F.col("id").alias("bucket"))
    pending = docs.join(F.broadcast(manifest), "bucket", "left_anti")
    return pending.groupBy("bucket").agg(F.count("*").alias("n_pending"))


def _q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: one scan of lineitem, map-side
    partial aggregation into 4 group keys."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
    )


def _q_tpch_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation: fact-fact join on orderkey, customer and nation
    dimensions broadcast (pinned in test_plan_shape)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def _q_tpch_region_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table star join: all dimensions broadcast, one scan of lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
    )


def _q_docs_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(lang, source) corpus stats — the grouping-sets pattern used for
    per-partition lineage/metrics dashboards at scale."""
    docs = _docs(spark, sf_dir)
    return docs.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
    )


def _link_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JVM-only discovered-links table derived from documents:
    11 source hosts, 7 target hosts, 3 path depths, 5 page slots → 105
    distinct hrefs with dense collisions (varied n_refs, contested modal
    anchors) even at the 500-doc gate scale."""
    docs = _docs_slim(spark, sf_dir)
    d = F.col("doc_id")
    seg = (
        F.when(d % 3 == 0, F.concat(F.lit("/p"), (d % 5).cast("string")))
        .when(d % 3 == 1, F.concat(F.lit("/a/p"), (d % 5).cast("string")))
        .otherwise(F.concat(F.lit("/a/b/p"), (d % 5).cast("string")))
    )
    return docs.select(
        d.alias("doc_id"),
        F.concat(
            F.lit("http://h"), (d % 11).cast("string"), F.lit(".fakehost/p/"), d.cast("string")
        ).alias("url"),
        F.concat(F.lit("http://t"), (d % 7).cast("string"), F.lit(".fakehost"), seg).alias(
            "href"
        ),
        F.concat(F.element_at(F.split("text", " "), 1), F.lit(" "), F.col("lang")).alias(
            "anchor"
        ),
    )


def _q_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text profile per link target (modal anchor, distinct
    anchors/hosts, inlink counts) over the synthetic discovered-links table."""
    from readability_spark.operators.links import anchor_profile

    return anchor_profile(_link_table(spark, sf_dir))


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 per query for three fixed corpus-vocabulary queries;
    the oracle replays the identical Lucene-idf arithmetic in SQL (shared
    literal expression trees, round4 floor trick, doc_id tiebreak)."""
    from readability_spark.operators.lexsearch import bm25_topk

    qdf = spark.createDataFrame(
        [(0, "customer window join"), (1, "vector stream hash"), (2, "the slow merge")],
        ["query_id", "query"],
    )
    return bm25_topk(_docs(spark, sf_dir), qdf, k=10)


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF keywords (sklearn smoothed idf); ranks over
    the round4-floored score with a term tiebreak so the oracle replays the
    identical ordering."""
    from readability_spark.operators.lexsearch import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=5)


def _frontier_host_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, host_score) prior for the 7 target hosts: 1.0 + m/10."""
    docs = _docs(spark, sf_dir)
    m = (F.col("doc_id") % 7).cast("double")
    return docs.select(
        F.concat(F.lit("t"), (F.col("doc_id") % 7).cast("string"), F.lit(".fakehost")).alias(
            "host"
        ),
        (F.lit(1.0) + m / F.lit(10.0)).alias("host_score"),
    ).distinct()


def _q_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier prioritization: discovered links minus the crawled set
    (all slot-0 hrefs — 21 of the 105 href classes), scored
    host_score*n_refs/(1+depth), politeness-capped at 100/host via the
    salted two-phase rank."""
    from readability_spark.operators.frontier import prioritize_frontier

    links = _link_table(spark, sf_dir)
    crawled = links.filter(F.col("doc_id") % 5 == 0).select(F.col("href").alias("url"))
    return prioritize_frontier(
        links, crawled, host_scores=_frontier_host_scores(spark, sf_dir), k_per_host=100
    )


def _q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap writer → distributed parser roundtrip: the oracle constructs
    the expected entry rows from first principles (per-host md5 branches),
    so a parse bug on ANY branch — entity escapes, lastmod datetime prefix,
    invalid changefreq, priority clamp, loc-less drop, index entries —
    breaks the match."""
    from readability_spark.sources.sitemaps import parse_sitemaps, synthesize_sitemaps

    return parse_sitemaps(synthesize_sitemaps(_docs(spark, sf_dir)))


def _sitemap_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ledger: /a fetched 2026-07-10 on every host; /b fetched
    2026-08-05 on the md5-first-hex 0-7 half of hosts."""
    docs = _docs(spark, sf_dir)
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).distinct()
    a = hosts.select(
        F.concat(F.lit("http://"), F.col("host"), F.lit("/a?x=1&y=2")).alias("url"),
        F.lit("2026-07-10").cast("date").alias("fetched_on"),
    )
    b = hosts.filter(F.substring(F.md5("host"), 1, 1).isin(*"01234567")).select(
        F.concat(F.lit("http://"), F.col("host"), F.lit("/b")).alias("url"),
        F.lit("2026-08-05").cast("date").alias("fetched_on"),
    )
    return a.unionByName(b)


def _q_sitemap_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publisher-hint recrawl triage: parsed urlset entries joined against
    the crawl ledger → new / stale (lastmod after our fetch) / fresh."""
    from readability_spark.sources.sitemaps import (
        parse_sitemaps,
        sitemap_recrawl_candidates,
        synthesize_sitemaps,
    )

    entries = parse_sitemaps(synthesize_sitemaps(_docs(spark, sf_dir)))
    return sitemap_recrawl_candidates(entries, _sitemap_ledger(spark, sf_dir))


def _q_refetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho & Garcia-Molina change-rate crawl scheduling over three synthetic
    snapshots: fold the pairwise snapshot diffs into a per-doc change
    ledger, then estimate the Poisson rate and clamped re-fetch interval.
    Membership filters (doc_id % 16) exercise the added/removed exclusion."""
    from readability_spark.operators.snapshots import change_history, refetch_schedule

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    s0 = docs.filter(d % 16 != 0).select("doc_id", "text")
    s1 = docs.filter(d % 16 != 1).select(
        "doc_id",
        F.when(d % 3 == 0, F.concat("text", F.lit(" v1"))).otherwise(F.col("text")).alias("text"),
    )
    s2 = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.when(d % 3 == 0, F.lit(" v2")).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit(" w")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return refetch_schedule(change_history([s0, s1, s2]))


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the batch-GD logistic quality classifier (16 rounds, lr=4) on
    the deterministic separable feature frame, then score every doc with
    the learned weights. The oracle unrolls the identical 16 gradient
    rounds as CTEs (PageRank-style), so a drift in the gradient math,
    update rule, or feature derivation breaks the match."""
    from readability_spark.operators.classifier import (
        quality_features,
        score_logreg,
        train_logreg,
    )

    feats = quality_features(_docs_slim(spark, sf_dir)).cache()
    w = train_logreg(feats, lr=4.0, n_iter=16)
    return score_logreg(feats, w)


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM perplexity bands: train the add-k model on the
    deterministic 80% corpus slice, score every doc, band on fixed
    thresholds. The oracle recomputes the identical model and smoothed
    log-probs in SQL, so the training counts, smoothing, and scoring join
    are all value-checked end to end."""
    from readability_spark.operators.lm import lm_perplexity

    # thresholds sit inside the synthetic corpus's ppl range (26.5-37.6 at
    # sf0.01) so all three bands are exercised; in production these are the
    # per-language cutoffs CCNet computes offline and ships as config
    return lm_perplexity(_docs(spark, sf_dir), head_max=29.0, middle_max=30.5)


_BAND_RATES = {"head": 1.0, "middle": 0.5, "tail": 0.1}


def _q_ccnet_band_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed CCNet selection step: perplexity-band the corpus
    (lm_perplexity) then keep head/middle/tail at 1.0/0.5/0.1 via the
    deterministic unit-hash stratified sampler — two already-verified
    operators chained as one pipeline stage. The oracle nests the full
    LM oracle as a CTE and applies the same md5 hash gate."""
    from readability_spark.operators.lm import lm_perplexity
    from readability_spark.operators.sampling import stratified_sample

    bands = lm_perplexity(
        _docs(spark, sf_dir), head_max=29.0, middle_max=30.5
    ).select("doc_id", "band")
    return stratified_sample(bands, _BAND_RATES, stratum_col="band")


def _q_lm_ppl_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet adaptive banding: per-language percentile cut points computed
    on the 60% deterministic hash sample of the scored corpus, broadcast
    back, every doc banded against its own language's cutoffs. The oracle
    recomputes the model, the md5 unit-hash sample, the quantile_cont cut
    points, and the banding join end to end."""
    from readability_spark.operators.lm import lm_perplexity_adaptive

    return lm_perplexity_adaptive(_docs(spark, sf_dir), cut_sample_rate=0.6)


def _q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.bpe import bpe_vocab

    return bpe_vocab(_docs(spark, sf_dir), num_merges=8)


def _q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.bpe import bpe_segment, bpe_vocab

    docs = _docs(spark, sf_dir)
    seg = bpe_segment(docs, bpe_vocab(docs, num_merges=8))
    return seg.select(
        "doc_id",
        F.concat_ws(" ", "tokens").alias("text_seg"),
        "n_tokens",
    )


def _q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility under the learned 8-merge BPE
    vocabulary: subword tokens per word + chars per token, per lang.
    Oracle nests the full bpe_segment oracle as a CTE and aggregates."""
    from readability_spark.operators.bpe import bpe_fertility, bpe_vocab

    docs = _docs(spark, sf_dir)
    return bpe_fertility(docs, bpe_vocab(docs, num_merges=8))


def _q_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.jpeg import jpeg_pixel_stats, synthesize_jpegs

    return jpeg_pixel_stats(synthesize_jpegs(_docs(spark, sf_dir)))


def _q_cdx_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.sources.cdx import parse_cdx_lines, synthesize_cdx_lines

    return parse_cdx_lines(synthesize_cdx_lines(_docs(spark, sf_dir)))


def _q_mp3_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.mp3 import mp3_duration_stats, synthesize_mp3s

    return mp3_duration_stats(synthesize_mp3s(_docs(spark, sf_dir)))


def _q_h264_sps_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.h264 import h264_sps_dims, synthesize_sps

    return h264_sps_dims(synthesize_sps(_docs(spark, sf_dir)))


def _q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-token estimate per source, with the exact count
    joined on so the driver value-checks registers, estimate, AND the
    ground truth the estimate approximates."""
    from readability_spark.operators.sketches import hll_distinct

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    sk = hll_distinct(toks, "source", "tok").withColumnRenamed("grp", "source")
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("n_exact")
    )
    return sk.join(exact, "source")


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point queries for the exact top-20 tokens: the output
    carries the true count next to the sketch estimate, so the driver
    value-checks the full d×w table contents through the min-estimator."""
    from readability_spark.operators.sketches import cms_estimate, cms_table

    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count("*").alias("n_exact"))
    topk = exact.orderBy(F.desc("n_exact"), "tok").limit(20)
    est = cms_estimate(cms_table(toks, "tok"), topk.select("tok"), "tok")
    return topk.join(est, topk.tok == est.q_item).select(
        "tok", "n_exact", "cms_est"
    )


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k over the embeddings table: trained
    per-subspace codebooks (quantized Lloyd), integer micro-unit ADC sums
    so ordering is engine-exact."""
    from readability_spark.operators.pq import pq_adc_topk
    from readability_spark.operators.similarity import load_embeddings

    return pq_adc_topk(load_embeddings(spark, sf_dir))


def _q_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k set algebra between every pair of crawl sources:
    union / Jaccard / intersection estimates over token vocabularies.
    The integer order statistics (k_used, h_k, n_matches) are in the
    output so the driver value-checks the sketch contents, not just the
    rounded estimates."""
    from readability_spark.operators.kmv import kmv_set_ops, kmv_sketch

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    return kmv_set_ops(kmv_sketch(toks, "source", "tok"))


def _q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.normalize import (
        normalize_text,
        with_messy_text,
    )

    return normalize_text(with_messy_text(_docs(spark, sf_dir)))


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import (
        canonical_survivors,
        with_injected_duplicates,
    )

    return canonical_survivors(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.temporal import funnel_counts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_counts(events, FUNNEL_STAGES)


FUNNEL_STAGES = ("view", "click", "signup", "purchase")


def _q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import (
        script_mix,
        with_injected_scripts,
    )

    return script_mix(with_injected_scripts(_docs(spark, sf_dir)))


def _q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import vocab_growth

    return vocab_growth(_docs(spark, sf_dir))


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import (
        ngram_containment_pairs,
        with_injected_fragments,
    )

    return ngram_containment_pairs(with_injected_fragments(_docs(spark, sf_dir)))


def _q_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.sketches import quantile_histogram_estimates

    return quantile_histogram_estimates(_docs(spark, sf_dir), "lang", "n_chars")


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.spans import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


def _q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.sampling import chunk_sliding

    return chunk_sliding(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)


def _q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.plans.pipeline import key_skew_report

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return key_skew_report(events, "user_id")


def _q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.textstats import token_drift

    return token_drift(_docs(spark, sf_dir))


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import with_injected_fragments
    from readability_spark.operators.spans import winnow_pairs

    return winnow_pairs(with_injected_fragments(_docs(spark, sf_dir)))


def _q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import (
        dedup_eval_recall,
        with_injected_duplicates,
    )

    return dedup_eval_recall(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement: the 100
    token-count-weighted docs with the smallest deterministic exponential
    keys. Oracle recomputes -ln(u)/w from the same md5 unit hash and
    ranks single-phase; Spark's TakeOrderedAndProject must match it
    row-for-row on the quantized keys."""
    from readability_spark.operators.sampling import weighted_sample

    return weighted_sample(_docs(spark, sf_dir), k=100)


def _q_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019) between the
    even- and odd-label halves of the embeddings table: forward-best
    margin per source vector above 1.0, with the mutual-best flag. The
    executed candidate generator is the banded seeded-plane LSH shortlist
    (the 10^12-vector plan — no cross join anywhere; pinned in
    test_plan_shape.py); the oracle replays the identical key arithmetic,
    shortlist, and margin math in SQL. Cosines are quantized to bigints
    before the neighborhood sums, so the margin is one exact-integer
    division — bit-identical across engines."""
    from readability_spark.operators.bitext import bitext_margin_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return bitext_margin_pairs(emb, k=4, threshold=1.0)


def _q_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-curve banding planner for a 128-permutation MinHash at Jaccard
    threshold 0.7: one row per (bands, rows) divisor split with the
    false-positive / false-negative grid masses. The Spark expression
    chains and the SQL oracle come from one square-and-multiply
    generator (planner.py), so every double op is shared."""
    from readability_spark.operators.planner import lsh_parameter_plan

    return lsh_parameter_plan(spark, perms=128, threshold=0.7)


def _q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level Shannon entropy quality proxy per doc (the codec-free
    gzip-ratio analogue): per-char-count terms quantized to bigints before
    the per-doc sum, so both engines aggregate exact integers."""
    from readability_spark.operators.textstats import char_entropy

    return char_entropy(_docs(spark, sf_dir))


def _q_encoding_damage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / encoding-damage signals over synthetically damaged docs
    (doc_id % 8 keys seven damage classes + one clean class): U+FFFD
    residue, raw C1 controls, UTF-8-as-cp1252 2/3/4-byte artifacts
    (4-byte = misdecoded emoji), double-escaped entities, numeric-entity
    residue. Pure regexp_count projection; the oracle embeds the identical
    pattern strings."""
    from readability_spark.operators.encoding import (
        encoding_damage,
        with_synthetic_mojibake,
    )

    return encoding_damage(with_synthetic_mojibake(_docs(spark, sf_dir)))


def _q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-lite single-pass repair of the same damaged docs: the shared
    REPAIR_TABLE applied as a literal-replace chain (longest artifact
    first) in both engines."""
    from readability_spark.operators.encoding import (
        mojibake_repair,
        with_synthetic_mojibake,
    )

    return mojibake_repair(with_synthetic_mojibake(_docs(spark, sf_dir)))


def _q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade: exact integer regex
    counts (sentence runs, letter-run words, vowel-run + consonant-only
    syllable proxy), ratios round4-quantized before the linear formulas so
    the doubles are hash-stable cross-engine. Zero-shuffle projection."""
    from readability_spark.operators.textstats import readability_scores

    return readability_scores(_docs(spark, sf_dir))


def _q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (aHash-banded) near-dup pairs over the synthesized PNG
    corpus ∪ byte-identical copies of every 10th image (copied AFTER
    synthesis so the copy keeps the original's pixels — guaranteed
    Hamming-0 pairs; organic near pairs from the closed-form pixel
    pattern join them). The oracle recomputes aHash from the closed form
    and applies the same one-level banding + popcount verify."""
    from readability_spark.operators.imaging import image_near_dup

    return image_near_dup(_image_stats_injected(spark, sf_dir))


def _image_stats_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.dedup import with_injected_duplicates
    from readability_spark.operators.imaging import (
        image_pixel_stats,
        synthesize_images,
    )

    imgs = with_injected_duplicates(synthesize_images(_docs(spark, sf_dir)))
    return image_pixel_stats(imgs)


def _q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic near-dup pairs over the synthesized WAV corpus ∪
    byte-identical copies of every 10th clip (copied AFTER synthesis so
    the copy keeps the original's PCM bytes — guaranteed Hamming-0
    pairs), completing the text/image/audio near-dup triple over the one
    shared banded Hamming join. The oracle recomputes the 64-bit
    sign-of-energy-delta fingerprint from the closed-form waveform and
    applies the same one-level banding + popcount verify."""
    from readability_spark.operators.audio import audio_near_dup

    return audio_near_dup(_audio_fp_injected(spark, sf_dir))


def _audio_fp_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from readability_spark.operators.audio import (
        audio_fingerprint,
        synthesize_audio,
    )
    from readability_spark.operators.dedup import with_injected_duplicates

    wavs = with_injected_duplicates(synthesize_audio(_docs(spark, sf_dir)))
    return audio_fingerprint(wavs)


def _q_multimodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint image-text near-dup over the SAME injected-copy corpus on
    both modalities: caption simhash64 pairs ∩ image aHash pairs (a pair
    must be near on BOTH to count — the LAION-style drop criterion).
    Every 10th doc is copied byte-identically in both modalities, so the
    joint graph provably contains those (text 0, image 0) pairs; organic
    single-modality matches are correctly excluded by the join."""
    from readability_spark.operators.dedup import (
        joint_near_dup,
        simhash64_near_pairs,
        with_injected_duplicates,
    )

    text_pairs = simhash64_near_pairs(with_injected_duplicates(_docs(spark, sf_dir)))
    return joint_near_dup(text_pairs, _q_image_near_dup(spark, sf_dir))


def _q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination over the embeddings table: the
    benchmark is vec_id % 17 == 3 (the same membership rule the n-gram
    decontaminate uses on documents), and every benchmark vector is also
    injected verbatim into the training pool at vec_id + 2,000,000 —
    known cosine-1.0 leakage the pass provably must flag; organic random
    64-d vectors sit far below tau."""
    from readability_spark.operators.decontam import (
        BENCH_MOD,
        BENCH_REM,
        SEM_INJECT_OFFSET,
        semantic_decontaminate,
    )
    from readability_spark.operators.similarity import load_embeddings

    emb = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    is_bench = (F.col("vec_id") % BENCH_MOD) == BENCH_REM
    bench = emb.filter(is_bench)
    train = emb.filter(~is_bench).unionByName(
        bench.withColumn("vec_id", F.col("vec_id") + SEM_INJECT_OFFSET)
    )
    return semantic_decontaminate(train, bench)


def _q_pii_cc_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated credit-card detection over the injected corpus:
    doc_id % 7 == 2 carries a checksum-valid 16-digit number, % 7 == 5
    the same base with the check digit off by one — the validator must
    accept exactly the former. Both the injection's check-digit
    construction and the validation run the exact integer Luhn fold on
    both engines."""
    from readability_spark.operators.pii import cc_luhn_flags, with_injected_cc

    return cc_luhn_flags(with_injected_cc(_docs(spark, sf_dir)))


def _q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS over the image aHash pair graph — the same
    log-round connected-components + size rejoin the text minhash path
    uses, applied unchanged to a media modality (pair_graph_clusters is
    modality-agnostic). The oracle nests the image pair oracle inside the
    recursive-CTE transitive closure. The Spark side clusters the
    star-reduced edge set (image_dup_edges: one star edge per
    identical-aHash member + one rep edge per distinct-value near pair —
    linear where the full pair list is quadratic in flood sizes); the
    components, and therefore every output row, are identical."""
    from readability_spark.operators.dedup import pair_graph_clusters
    from readability_spark.operators.imaging import image_dup_edges

    return pair_graph_clusters(image_dup_edges(_image_stats_injected(spark, sf_dir)))


def _q_audio_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the audio fingerprint pair graph — the third
    modality through the one pair_graph_clusters layer (text minhash,
    image aHash, audio energy-delta: one components implementation, one
    recursive-CTE oracle shape). Clusters the star-reduced edge set
    (audio_dup_edges) — identical components to the full pair list."""
    from readability_spark.operators.audio import audio_dup_edges
    from readability_spark.operators.dedup import pair_graph_clusters

    return pair_graph_clusters(audio_dup_edges(_audio_fp_injected(spark, sf_dir)))


def _q_filter_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel attrition over the injected-duplicates corpus:
    5 cumulative stages (input → lang gate → Gopher rules → quality
    threshold → exact keep-first dedup among survivors), doc+token
    survival counts and round4 rates. One scan, one md5 Exchange, one
    global agg."""
    from readability_spark.operators.dedup import with_injected_duplicates
    from readability_spark.operators.textstats import filter_attrition

    return filter_attrition(
        with_injected_duplicates(_docs(spark, sf_dir)), stopwords=_SYNTH_STOPWORDS
    )


def _urls_for_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four deterministic url shapes keyed on doc_id % 4: ad-spam host
    (digit/hyphen subdomains, deep path, param farm), clean news path,
    query-id blog, percent-encoded path. The oracle rebuilds the same
    strings with ||."""
    d = F.col("doc_id")
    s = d.cast("string")
    url = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("http://promo-"), (d % 97).cast("string"),
                F.lit("-cheap4u.win7.ads.example.biz/a/b/c/d/e/p"), s,
                F.lit(".html?q=1&s=2&t=3"),
            ),
        )
        .when(d % 4 == 1, F.concat(F.lit("https://news.example.org/articles/"), s))
        .when(
            d % 4 == 2,
            F.concat(F.lit("http://blog.example.com/post?id="), s, F.lit("&ref=rss")),
        )
        .otherwise(F.concat(F.lit("http://www.example.net/p%20q%3A/"), s))
    )
    return _docs(spark, sf_dir).select("doc_id", url.alias("url"))


def _q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-shape spam features over the four synthesized url shapes.
    Pure regex/length codegen; the oracle mirrors every regex with
    DuckDB's 'g' replace flag."""
    from readability_spark.operators.urltools import url_features

    return url_features(_urls_for_features(spark, sf_dir))


def _q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-threshold calibration at keep-rate 0.4: each
    language's cutoff at the 0.6 quantile of its own quality scores
    (the CCNet normalization). The gate compares against the round4-ed
    quantile in both engines so interpolation ulps can't flip a doc."""
    from readability_spark.operators.textstats import quality_threshold_calibrate

    return quality_threshold_calibrate(_docs(spark, sf_dir), keep_rate=0.4)


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised spam/ham label propagation over the deterministic
    97-node doc graph (same edge synthesis as `_pagerank_edges`): nodes
    with node % 10 < 2 are seeds ('spam' when node % 3 == 0, else 'ham');
    3 rounds of clamped-seed majority vote, ties to the smaller label.
    Integer votes + total-order argmax -> byte-stable; the oracle unrolls
    the identical 3 rounds as CTEs."""
    from readability_spark.operators.graph import label_propagation

    edges = _pagerank_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    seeds = nodes.filter(F.col("node") % 10 < 2).select(
        "node",
        F.when(F.col("node") % 3 == 0, F.lit("spam")).otherwise(F.lit("ham")).alias(
            "label"
        ),
    )
    return label_propagation(edges, seeds, n_iter=3)


def _q_trustrank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the deterministic 97-node doc graph: teleport vector
    uniform over the 8 seed nodes (node % 13 == 0), 10 damped rounds —
    trust stays exactly 0 outside the seed-reachable set (the webspam
    property). No dangling nodes by construction (every node has
    out-edges), mirrored by the dangling term's absence in the unrolled
    oracle, exactly like `link_pagerank`."""
    from readability_spark.operators.graph import trustrank

    edges = _pagerank_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    seeds = nodes.filter(F.col("node") % 13 == 0).select("node")
    tr = trustrank(edges, seeds, n_iter=10)
    return tr.select(
        "node", (F.floor(F.col("trust") * 100000.0 + 0.5) / 100000.0).alias("trust")
    )


def _q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-<table> structure inventory + the reference IsDataTable verdict
    (core/readability.py:1142, reference Readability.cs MarkDataTables)
    over deterministically synthesized table-bearing pages: doc d (d%10==0)
    carries 1+d%3 tables; table t has 2+(d+t)%9 rows × 1+(3d+t)%5 cols,
    role=presentation when (d+t)%5==0, a caption when %4==0, a <th> header
    row when %3==0. The Spark side builds the html with column expressions,
    REALLY parses it (dom/parser via one mapInPandas), and walks the DOM;
    the oracle recomputes every stat and the full verdict chain from the
    same arithmetic — any parser/walk drift breaks the match."""
    from readability_spark.operators.tables import table_stats

    d = F.col("doc_id")

    def tbl(t: int):
        k = d + F.lit(t)
        r = (k % 9 + 2).cast("int")
        c = ((d * 3 + t) % 5 + 1).cast("int")
        hdr = (k % 3 == 0)
        open_tag = F.when(
            k % 5 == 0, F.lit('<table role="presentation">')
        ).otherwise(F.lit("<table>"))
        caption = F.when(k % 4 == 0, F.lit("<caption>T</caption>")).otherwise(
            F.lit("")
        )
        header_row = F.when(
            hdr,
            F.concat(F.lit("<tr>"), F.repeat(F.lit("<th>h</th>"), c), F.lit("</tr>")),
        ).otherwise(F.lit(""))
        body_n = F.when(hdr, r - 1).otherwise(r).cast("int")
        body = F.repeat(
            F.concat(F.lit("<tr>"), F.repeat(F.lit("<td>x</td>"), c), F.lit("</tr>")),
            body_n,
        )
        seg = F.concat(open_tag, caption, header_row, body, F.lit("</table>"))
        return F.when(F.lit(t) < d % 3 + 1, seg).otherwise(F.lit(""))

    pages = (
        _docs(spark, sf_dir)
        .filter(d % 10 == 0)
        .select(
            d.cast("string").alias("url"),
            F.concat(
                F.lit("<html><body>"), tbl(0), tbl(1), tbl(2), F.lit("</body></html>")
            ).alias("html"),
        )
    )
    return table_stats(pages).select(
        F.col("url").cast("bigint").alias("doc_id"),
        "table_idx",
        "n_rows",
        "n_cols",
        "has_caption",
        "has_header",
        "presentation",
        "is_data_table",
        "cell_chars",
    )


def _q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME sniffing vs the declared Content-Type over
    deterministically synthesized payloads: doc d carries payload kind
    d % 6 (pdf / png / jpeg / gzip / whitespace-prefixed html / plain
    text) but declares type (d // 6) % 6 — the routing matrix counts
    where headers lie. The sniff is a pure codegen CASE chain over
    hex(substring(payload)); the oracle recomputes the matrix from the
    synthesis arithmetic alone, so the byte-pattern table is what's
    under test."""
    from readability_spark.operators.mime import mime_mismatch_report

    d = F.col("doc_id")
    kinds = [
        F.concat(F.encode(F.lit("%PDF-1.4\n"), "UTF-8"), F.encode(F.col("text"), "UTF-8")),
        F.concat(F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")), F.encode(F.col("text"), "UTF-8")),
        F.concat(F.unhex(F.lit("FFD8FFE000104A464946")), F.encode(F.col("text"), "UTF-8")),
        F.concat(F.unhex(F.lit("1F8B0800")), F.encode(F.col("text"), "UTF-8")),
        F.encode(F.concat(F.lit("\n  <!doctype html><p>"), F.col("text")), "UTF-8"),
        F.encode(F.concat(F.lit("hello "), F.col("text")), "UTF-8"),
    ]
    payload = kinds[0]
    for i in range(5, 0, -1):
        payload = F.when(d % 6 == i, kinds[i]).otherwise(payload)
    declared = F.element_at(
        F.array(*[F.lit(m) for m in _MIME_DECLARED]),
        (F.floor(d / 6) % 6 + 1).cast("int"),
    )
    payloads = _docs(spark, sf_dir).select(
        payload.alias("payload"), declared.alias("declared")
    )
    return mime_mismatch_report(payloads)


_MIME_DECLARED = [
    "text/html",
    "text/plain",
    "application/pdf",
    "image/png",
    "application/octet-stream",
    "image/jpeg",
]
_MIME_SNIFFED = [
    "application/pdf",
    "image/png",
    "image/jpeg",
    "application/gzip",
    "text/html",
    "text/plain",
]


def _q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-doubling redirect-chain resolution over a synthesized
    redirect map: doc-id groups of 8 form chains n → n-1 → … → root
    (root = n - n%8); groups whose root % 40 == 0 additionally carry
    root → root+1, turning the chain bottom into a 2-cycle so the WHOLE
    group must come back looped. O(log hops) doubling joins on the Spark
    side; the oracle walks the same map with a depth-bounded WITH
    RECURSIVE and elects the terminal row."""
    from readability_spark.operators.urltools import resolve_redirects

    d = F.col("doc_id")
    docs = _docs(spark, sf_dir)
    chain = docs.filter(d % 8 != 0).select(
        d.alias("src"), (d - 1).alias("dst")
    )
    cyc = docs.filter(d % 40 == 0).select(d.alias("src"), (d + 1).alias("dst"))
    return resolve_redirects(chain.unionByName(cyc), max_hops=16)


def _q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed-entry extraction via Spark-native from_xml over
    synthesized feed payloads: doc d (d%7==0) publishes a feed of kind
    rss (d even) / atom (d odd) carrying 1 + d%4 entries with
    arithmetic-derived titles/links/dates. The Spark side must PARSE the
    XML (dialect detection, attribute href for Atom, posexplode); the
    oracle regenerates the rows from the synthesis arithmetic alone."""
    from readability_spark.sources.feeds import parse_feed_entries

    d = F.col("doc_id")
    site = F.concat(F.lit("http://site"), (d % 40).cast("string"), F.lit(".com"))

    def entry(j: int, atom: bool):
        eid = (d * 4 + j).cast("string")
        title = F.concat(
            F.lit("Entry "), d.cast("string"), F.lit("-"), F.lit(str(j))
        )
        link = F.concat(site, F.lit("/p/"), eid)
        pub = F.concat(
            F.lit("2024-01-01T00:00:"),
            F.lpad(((d + j) % 60).cast("string"), 2, "0"),
            F.lit("Z"),
        )
        if atom:
            seg = F.concat(
                F.lit("<entry><title>"), title,
                F.lit('</title><link href="'), link,
                F.lit('"/><updated>'), pub,
                F.lit("</updated><id>g"), eid, F.lit("</id></entry>"),
            )
        else:
            seg = F.concat(
                F.lit("<item><title>"), title,
                F.lit("</title><link>"), link,
                F.lit("</link><pubDate>"), pub,
                F.lit("</pubDate><guid>g"), eid, F.lit("</guid></item>"),
            )
        return F.when(F.lit(j) <= d % 4, seg).otherwise(F.lit(""))

    ftitle = F.concat(F.lit("Feed "), d.cast("string"))
    rss = F.concat(
        F.lit('<?xml version="1.0"?><rss version="2.0"><channel><title>'),
        ftitle, F.lit("</title>"),
        *[entry(j, False) for j in range(4)],
        F.lit("</channel></rss>"),
    )
    atom = F.concat(
        F.lit('<?xml version="1.0"?>'
              '<feed xmlns="http://www.w3.org/2005/Atom"><title>'),
        ftitle, F.lit("</title>"),
        *[entry(j, True) for j in range(4)],
        F.lit("</feed>"),
    )
    feeds = (
        _docs(spark, sf_dir)
        .filter(d % 7 == 0)
        .select(
            F.concat(site, F.lit("/feed"), d.cast("string"), F.lit(".xml")).alias(
                "url"
            ),
            F.when(d % 2 == 0, rss).otherwise(atom).alias("xml"),
        )
    )
    return parse_feed_entries(feeds)


def _q_canonical_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical + meta-robots fold accounting over synthesized heads:
    doc d (d%4==0) declares a canonical to url(d - d%5) when d%3==0 (both
    attribute orders exercised: href-first when d%6==0) and a robots meta
    when d%7<2 ('noindex, nofollow' at d%7==0). The Spark side extracts
    with the codegen regexes and folds on the canonical key; the oracle
    regenerates flags from the arithmetic."""
    from readability_spark.operators.pagemeta import canonical_fold_groups, page_meta

    d = F.col("doc_id")

    def url_of(x):
        return F.concat(
            F.lit("http://site"), (x % 40).cast("string"), F.lit(".com/p/"),
            x.cast("string"),
        )

    target = url_of(d - d % 5)
    canon_tag = F.when(
        d % 3 == 0,
        F.when(
            d % 6 == 0,
            F.concat(F.lit('<link href="'), target, F.lit('" rel="canonical">')),
        ).otherwise(
            F.concat(F.lit('<link rel="canonical" href="'), target, F.lit('">'))
        ),
    ).otherwise(F.lit(""))
    robots_tag = (
        F.when(d % 7 == 0, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(d % 7 == 1, F.lit('<meta name="robots" content="index, follow">'))
        .otherwise(F.lit(""))
    )
    pages = (
        _docs(spark, sf_dir)
        .filter(d % 4 == 0)
        .select(
            url_of(d).alias("url"),
            F.concat(
                F.lit("<html><head>"), canon_tag, robots_tag,
                F.lit("<title>t</title></head><body><p>xyz</p></body></html>"),
            ).alias("html"),
        )
    )
    return canonical_fold_groups(page_meta(pages))


def _q_charset_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-decision routing matrix over synthesized payload variants
    (doc_id % 5): UTF-8 BOM / plain valid UTF-8 / latin-1 bytes with a
    meta charset declaration / UTF-16LE BOM / undeclared invalid UTF-8.
    The Spark side derives (bom, declared, decided) from the BYTES (hex
    prefixes, is_valid_utf8, head regex — the JVM mirror of
    dom.parser.decode_html_bytes' ladder); the oracle regenerates the
    matrix from the variant arithmetic."""
    from readability_spark.operators.mime import charset_report

    d = F.col("doc_id")
    txt = F.encode(F.col("text"), "UTF-8")
    variants = [
        F.concat(F.unhex(F.lit("EFBBBF")), txt),
        F.concat(F.encode(F.lit("plain "), "UTF-8"), txt),
        F.concat(
            F.encode(F.lit('<html><head><meta charset="iso-8859-1"></head>'), "UTF-8"),
            F.unhex(F.lit("E9")),
            txt,
        ),
        F.concat(F.unhex(F.lit("FFFE")), txt),
        F.concat(F.unhex(F.lit("FF00FE")), txt),
    ]
    payload = variants[0]
    for i in range(4, 0, -1):
        payload = F.when(d % 5 == i, variants[i]).otherwise(payload)
    return charset_report(
        _docs(spark, sf_dir).select(payload.alias("payload"))
    )


def _q_html_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-outline extraction (real DOM walk via one mapInPandas) over
    synthesized pages: doc d (d%10==0) uses heading depth k = 1+(d/10)%6,
    per-level counts 1+(d+L)%2; the d%20==10 family drops its <h2> block,
    so skips_levels must flag exactly the k≥3 members. The oracle
    regenerates all eleven columns from the arithmetic."""
    from readability_spark.operators.tables import heading_outline

    d = F.col("doc_id")
    k = (F.floor(d / 10) % 6 + 1).cast("int")
    skipfam = d % 20 == 10

    def level(L: int):
        cL = (1 + (d + L) % 2).cast("int")
        h0 = F.concat(
            F.lit(f"<h{L}>H{L}-"), d.cast("string"), F.lit(f"-0</h{L}>")
        )
        h1 = F.when(
            cL == 2,
            F.concat(F.lit(f"<h{L}>H{L}-"), d.cast("string"), F.lit(f"-1</h{L}>")),
        ).otherwise(F.lit(""))
        seg = F.concat(h0, h1)
        include = (F.lit(L) <= k) & ~(skipfam & (F.lit(L) == 2))
        return F.when(include, seg).otherwise(F.lit(""))

    pages = (
        _docs(spark, sf_dir)
        .filter(d % 10 == 0)
        .select(
            d.cast("string").alias("url"),
            F.concat(
                F.lit("<html><body>"),
                *[level(L) for L in range(1, 7)],
                F.lit("<p>body</p></body></html>"),
            ).alias("html"),
        )
    )
    return heading_outline(pages).select(
        F.col("url").cast("bigint").alias("doc_id"),
        "n_h1", "n_h2", "n_h3", "n_h4", "n_h5", "n_h6",
        "n_headings", "max_level", "first_h1", "skips_levels",
    )


def _q_jsonld_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD inventory over synthesized pages: doc d carries a
    ld+json block (except d%5==4) with @type = types[d%4], a headline when
    d%3>0 and an author when d%2==0. The Spark side extracts the block and
    parses it with JVM from_json; the oracle recomputes the per-type
    coverage matrix from the arithmetic."""
    from readability_spark.operators.pagemeta import jsonld_inventory

    d = F.col("doc_id")
    typ = F.element_at(
        F.array(*[F.lit(t) for t in _JSONLD_TYPES]), (d % 4 + 1).cast("int")
    )
    headline = F.when(
        d % 3 > 0,
        F.concat(F.lit('"headline": "Doc '), d.cast("string"), F.lit('", ')),
    ).otherwise(F.lit(""))
    author = F.when(
        d % 2 == 0,
        F.concat(
            F.lit('"author": {"name": "Author '),
            (d % 7).cast("string"),
            F.lit('"}, '),
        ),
    ).otherwise(F.lit(""))
    block = F.concat(
        F.lit('<script type="application/ld+json">{'),
        F.lit('"@context": "https://schema.org", '),
        headline,
        author,
        F.lit('"@type": "'), typ, F.lit('"}</script>'),
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(d % 5 == 4, F.lit("")).otherwise(block),
        F.lit("</head><body><p>x</p></body></html>"),
    )
    return jsonld_inventory(_docs(spark, sf_dir).select(html.alias("html")))


_JSONLD_TYPES = ["Article", "NewsArticle", "BlogPosting", "Product"]


def _q_hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hreflang alternate-language reference counts over synthesized
    clusters of 4 language variants (cluster c = d - d%4, member language
    langs[d%4]): member d declares alternates only for languages j ≤ d%4,
    so target (c, lang_j) is referenced by exactly 4-j members. A
    stylesheet <link> with no hreflang is injected as noise the tag-wise
    extractor must drop. Oracle regenerates the (hreflang, href, n_refs)
    rows from the arithmetic."""
    from readability_spark.operators.pagemeta import hreflang_pairs

    d = F.col("doc_id")
    c = (d - d % 4).cast("string")

    def alt(j: int):
        lang = _HREFLANG_LANGS[j]
        seg = F.concat(
            F.lit(f'<link rel="alternate" hreflang="{lang}" href="http://x.com/c/'),
            c,
            F.lit(f'/{lang}">'),
        )
        return F.when(F.lit(j) <= d % 4, seg).otherwise(F.lit(""))

    html = F.concat(
        F.lit('<html><head><link rel="stylesheet" href="/s.css">'),
        *[alt(j) for j in range(4)],
        F.lit("</head><body></body></html>"),
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("http://x.com/c/"), c, F.lit("/"),
                 F.element_at(F.array(*[F.lit(x) for x in _HREFLANG_LANGS]),
                              (d % 4 + 1).cast("int"))).alias("url"),
        html.alias("html"),
    )
    return (
        hreflang_pairs(pages)
        .groupBy("hreflang", "href")
        .agg(F.count("*").cast("bigint").alias("n_refs"))
    )


_HREFLANG_LANGS = ["en", "de", "fr", "ja"]


def _q_pagination_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=next pagination reassembly over synthesized multi-page articles:
    article a (a%5==0) spans L = 1+(a/5)%5 pages; page d < a+L-1 declares
    rel=next to page d+1. The Spark side extracts the links and resolves
    chains with the pointer-doubling resolver; the oracle lists every
    article with L ≥ 2 directly from the arithmetic."""
    from readability_spark.operators.pagemeta import pagination_chains

    d = F.col("doc_id")
    a = d - d % 5
    L = (F.floor(a / 5) % 5 + 1).cast("int")
    nxt = F.when(
        d % 5 < L - 1,
        F.concat(
            F.lit('<link rel="next" href="http://site.com/a/'),
            (d + 1).cast("string"), F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("http://site.com/a/"), d.cast("string")).alias("url"),
        F.concat(
            F.lit("<html><head>"), nxt, F.lit("</head><body><p>x</p></body></html>")
        ).alias("html"),
    )
    return pagination_chains(pages, max_hops=8)


def _q_cc_large_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al.) over the SAME verified minhash pair graph as
    `dedup_clusters`: the bare (doc_id, cluster_id) labels that
    `dedup_clusters` extends with cluster sizes, checked against the
    recursive-CTE transitive closure (tests/test_links.py pins it to
    brute force on adversarial shapes)."""
    from readability_spark.operators.dedup import (
        minhash_lsh_pairs,
        with_injected_duplicates,
    )
    from readability_spark.operators.graph import cc_large_small_star

    pairs = minhash_lsh_pairs(with_injected_duplicates(_docs(spark, sf_dir)))
    return cc_large_small_star(pairs)


def _q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup over the dup-injected corpus: boundaries
    where md5 of the trailing 8-char window ends in '0', chunks re-align
    across shifted copies. The oracle recomputes the identical md5
    boundary rule, slicing, and fingerprint aggregation in SQL — chunking
    drift of a single character breaks the match."""
    from readability_spark.operators.cdc import cdc_chunk_dedup
    from readability_spark.operators.dedup import with_injected_duplicates

    return cdc_chunk_dedup(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_url_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-path publication-date histogram over synthesized urls: d%3==0
    urls carry /YYYY/MM/ segments (year 2019+d%6, month 1+d%12), d%3==1
    carry compact /YYYYMMDD paths, d%3==2 carry no date; one decoy with
    an invalid month 13 must land in the null bucket. Spark extracts
    from the STRING; the oracle regenerates the histogram from the
    arithmetic."""
    from readability_spark.operators.urltools import url_date_report

    d = F.col("doc_id")
    y = (d % 6 + 2019).cast("string")
    mm = F.lpad((d % 12 + 1).cast("string"), 2, "0")
    seg = F.concat(F.lit("http://site.com/"), y, F.lit("/"), mm, F.lit("/post-"), d.cast("string"))
    cmp_ = F.concat(F.lit("http://site.com/"), y, mm, F.lit("15/post-"), d.cast("string"))
    none = F.when(
        d % 9 == 2,
        # decoy: month 13 is not a date
        F.concat(F.lit("http://site.com/"), y, F.lit("/13/post-"), d.cast("string")),
    ).otherwise(F.concat(F.lit("http://site.com/about/post-"), d.cast("string")))
    url = F.when(d % 3 == 0, seg).when(d % 3 == 1, cmp_).otherwise(none)
    return url_date_report(_docs(spark, sf_dir).select(url.alias("url")))


def _q_soft404_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 routing matrix over synthesized (title, text): d%13 picks
    the error family (404/410/403/500 title phrasings, a thin error body,
    and healthy pages with the real document text). The Spark side
    classifies from the strings; the oracle from the arithmetic."""
    from readability_spark.operators.cleaning import soft404_report

    d = F.col("doc_id")
    title = (
        F.when(d % 13 == 0, F.lit("404 Not Found - site"))
        .when(d % 13 == 1, F.lit("Oops! Page Not Found"))
        .when(d % 13 == 2, F.lit("410 - page removed"))
        .when(d % 13 == 3, F.lit("Access Denied"))
        .when(d % 13 == 4, F.lit("500 Server Error"))
        # healthy titles fuse the id into one word ("DocX410") so status-code
        # numbers never form a \b-delimited token
        .otherwise(F.concat(F.lit("DocX"), d.cast("string")))
    )
    text = F.when(d % 13 == 5, F.lit("Error: unavailable")).otherwise(F.col("text"))
    return soft404_report(
        _docs(spark, sf_dir).select(title.alias("title"), text.alias("text"))
    )


def _q_hll_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch rollup pattern, value-checked end-to-end: token
    HLL registers built per shard (doc_id % 4), merged by per-bucket max,
    next to the direct whole-corpus sketch — merged and direct rows must
    carry IDENTICAL registers and estimates (max is associative), which is
    what lets 100-TB accounting aggregate per-partition sketches without a
    rescan. Oracle recomputes all six rows (4 shards + merged + direct)
    from the same md5 register math."""
    from readability_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string")).alias("shard"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    regs = hll_registers(toks, "shard", "tok").localCheckpoint(eager=False)
    merged = hll_merge(regs)
    direct = hll_registers(
        toks.withColumn("all", F.lit("direct")), "all", "tok"
    )
    return hll_estimate(regs.unionByName(merged).unionByName(direct))


def _q_dictionary_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aho–Corasick dictionary matching over the corpus text with a fixed
    5-term gazetteer (all border-free, so every-end-position counting
    equals non-overlapping counting): per doc total hits + distinct terms.
    The oracle recomputes each term's count via exact length-difference
    arithmetic — any automaton drift (failure links, output sets) breaks
    the totals."""
    from readability_spark.operators.dictmatch import dictionary_match

    return dictionary_match(_docs(spark, sf_dir), _DICT_PATTERNS)


_DICT_PATTERNS = ["scan", "hash join", "merge", "row", "data"]


def _q_media_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-embed census over synthesized pages: doc d carries d%4 plain
    imgs, two lazy imgs when d%5==0 (one data-src, one loading=lazy — the
    FixLazyImages patterns), d%3 videos, d%2 iframes, and a
    noscript-img fallback when d%7==0. Spark counts from the BYTES via
    regexp_count; the oracle recomputes each count from the arithmetic
    (noscript's img counts toward n_img too — the census is tag-level,
    not DOM-level)."""
    from readability_spark.operators.pagemeta import media_tag_inventory

    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><body>"),
        F.repeat(F.lit('<img src="x.png">'), (d % 4).cast("int")),
        F.when(
            d % 5 == 0,
            F.lit('<img data-src="y.png"><img loading="lazy" src="z.png">'),
        ).otherwise(F.lit("")),
        F.repeat(F.lit('<video src="v.mp4"></video>'), (d % 3).cast("int")),
        F.repeat(F.lit('<iframe src="f"></iframe>'), (d % 2).cast("int")),
        F.when(
            d % 7 == 0, F.lit('<noscript><img src="n.png"></noscript>')
        ).otherwise(F.lit("")),
        F.lit("<p>body</p></body></html>"),
    )
    pages = _docs(spark, sf_dir).select("doc_id", html.alias("html"))
    return media_tag_inventory(pages)


def _q_lm_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM interpolation-weight fitting between the d%3==0 and d%3==1
    sub-corpora's unigram LMs, evaluated on the d%3==2 held-out slice —
    5 rounds, λ₀=0.5. The posterior is quantized to an integer grid per
    distinct token so the E-step sum is an exact bigint; the oracle
    unrolls the identical 5 rounds and must reproduce the λ trajectory
    EXACTLY (doubles, not approximately)."""
    from readability_spark.operators.lm import lm_mixture_em

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    return lm_mixture_em(
        docs.filter(d % 3 == 0),
        docs.filter(d % 3 == 1),
        docs.filter(d % 3 == 2),
        n_iter=5,
    )


def _q_graph_2hop_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style deterministic 2-hop fanout sampling (fanout 3, md5
    edge rank) over the 97-node doc graph: per seed, hop-1 sample size,
    sampled 2-hop path count, distinct hop-2 nodes. The per-node sample is
    computed once and composed, so every join key carries ≤ fanout rows
    per side. The oracle re-derives the identical sample with a
    row_number window over the same md5 rank and walks the same
    composition."""
    from readability_spark.operators.graph import two_hop_sample_report

    return two_hop_sample_report(_pagerank_edges(spark, sf_dir), fanout=3)


def _q_rare_ngram_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk audit over the dup-injected corpus: per-doc count
    and fraction of corpus-unique 3-grams. Injected copies force their
    originals' shingles to df=2, so duplicated docs must come back with
    n_rare=0 while singletons sit near rare_frac=1 — the oracle recomputes
    the exact postings arithmetic from the same union."""
    from readability_spark.operators.dedup import with_injected_duplicates
    from readability_spark.operators.pii import rare_ngram_report

    return rare_ngram_report(with_injected_duplicates(_docs(spark, sf_dir)))


def _q_license_optout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data governance matrix over synthesized heads: doc d
    declares a rel=license link when d%3==0 — target is a non-CC url when
    d%8==2 ('other'), the CC0 public-domain mark when d%8==4, else a CC
    license with code by/by-sa/by-nc/by-nd via d%4 — plus a meta-robots
    noai directive when d%5==0 and a tdm-reservation meta when d%5==1.
    The Spark side classifies from the BYTES; the oracle from the
    arithmetic."""
    from readability_spark.operators.pagemeta import governance_report

    d = F.col("doc_id")
    code = F.element_at(
        F.array(*[F.lit(c) for c in _CC_CODES]), (d % 4 + 1).cast("int")
    )
    lic = F.when(
        d % 3 == 0,
        F.when(
            d % 8 == 2,
            F.lit('<a rel="license" href="http://example.com/terms">T</a>'),
        )
        .when(
            d % 8 == 4,
            F.lit(
                '<a rel="license" '
                'href="https://creativecommons.org/publicdomain/zero/1.0/">cc0</a>'
            ),
        )
        .otherwise(
            F.concat(
                F.lit('<link rel="license" href="https://creativecommons.org/licenses/'),
                code,
                F.lit('/4.0/">'),
            )
        ),
    ).otherwise(F.lit(""))
    robots = (
        F.when(
            d % 5 == 0,
            F.lit('<meta name="robots" content="noai, noimageai">'),
        )
        .when(d % 5 == 1, F.lit('<meta name="tdm-reservation" content="1">'))
        .otherwise(F.lit(""))
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("<html><head>"), lic, robots,
            F.lit("<title>t</title></head><body><p>x</p></body></html>"),
        ).alias("html")
    )
    return governance_report(pages)


_CC_CODES = ["by", "by-sa", "by-nc", "by-nd"]


def _q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type hourly burst detection over the events table: each
    bucket's count z-scored against its 6 trailing observed buckets
    (integer sums -> exact trailing moments; z floor-rounded at 1e-4 with
    the identical IEEE expression tree in the oracle)."""
    from readability_spark.operators.temporal import detect_bursts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return detect_bursts(events, trail=6, z_thresh=2.5)


def _with_repeated_lines(docs: DataFrame) -> DataFrame:
    """Inject deterministic within-doc repeats into the lined corpus: doc d
    re-appends its line 1 when d % 3 == 0 and its line 2 when d % 5 == 0
    (skipped when absent), so `dedup_doc_lines` provably has work."""
    from readability_spark.operators.cleaning import with_synthetic_lines

    lined = with_synthetic_lines(docs)
    lines = F.split(F.col("text"), "\n")
    d = F.col("doc_id")
    extras = F.filter(
        F.array(
            F.when(d % 3 == 0, F.get(lines, 0)),
            F.when(d % 5 == 0, F.get(lines, 1)),
        ),
        lambda x: x.isNotNull(),
    )
    return lined.withColumn(
        "text", F.concat_ws("\n", F.concat(F.array(F.col("text")), extras))
    )


def _q_doc_self_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line removal (first occurrence kept) over the
    lined corpus with injected within-doc repeats — zero-shuffle
    higher-order-function plan (tests/test_plan_shape.py pins it)."""
    from readability_spark.operators.cleaning import dedup_doc_lines

    return dedup_doc_lines(_with_repeated_lines(_docs(spark, sf_dir)))


def _q_url_variant_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mobile/AMP/www host-variant folding over a synthesized 4-variant url
    mix: page key = doc_id % 200 on host site{doc_id % 40}.com, served
    through ['', 'www.', 'm.', 'amp.'][(doc_id // 200) % 4]. One
    map-side-combined groupBy; representative election = min(struct(rank,
    url)) preferring the desktop origin."""
    from readability_spark.operators.urltools import fold_host_variants

    d = F.col("doc_id")
    prefix = F.element_at(
        F.array(F.lit(""), F.lit("www."), F.lit("m."), F.lit("amp.")),
        (F.floor(d / 200) % 4 + 1).cast("int"),
    )
    urls = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("http://"),
            prefix,
            F.lit("site"),
            (d % 40).cast("string"),
            F.lit(".com/p"),
            (d % 200).cast("string"),
        ).alias("url")
    )
    return fold_host_variants(urls)


def _q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-descending, domain-interleaved global training order: shared
    composite quality score (pre-rounded 1e-4), per-domain row_number, then
    the two-phase global dense rank (no single-task sort — same machinery
    as corpus_shuffle, pinned bit-identical to the naive global window)."""
    from readability_spark.operators.ordering import curriculum_order
    from readability_spark.operators.textstats import quality_score

    docs = _docs(spark, sf_dir)
    q = quality_score(docs).select("doc_id", "quality")
    d = docs.select("doc_id", F.col("source").alias("domain"))
    return curriculum_order(d.join(q, "doc_id"))


def _q_crawl_trap_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap detection over a synthesized 20-host url mix where hosts
    h0-h3 serve every url from a 3-page content set (doc_id % 3) and the
    rest serve the document corpus: distinct-url vs distinct-content
    counts per host, ratio-flagged."""
    from readability_spark.operators.urltools import crawl_trap_hosts

    d = F.col("doc_id")
    host_id = d % 20
    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("http://h"),
            host_id.cast("string"),
            F.lit(".example/p"),
            d.cast("string"),
        ).alias("url"),
        F.when(
            host_id < 4, F.concat(F.lit("trap page "), (d % 3).cast("string"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return crawl_trap_hosts(pages, min_urls=10, min_urls_per_content=4.0)


def _q_reshard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash resharding plan for growing 8 -> 12 corpus shards
    over the synthesized url keys: per-new-shard key counts, moved-in
    keys, and moved bytes. HRW movement is minimal by construction
    (~(12-8)/12 of keys, all landing on the four NEW shards — the
    property test pins that no key moves between surviving shards). The
    oracle recomputes the md5 argmax strings verbatim."""
    from readability_spark.operators.shards import reshard_plan

    return reshard_plan(_urls_for_features(spark, sf_dir), "url", n_old=8, n_new=12)


_TYPO_BRANDS = ["example.com", "wikipedia.org", "github.com", "archive.org", "python.org"]
_TYPO_HOSTS = [
    "examp1e.com", "exampl.com", "examplle.com",
    "wikipedla.org", "wikipeda.org",
    "githib.com", "gthub.com",
    "archlve.org", "pythom.org",
]


def _hosts_for_typosquat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic host mix: 70% of docs on five brand hosts
    (doc_id % 5 picks the brand), 30% on nine single-edit typo variants
    (doc_id % 9 picks the typo). The oracle rebuilds the same urls with
    list_extract."""
    d = F.col("doc_id")
    host = F.when(
        d % 10 < 7, F.element_at(F.array(*[F.lit(b) for b in _TYPO_BRANDS]), (d % 5 + 1).cast("int"))
    ).otherwise(F.element_at(F.array(*[F.lit(t) for t in _TYPO_HOSTS]), (d % 9 + 1).cast("int")))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("http://"), host, F.lit("/p"), d.cast("string")).alias("url"),
    )


def _q_typosquat_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typosquat governance over the synthesized brand/typo host mix: the
    top-5 hosts by traffic become the brand list; every other host within
    one edit of a brand is flagged with its page count. The oracle
    recomputes the host synthesis, the top-k brand election (same docs
    desc / host asc tie-break), and DuckDB's own levenshtein."""
    from readability_spark.operators.urltools import typosquat_candidates

    return typosquat_candidates(_hosts_for_typosquat(spark, sf_dir), top_k=5)


def _q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the trained quality classifier: 10 equal-width
    probability bins, per-bin mean predicted p vs empirical positive rate
    (the |gap| ECE sums). Bin aggregates are integer-exact (p re-quantized
    to 1e4 grid before summing) so partial-sum order can't flip a round4.
    The oracle nests the full 16-round GD CTE and re-bins identically."""
    from readability_spark.operators.classifier import (
        calibration_report,
        quality_features,
        score_logreg,
        train_logreg,
    )

    feats = quality_features(_docs(spark, sf_dir)).cache()
    w = train_logreg(feats, lr=4.0, n_iter=16)
    return calibration_report(score_logreg(feats, w), n_bins=10)


_COVERAGE_MAP = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH", "DRIVER_COVERAGE.json"
)
# path -> parsed last_driver_round map (or None for missing/unreadable);
# the file only changes when scripts/build_coverage.py rewrites it between
# rounds, so one read per process is enough. Keyed on the path so tests
# that monkeypatch _COVERAGE_MAP still exercise the fallback.
_COVERAGE_CACHE: "dict[str, dict | None]" = {}


def _coverage_last_rounds() -> "dict | None":
    path = _COVERAGE_MAP
    if path not in _COVERAGE_CACHE:
        try:
            with open(path) as fh:
                _COVERAGE_CACHE[path] = json.load(fh)["last_driver_round"]
        except Exception:
            _COVERAGE_CACHE[path] = None
    return _COVERAGE_CACHE[path]


def _coverage_rotate(
    reg: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Mechanical registry rotation from the committed driver-coverage map.

    The round driver's oracle pass records rows for only a bounded prefix
    of this dict (23/32/50/50 entries in r1-r4), so which operators get a
    driver-verified row is decided entirely by dict order. Rounds 2-4
    rotated by hand (a docstring note); this makes it mechanical (VERDICT r4
    item 1): ``scripts/build_coverage.py`` regenerates
    ``BENCH/DRIVER_COVERAGE.json`` from the CORRECTNESS_r*.json artifacts,
    and the registry sorts itself at call time by (last round with a driver
    row, declaration order). Never-checked queries sort first, so the union
    of driver-checked queries grows every round until it covers the whole
    registry. ``extract_articles`` is pinned at position 1 regardless — the
    flagship gets the freshest row every round (VERDICT r4 item 8).

    If the map is missing or unreadable the declaration order stands.
    """
    last = _coverage_last_rounds()
    if last is None:
        return reg
    names = list(reg)
    decl = {n: i for i, n in enumerate(names)}
    rotated = sorted(
        (n for n in names if n != "extract_articles"),
        key=lambda n: (last.get(n, 0), decl[n]),
    )
    return {n: reg[n] for n in ["extract_articles", *rotated]}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_REPEAT = 12


def _r4(expr: str) -> str:
    """floor(x*1e4+0.5)/1e4 — matches operators.dedup.round4 exactly."""
    return f"floor(({expr}) * 10000.0 + 0.5) / 10000.0"

_ORACLE_TEXT = f"rtrim(repeat(text || ' ', {_REPEAT}))"
_ORACLE_LEN = f"({_REPEAT} * length(text) + {_REPEAT - 1})"

_DUP_DOCS = (
    "SELECT * FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id % 10 = 0"
)

_SHINGLES = (
    "list_distinct(list_transform("
    "generate_series(0, greatest(len(string_split(text,' ')) - 3, 0)), "
    "i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))"
)


def _simhash_oracle() -> str:
    nib = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {i + 1}, 1)) - 1) "
        f"* cast(pow(16, {7 - i}) as bigint)"
        for i in range(8)
    )
    votes = ", ".join(
        f"sum(case when (h // {2**i}) % 2 = 1 then 1 else -1 end) as v{i}" for i in range(32)
    )
    sim = " + ".join(f"(case when v{i} >= 0 then {2**i} else 0 end)" for i in range(32))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hashed AS (
  SELECT doc_id, ({nib}) AS h FROM toks
), votes AS (
  SELECT doc_id, {votes} FROM hashed GROUP BY doc_id
)
SELECT doc_id, cast({sim} as bigint) AS simhash FROM votes
"""


def _h32_sql(offset: int = 0, tok: str = "tok") -> str:
    """DuckDB mirror of dedup._hash32_expr: 32-bit int from 8 md5 hex chars."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({tok}), {offset + i + 1}, 1)) - 1) "
        f"* cast(pow(16, {7 - i}) as bigint)"
        for i in range(8)
    )


def _webdataset_shards_oracle() -> str:
    """Closed-form tar arithmetic per shard: each USTAR member costs a
    512-byte header + its payload rounded up to 512; the archive adds
    1024 end-of-archive zeros and pads to the 10240-byte record size.
    Verified byte-exact against stdlib tarfile output (tests/
    test_webdataset.py) — so this SQL independently predicts the length
    of the archive the Spark sink actually builds."""
    h32 = _h32_sql(tok="doc_id::varchar")
    return f"""
WITH assigned AS (
  SELECT ({h32}) % 16 AS shard_id,
         octet_length(encode(coalesce(text, ''))) AS sz
  FROM documents),
member AS (
  SELECT shard_id, sz, 512 + ((sz + 511) // 512) * 512 AS member_bytes
  FROM assigned)
SELECT shard_id::int AS shard_id,
       count(*)::bigint AS n_samples,
       sum(sz)::bigint AS payload_bytes,
       (((sum(member_bytes) + 1024 + 10239) // 10240) * 10240)::bigint AS tar_bytes
FROM member GROUP BY shard_id
"""


def _webdataset_roundtrip_oracle() -> str:
    h32 = _h32_sql(tok="doc_id::varchar")
    return f"""
SELECT (({h32}) % 16)::int AS shard_id, doc_id,
       length(coalesce(text, ''))::bigint AS n_chars_rt
FROM documents
"""


def _zipf_slope_oracle(group: str = "source") -> str:
    """Mirror of textstats.zipf_slope: same spectrum rank order (count
    desc, token asc), same 1e6 ln grid, hugeint cross products, one
    round4 division (NULL when the x-variance is zero)."""
    return f"""
WITH toks AS (
  SELECT {group} AS grp, unnest(string_split(text, ' ')) AS tok FROM documents),
counts AS (
  SELECT grp, tok, count(*) AS c FROM toks WHERE tok != '' GROUP BY 1, 2),
ranked AS (
  SELECT grp, tok, c,
         row_number() OVER (PARTITION BY grp ORDER BY c DESC, tok ASC) AS rank
  FROM counts),
q AS (
  SELECT grp, c,
         floor(ln(rank) * 1000000.0 + 0.5)::bigint AS qx,
         floor(ln(c) * 1000000.0 + 0.5)::bigint AS qy
  FROM ranked),
a AS (
  SELECT grp, count(*)::bigint AS n_types, sum(c)::bigint AS n_tokens,
         sum(qx)::hugeint AS sx, sum(qy)::hugeint AS sy,
         sum(qx::hugeint * qy::hugeint) AS sxy,
         sum(qx::hugeint * qx::hugeint) AS sxx
  FROM q GROUP BY grp)
SELECT grp, n_types, n_tokens,
       CASE WHEN n_types::hugeint * sxx - sx * sx = 0 THEN NULL
            ELSE floor(((n_types::hugeint * sxy - sx * sy)::double
                        / (n_types::hugeint * sxx - sx * sx)::double)
                       * 10000.0 + 0.5) / 10000.0
       END AS zipf_slope
FROM a
"""


def _url_aligned_pairs_oracle() -> str:
    """Mirror of _q_url_aligned_pairs: identical synthetic URL build,
    the module's own URL_LANG_SEG_RE / URL_LANG_QUERY_RE patterns (RE2
    replacement syntax), min-url election per (key, lang), cross-lang
    self-join with lang_a < lang_b. Both replacements are global ('g'), as
    Spark's regexp_replace is."""
    from readability_spark.operators.urltools import (
        URL_LANG_QUERY_RE,
        URL_LANG_SEG_RE,
    )

    seg = (
        "CASE doc_id % 3 WHEN 0 THEN lang WHEN 1 THEN upper(lang) "
        "ELSE lang || '-' || (CASE lang WHEN 'en' THEN 'us' WHEN 'zh' THEN 'cn' "
        "ELSE lang END) END"
    )
    url = (
        "CASE WHEN doc_id % 5 = 0 THEN "
        "'http://' || source || '.example.com/doc/' || (doc_id % 10)::varchar "
        f"|| '.html?lang=' || ({seg}) || '&x=1' "
        "ELSE 'http://' || source || '.example.com/' || ({seg}) || '/doc/' "
        "|| (doc_id % 10)::varchar || '.html' END"
    ).replace("({seg})", f"({seg})")
    return f"""
WITH pages AS (
  SELECT {url} AS url, lang FROM documents),
keyed AS (
  SELECT regexp_replace(
           regexp_replace(url, '{URL_LANG_SEG_RE}', '/*/', 'g'),
           '{URL_LANG_QUERY_RE}', '\\1lang=*\\2', 'g') AS url_key,
         lang, url
  FROM pages),
elected AS (
  SELECT url_key, lang, min(url) AS url FROM keyed GROUP BY 1, 2)
SELECT a.url_key, a.lang AS lang_a, a.url AS url_a,
       b.lang AS lang_b, b.url AS url_b
FROM elected a JOIN elected b ON a.url_key = b.url_key AND a.lang < b.lang
"""


def _jsonl_shards_oracle() -> str:
    """Mirror of sources.jsonl.build_jsonl_shards: the oracle REBUILDS the
    pinned JSON line ('{"doc_id":D,"lang":"L","source":"S","text":"T"}'
    + newline, fixed key order, no whitespace) with string concatenation
    and sums its byte length per md5-assigned shard — independent of every
    piece of the Python sink. Exact because the synthetic corpus text is
    JSON-neutral ASCII (no escapes); the guard CTE makes the oracle fail
    loudly, instead of mis-counting, on a corpus where that does not hold.
    The operator itself escapes arbitrary text (pinned in
    tests/test_jsonl.py)."""
    h32 = _h32_sql(tok="doc_id::varchar")
    line = (
        "'{\"doc_id\":' || doc_id::varchar || ',\"lang\":\"' || coalesce(lang, '') "
        "|| '\",\"source\":\"' || coalesce(source, '') || '\",\"text\":\"' "
        "|| coalesce(text, '') || '\"}'"
    )
    # printable ASCII without '"' or '\\': JSON-encodes to itself
    neutral = "regexp_full_match(coalesce({col}, ''), '[ !#-\\[\\]-~]*')"
    escape_free = " AND ".join(neutral.format(col=c) for c in ("text", "lang", "source"))
    return f"""
WITH guard AS (
  SELECT count(*) FILTER (WHERE NOT ({escape_free})) AS n_bad FROM documents),
assigned AS (
  SELECT ({h32}) % 16 AS shard_id,
         octet_length(encode({line})) + 1 AS line_bytes
  FROM documents)
SELECT shard_id::int AS shard_id,
       count(*)::bigint AS n_docs,
       sum(line_bytes)::bigint AS payload_bytes
FROM assigned
WHERE (SELECT CASE WHEN n_bad = 0 THEN true
              ELSE error('jsonl_shards oracle: corpus text needs JSON escapes') END
       FROM guard)
GROUP BY shard_id
"""


def _jsonl_roundtrip_oracle() -> str:
    h32 = _h32_sql(tok="doc_id::varchar")
    return f"""
SELECT (({h32}) % 16)::int AS shard_id, doc_id,
       coalesce(lang, '') AS lang, coalesce(source, '') AS source,
       length(coalesce(text, ''))::bigint AS n_chars_rt
FROM documents
"""


def _planes_sql(n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB mirror of similarity.seeded_planes: md5-nibble PRNG components
    in [-1, 1), bit-identical to the Spark-generated planes."""
    tok = f"'{seed}:' || pid::varchar || ':' || j::varchar"
    comp = f"({_h32_sql(tok=tok)}) / 2147483648.0 - 1.0"
    return (
        f"SELECT pid AS plane_id, "
        f"list_transform(generate_series(0, {dim - 1}), j -> {comp}) AS p_emb "
        f"FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS pid)"
    )


def _simhash64_core_sql(source: str) -> str:
    """Shared CTE chain: token hash halves → 64 votes → (sim_hi, sim_lo)."""
    votes = ", ".join(
        f"sum(case when (h_hi // {2**i}) % 2 = 1 then 1 else -1 end) as hv{i}"
        for i in range(32)
    ) + ", " + ", ".join(
        f"sum(case when (h_lo // {2**i}) % 2 = 1 then 1 else -1 end) as lv{i}"
        for i in range(32)
    )
    sim_hi = " + ".join(f"(case when hv{i} >= 0 then {2**i} else 0 end)" for i in range(32))
    sim_lo = " + ".join(f"(case when lv{i} >= 0 then {2**i} else 0 end)" for i in range(32))
    return f"""
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {source}),
hashed AS (SELECT doc_id, ({_h32_sql(0)}) AS h_hi, ({_h32_sql(8)}) AS h_lo FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
sims AS (SELECT doc_id, cast({sim_hi} as bigint) AS sim_hi, cast({sim_lo} as bigint) AS sim_lo FROM votes)"""


def _simhash64_oracle() -> str:
    return f"""
WITH {_simhash64_core_sql('documents')}
SELECT doc_id, sim_hi, sim_lo FROM sims
"""


def _hash64_band_join_sql(max_hamming: int = 3) -> str:
    """Shared tail of EVERY 64-bit banded-Hamming oracle (text simhash64,
    image aHash, audio fingerprint — the one dedup.hash64_near_pairs join on
    the Spark side gets the one SQL mirror here): expects a
    ``sims(doc_id, sim_hi, sim_lo)`` CTE in scope and emits the 4×16-bit
    banding, the distinct self-join, and the popcount verify. The Spark
    side's hot-bucket 12-bit refinement is candidate-pruning only (exact
    for hamming<=3, pigeonhole), so plain banding is the correct mirror."""
    band_rows = " UNION ALL ".join(
        [
            "SELECT doc_id, sim_hi, sim_lo, 0 AS band, sim_hi // 65536 AS key FROM sims",
            "SELECT doc_id, sim_hi, sim_lo, 1 AS band, sim_hi % 65536 AS key FROM sims",
            "SELECT doc_id, sim_hi, sim_lo, 2 AS band, sim_lo // 65536 AS key FROM sims",
            "SELECT doc_id, sim_hi, sim_lo, 3 AS band, sim_lo % 65536 AS key FROM sims",
        ]
    )
    ham = "bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))"
    return f"""bands AS ({band_rows}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sim_hi AS hi_a, a.sim_lo AS lo_a, b.sim_hi AS hi_b, b.sim_lo AS lo_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, cast({ham} as int) AS hamming
FROM cands WHERE {ham} <= {max_hamming}"""


def _simhash64_pairs_oracle() -> str:
    """Mirror of dedup.simhash64_near_pairs: 4×16-bit banding over the
    dup-injected table, distinct self-join, popcount(hamming)<=3 verify."""
    return f"""
WITH dup AS ({_DUP_DOCS}),
{_simhash64_core_sql('dup')},
{_hash64_band_join_sql()}
"""


def _minhash_pairs_ctes() -> str:
    """Shared WITH-body ending in `pairs(id_a, id_b, jaccard)` — the verified
    minhash-LSH near-dup pairs; used by both the pairs query oracle and the
    connected-components cluster oracle."""
    mh = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{k}:' || s))) AS mh{k}" for k in range(16)
    )
    bands = ", ".join(
        "md5(" + " || '|' || ".join(f"mh{b * 4 + r}" for r in range(4)) + f") AS band{b}"
        for b in range(4)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM bands" for b in range(4)
    )
    jac = (
        "floor((len(list_intersect(sa.sh, sb.sh))::double / "
        "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))) "
        "* 10000.0 + 0.5) / 10000.0"
    )
    return f"""dup AS ({_DUP_DOCS}),
sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM dup),
sigs AS (SELECT doc_id, {mh} FROM sh),
bands AS (SELECT doc_id, {bands} FROM sigs),
buckets AS ({band_rows}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_a, id_b, {jac} AS jaccard
  FROM cands
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
  WHERE {jac} >= 0.5
)"""


def _snapshot_triage_oracle(threshold: float = 0.5) -> str:
    """Mirror of snapshots.snapshot_triage over the snapshot_diff splits:
    md5 membership vs the old snapshot, the incremental minhash probe
    (same 16-hash/4-band signatures, bucket collisions, exact Jaccard
    over ALL candidates), three-way CASE."""
    mh = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{k}:' || s))) AS mh{k}" for k in range(16)
    )
    bands = ", ".join(
        "md5(" + " || '|' || ".join(f"mh{b * 4 + r}" for r in range(4)) + f") AS band{b}"
        for b in range(4)
    )
    bn = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM bandn" for b in range(4)
    )
    bh = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM bandh" for b in range(4)
    )
    jac = (
        "floor((len(list_intersect(sa.sh, sb.sh))::double / "
        "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))) "
        "* 10000.0 + 0.5) / 10000.0"
    )
    return f"""
WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
n AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 5 != 1),
oh AS (SELECT DISTINCT md5(text) AS h FROM o),
shn AS (SELECT doc_id, {_SHINGLES} AS sh FROM n),
shh AS (SELECT doc_id, {_SHINGLES} AS sh FROM o),
sign AS (SELECT doc_id, {mh} FROM shn),
sigh AS (SELECT doc_id, {mh} FROM shh),
bandn AS (SELECT doc_id, {bands} FROM sign),
bandh AS (SELECT doc_id, {bands} FROM sigh),
bucketn AS ({bn}),
bucketh AS ({bh}),
cands AS (
  SELECT DISTINCT nb.doc_id AS new_id, hb.doc_id AS hist_id
  FROM bucketn nb JOIN bucketh hb ON nb.band = hb.band AND nb.key = hb.key
),
ver AS (
  SELECT new_id, max({jac}) AS mj
  FROM cands
  JOIN shn sa ON sa.doc_id = new_id
  JOIN shh sb ON sb.doc_id = hist_id
  GROUP BY new_id
)
SELECT n.doc_id,
       CASE WHEN md5(n.text) IN (SELECT h FROM oh) THEN 'exact_dup'
            WHEN ver.mj >= {threshold!r} THEN 'near_dup'
            ELSE 'new' END AS status,
       ver.mj AS max_jaccard
FROM n LEFT JOIN ver ON ver.new_id = n.doc_id
"""


def _incremental_minhash_oracle(threshold: float = 0.5) -> str:
    """Mirror of dedup.incremental_minhash_new over the injected-dup table
    split new = (copies | doc_id%7==2) vs history = rest: same 16-hash/
    4-band signatures per side, bucket-collision candidates, exact Jaccard
    over ALL candidates, per-new-doc count/max/is_new."""
    mh = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{k}:' || s))) AS mh{k}" for k in range(16)
    )
    bands = ", ".join(
        "md5(" + " || '|' || ".join(f"mh{b * 4 + r}" for r in range(4)) + f") AS band{b}"
        for b in range(4)
    )
    bn = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM bandn" for b in range(4)
    )
    bh = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM bandh" for b in range(4)
    )
    jac = (
        "floor((len(list_intersect(sa.sh, sb.sh))::double / "
        "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))) "
        "* 10000.0 + 0.5) / 10000.0"
    )
    return f"""
WITH dup AS ({_DUP_DOCS}),
newd AS (SELECT * FROM dup WHERE doc_id >= 1000000 OR doc_id % 7 = 2),
hist AS (SELECT * FROM dup WHERE NOT (doc_id >= 1000000 OR doc_id % 7 = 2)),
shn AS (SELECT doc_id, {_SHINGLES} AS sh FROM newd),
shh AS (SELECT doc_id, {_SHINGLES} AS sh FROM hist),
sign AS (SELECT doc_id, {mh} FROM shn),
sigh AS (SELECT doc_id, {mh} FROM shh),
bandn AS (SELECT doc_id, {bands} FROM sign),
bandh AS (SELECT doc_id, {bands} FROM sigh),
bucketn AS ({bn}),
bucketh AS ({bh}),
cands AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM bucketn n JOIN bucketh h ON n.band = h.band AND n.key = h.key
),
ver AS (
  SELECT new_id, count(*) AS n_candidates, max({jac}) AS mj
  FROM cands
  JOIN shn sa ON sa.doc_id = new_id
  JOIN shh sb ON sb.doc_id = hist_id
  GROUP BY new_id
)
SELECT d.doc_id, coalesce(v.n_candidates, 0)::bigint AS n_candidates,
       v.mj AS max_jaccard,
       (v.mj IS NULL OR v.mj < {threshold}) AS is_new
FROM newd d LEFT JOIN ver v ON v.new_id = d.doc_id
"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT id_a, id_b, jaccard FROM pairs
"""


def _closure_ctes(src: str) -> str:
    """The cluster oracles' shared reference labeling over the pair table
    ``src`` (id_a, id_b): ``edges`` (both orientations), ``walk``
    (recursive transitive closure: a row (v, n) for every node n reachable
    from v) and ``lbl`` (doc_id, cluster_id = min reachable id; a node
    reaches itself through any neighbor, so the min includes self). The
    caller's WITH must be RECURSIVE."""
    return f"""edges AS (
  SELECT id_a AS src, id_b AS dst FROM {src}
  UNION
  SELECT id_b AS src, id_a AS dst FROM {src}
),
walk(v, n) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT w.v, e.dst FROM walk w JOIN edges e ON e.src = w.n
),
lbl AS (SELECT v AS doc_id, min(n) AS cluster_id FROM walk GROUP BY v)"""


def _clusters_oracle() -> str:
    """Mirror of dedup.near_dup_clusters: transitive closure over the
    verified minhash pair graph (recursive CTE — reachability, then min
    reachable id as the cluster label; the Spark side computes the same
    labeling with log-round large/small-star components)."""
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
{_closure_ctes('pairs')},
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
SELECT l.doc_id, l.cluster_id, sz.cluster_size::int AS cluster_size
FROM lbl l JOIN sz USING (cluster_id)
"""


def _dup_source_matrix_oracle() -> str:
    """Mirror of dedup.near_dup_source_matrix: the shared pairs CTE
    joined to the injected-dup corpus on both endpoints, grouped by the
    unordered source pair."""
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT least(a.source, b.source) AS source_lo,
       greatest(a.source, b.source) AS source_hi,
       count(*)::bigint AS n_pairs,
       {_r4('avg(p.jaccard)')} AS avg_jaccard
FROM pairs p
JOIN dup a ON a.doc_id = p.id_a
JOIN dup b ON b.doc_id = p.id_b
GROUP BY 1, 2
"""


def _soft_weights_oracle(alpha: float = 0.5) -> str:
    """Mirror of dedup.soft_dedup_weights over the injected-dup corpus:
    the _clusters_oracle component sizes, pow(size, -alpha) for members,
    1.0 for docs with no verified near-duplicate."""
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
{_closure_ctes('pairs')},
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1),
mem AS (SELECT l.doc_id, sz.cluster_size FROM lbl l JOIN sz USING (cluster_id))
SELECT d.doc_id,
       coalesce(m.cluster_size, 1)::int AS cluster_size,
       {_r4(f'CASE WHEN m.cluster_size IS NULL THEN 1.0 '
            f'ELSE pow(m.cluster_size::double, -{alpha!r}) END')} AS weight
FROM dup d LEFT JOIN mem m USING (doc_id)
"""


def _unimax_oracle(budget: float = 52000.0, epoch_cap: float = 2.0) -> str:
    """Mirror of sampling.unimax_allocation: identical waterfilling
    windows — ascending (cap, domain) prefix sums, capped-prefix index
    t = max{j : cap_j*(K-j+1) <= B - S_{j-1}}, water level
    (B - S_t)/(K - t), all-capped guard."""
    alloc = (
        "least(cap_tokens, CASE WHEN k > t THEN "
        f"({budget!r} - s_t) / (k - t) ELSE cap_tokens END)"
    )
    return f"""
WITH c AS (
  SELECT source AS domain,
         sum(len(string_split(text, ' ')))::double AS n_tokens
  FROM documents GROUP BY 1),
s1 AS (
  SELECT domain, n_tokens, n_tokens * {epoch_cap!r} AS cap_tokens,
         row_number() OVER (ORDER BY n_tokens * {epoch_cap!r}, domain) AS j,
         sum(n_tokens * {epoch_cap!r}) OVER (
           ORDER BY n_tokens * {epoch_cap!r}, domain
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
         count(*) OVER () AS k
  FROM c),
s2 AS (
  SELECT *, max(CASE WHEN cap_tokens * (k - j + 1) <= {budget!r} - (s - cap_tokens)
                     THEN j ELSE 0 END) OVER () AS t
  FROM s1),
s3 AS (
  SELECT *, coalesce(max(CASE WHEN j = t THEN s END) OVER (), 0.0) AS s_t
  FROM s2)
SELECT domain, n_tokens::bigint AS n_tokens,
       {_r4('cap_tokens')} AS cap_tokens,
       {_r4(alloc)} AS alloc_tokens,
       {_r4(f'({alloc}) / n_tokens')} AS epochs,
       j <= t AS capped
FROM s3
"""


def _quota_sample_oracle(quotas: dict = None) -> str:
    """Mirror of sampling.quota_sample: md5 unit hash ranked single-phase
    per stratum (the salted two-phase form is rank-equivalent by the
    top-k containment argument), cut at the per-stratum quota."""
    quotas = quotas or _QUOTAS
    qcase = "CASE " + " ".join(
        f"WHEN lang = '{v}' THEN {int(q)}" for v, q in sorted(quotas.items())
    ) + " END"
    u = f"({_h32_sql(tok='doc_id::varchar')}) / 4294967296.0"
    return f"""
WITH b AS (
  SELECT doc_id, lang AS stratum, {u} AS u, {qcase} AS q
  FROM documents WHERE {qcase} IS NOT NULL),
r AS (
  SELECT doc_id, stratum, u, q,
         row_number() OVER (PARTITION BY stratum ORDER BY u, doc_id) AS rk
  FROM b)
SELECT doc_id, stratum, u, rk::int AS rk FROM r WHERE rk <= q
"""


def _ccnet_band_sample_oracle() -> str:
    """Mirror of the composed CCNet selection: the full lm_perplexity
    oracle nested as a CTE, then the md5 unit-hash gate at the per-band
    keep rates."""
    u = f"({_h32_sql(tok='doc_id::varchar')}) / 4294967296.0"
    case = "CASE band " + " ".join(
        f"WHEN '{b}' THEN {r!r}" for b, r in sorted(_BAND_RATES.items())
    ) + " ELSE 0.0 END"
    return f"""
WITH lm AS ({_lm_perplexity_oracle(head_max=29.0, middle_max=30.5)})
SELECT doc_id, band, u FROM (
  SELECT doc_id, band, {u} AS u, {case} AS r FROM lm) t
WHERE u < r
"""


def _temperature_mix_oracle(budget: float = 52000.0, tau: float = 0.3) -> str:
    """Mirror of sampling.temperature_mix: pow(n, tau) shares normalized
    by a window sum over the K-row domain table."""
    return f"""
WITH c AS (
  SELECT source AS domain,
         sum(len(string_split(text, ' ')))::double AS n_tokens
  FROM documents GROUP BY 1),
s AS (
  SELECT domain, n_tokens,
         pow(n_tokens, {tau!r}) / sum(pow(n_tokens, {tau!r})) OVER () AS share
  FROM c)
SELECT domain, n_tokens::bigint AS n_tokens,
       {_r4('share')} AS share,
       {_r4(f'share * {budget!r}')} AS alloc_tokens,
       {_r4(f'share * {budget!r} / n_tokens')} AS epochs,
       share * {budget!r} > n_tokens AS oversampled
FROM s
"""


def _split_oracle(splits=None) -> str:
    """Mirror of sampling.split_leakage_audit: minhash pair graph +
    recursive-CTE components, md5 unit-hash of coalesce(cluster_id,
    doc_id) cut at the same Python-accumulated float bounds (bit-exact
    literals via repr), per-split aggregates + straddle join."""
    from readability_spark.operators.sampling import DEFAULT_SPLITS, _split_bounds

    splits = splits or DEFAULT_SPLITS
    u = f"({_h32_sql(tok='coalesce(l.cluster_id, d.doc_id)::varchar')}) / 4294967296.0"
    case = "CASE " + " ".join(
        f"WHEN u < {bound!r} THEN '{name}'" for name, bound in _split_bounds(splits)
    ) + f" ELSE '{splits[-1][0]}' END"
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
{_closure_ctes('pairs')},
asg AS (
  SELECT d.doc_id, l.cluster_id, {u} AS u
  FROM dup d LEFT JOIN lbl l USING (doc_id)),
a2 AS (SELECT doc_id, cluster_id, {case} AS split FROM asg),
per AS (
  SELECT split, count(*)::bigint AS n_docs,
         sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)::bigint
           AS n_clustered_docs,
         count(DISTINCT cluster_id)::bigint AS n_clusters
  FROM a2 GROUP BY 1),
st AS (
  SELECT split, count(*)::bigint AS sp FROM (
    SELECT a.split FROM pairs p
    JOIN a2 a ON a.doc_id = p.id_a JOIN a2 b ON b.doc_id = p.id_b
    WHERE a.split <> b.split
    UNION ALL
    SELECT b.split FROM pairs p
    JOIN a2 a ON a.doc_id = p.id_a JOIN a2 b ON b.doc_id = p.id_b
    WHERE a.split <> b.split
  ) GROUP BY 1)
SELECT per.split, n_docs, n_clustered_docs, n_clusters,
       coalesce(st.sp, 0)::bigint AS straddling_pairs
FROM per LEFT JOIN st USING (split)
"""


def _ngram_oracle() -> str:
    """Mirror of dedup.ngram_jaccard_pairs: DF-capped candidate generation
    (2 <= df <= 100) with counted common shingles, completed by the hot-
    shingle posting join; Jaccard exact for every discovered pair."""
    jac = (
        "floor(((common_rare + coalesce(common_hot, 0))::double / "
        "(na.n + nb.n - common_rare - coalesce(common_hot, 0))) "
        "* 10000.0 + 0.5) / 10000.0"
    )
    return f"""
WITH dup AS ({_DUP_DOCS}),
sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM dup),
exploded AS (SELECT doc_id, unnest(sh) AS g FROM sh),
dfreq AS (SELECT g, count(*) AS df FROM exploded GROUP BY g),
rare AS (SELECT e.doc_id, e.g FROM exploded e JOIN dfreq USING (g) WHERE df BETWEEN 2 AND 100),
hot AS (SELECT e.doc_id, e.g FROM exploded e JOIN dfreq USING (g) WHERE df > 100),
cands AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common_rare
  FROM rare a JOIN rare b ON a.g = b.g
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
hc AS (
  SELECT c.id_a, c.id_b, count(*) AS common_hot
  FROM cands c JOIN hot ha ON ha.doc_id = c.id_a
  JOIN hot hb ON hb.doc_id = c.id_b AND hb.g = ha.g
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh)
SELECT id_a, id_b, {jac} AS jaccard
FROM cands LEFT JOIN hc USING (id_a, id_b)
JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
WHERE {jac} >= 0.5
"""


_COSINE = (
    "floor((list_sum(list_transform(generate_series(1, len(q.embedding)), "
    "i -> q.embedding[i]::double * v.embedding[i]::double)) / "
    "(sqrt(list_sum(list_transform(q.embedding, x -> x::double * x::double))) * "
    "sqrt(list_sum(list_transform(v.embedding, x -> x::double * x::double))))) "
    "* 10000.0 + 0.5) / 10000.0"
)


def _ann_int8_oracle(n_queries: int = 5, k: int = 10) -> str:
    """Mirror of similarity.int8_cosine_topk: per-vector symmetric int8
    quantization (floor half-up), exact bigint dot/norms on the quantized
    grid, one double division + round4."""
    return f"""
WITH sc AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::double))) AS s
  FROM embeddings
),
q8 AS (
  SELECT vec_id,
         CASE WHEN s > 0
              THEN list_transform(embedding,
                     x -> floor(x::double / s * 127.0 + 0.5)::bigint)
              ELSE list_transform(embedding, x -> 0::bigint)
         END AS q
  FROM sc
),
n AS (
  SELECT vec_id, q,
         list_sum(list_transform(q, x -> x * x))::bigint AS n8
  FROM q8
),
qq AS (
  SELECT vec_id AS query_id, q AS qu, n8 AS qn8 FROM n WHERE vec_id < {n_queries}
),
scored AS (
  SELECT qq.query_id, v.vec_id,
         CASE WHEN qn8 > 0 AND v.n8 > 0
              THEN {_r4("list_sum(list_transform(generate_series(1, len(qu)), i -> qu[i] * v.q[i]))::double / (sqrt(qn8::double) * sqrt(v.n8::double))")}
              ELSE 0.0 END AS cosine_q8
  FROM n v, qq WHERE v.vec_id != qq.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine_q8,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine_q8 DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine_q8 FROM ranked WHERE rank <= {k}
"""


def _hard_negatives_oracle(
    n_queries: int = 5, k: int = 10, sim_cap: float = 0.95
) -> str:
    """Mirror of similarity.hard_negatives: cross-label candidates, the
    round4-floored cosine capped at sim_cap, rank (cosine DESC, vec_id)."""
    return f"""
WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding
           FROM embeddings WHERE vec_id < {n_queries}),
scored AS (
  SELECT q.query_id, v.vec_id, v.label AS neg_label, {_COSINE} AS cosine
  FROM embeddings v, q WHERE v.label != q.q_label
),
ranked AS (
  SELECT query_id, vec_id, neg_label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored WHERE cosine <= {sim_cap!r}
)
SELECT query_id, rank, vec_id, neg_label, cosine FROM ranked WHERE rank <= {k}
"""


def _ann_cosine_oracle() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id, {_COSINE} AS cosine
  FROM embeddings v, q WHERE v.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
"""


def _lsh_keys_sql(src: str, b: int, n_tables: int) -> str:
    """Shared CTE tail: banded LSH keys (vec_id, tbl, key) over ``src`` —
    mirrors similarity.lsh_table_keys with seeded planes."""
    dot_pv = (
        "list_sum(list_transform(generate_series(1, len(v.embedding)), "
        "i -> v.embedding[i]::double * p.p_emb[i]))"
    )
    return f"""
p AS ({_planes_sql(b * n_tables)}),
bits AS (
  SELECT v.vec_id, p.plane_id,
         CASE WHEN {dot_pv} >= 0 THEN 1 ELSE 0 END AS bit
  FROM {src} v, p
),
keys AS (
  SELECT vec_id, plane_id // {b} AS tbl,
         sum(bit * cast(pow(2.0, plane_id % {b}) as bigint)) AS key
  FROM bits GROUP BY vec_id, tbl
)"""


def _embedding_near_dup_oracle(b: int = 8, n_tables: int = 8) -> str:
    """Mirror of similarity.embedding_near_dup_pairs over the dup-injected
    embeddings table: banded seeded-plane keys, any-table bucket self-join,
    exact cosine rerank, threshold 0.9."""
    cos_ab = (
        "floor((list_sum(list_transform(generate_series(1, len(ea.embedding)), "
        "i -> ea.embedding[i]::double * eb.embedding[i]::double)) / "
        "(sqrt(list_sum(list_transform(ea.embedding, x -> x::double * x::double))) * "
        "sqrt(list_sum(list_transform(eb.embedding, x -> x::double * x::double))))) "
        "* 10000.0 + 0.5) / 10000.0"
    )
    return f"""
WITH dup AS (
  SELECT vec_id, embedding FROM embeddings UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
),
{_lsh_keys_sql('dup', b, n_tables)},
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.key = b.key
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, {cos_ab} AS cosine
FROM cands JOIN dup ea ON ea.vec_id = id_a JOIN dup eb ON eb.vec_id = id_b
WHERE {cos_ab} >= 0.9
"""


def _ann_lsh_oracle(b: int = 3, n_tables: int = 16) -> str:
    """Mirror of similarity.lsh_topk: banded seeded-plane keys (L tables of
    b bits), any-table candidate union, exact cosine rerank top-k."""
    return f"""
WITH {_lsh_keys_sql('embeddings', b, n_tables)},
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
qk AS (SELECT vec_id AS query_id, tbl, key AS probe FROM keys WHERE vec_id < 5),
cands AS (
  SELECT DISTINCT qk.query_id, vk.vec_id
  FROM keys vk JOIN qk ON vk.tbl = qk.tbl AND vk.key = qk.probe
  WHERE vk.vec_id != qk.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id, {_COSINE} AS cosine
  FROM cands c JOIN embeddings v ON v.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
"""


def _ann_lsh_multiprobe_oracle(b: int = 3, n_tables: int = 6, radius: int = 1) -> str:
    """Mirror of similarity.lsh_topk with probe_radius=1: the query-side
    probe set is the own key plus every single-bit xor flip."""
    flips = ", ".join(["key"] + [f"xor(key, {1 << i})" for i in range(b)])
    return f"""
WITH {_lsh_keys_sql('embeddings', b, n_tables)},
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
qk AS (
  SELECT DISTINCT query_id, tbl, probe FROM (
    SELECT vec_id AS query_id, tbl, unnest([{flips}]) AS probe
    FROM keys WHERE vec_id < 5)),
cands AS (
  SELECT DISTINCT qk.query_id, vk.vec_id
  FROM keys vk JOIN qk ON vk.tbl = qk.tbl AND vk.key = qk.probe
  WHERE vk.vec_id != qk.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id, {_COSINE} AS cosine
  FROM cands c JOIN embeddings v ON v.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
"""


def _pii_oracle() -> str:
    """Mirror of pii.with_injected_pii + pii.pii_scrub. The regexes are the
    module's own constants (Java-regex/RE2 shared subset); DuckDB needs the
    explicit 'g' flag where Spark's regexp_replace is global by default."""
    from readability_spark.operators.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    inj = (
        "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@mail.example.com for details' "
        "WHEN doc_id % 3 = 1 THEN ' call 202-555-' || lpad((doc_id % 10000)::varchar, 4, '0') || ' now' "
        "ELSE ' server 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' "
        "|| (doc_id % 100 + 1) || ' logged' END"
    )
    clean = (
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{IPV4_RE}', '<IP>', 'g'), "
        f"'{PHONE_RE}', '<PHONE>', 'g')"
    )
    return f"""
WITH p AS (SELECT doc_id, text || ({inj}) AS text FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}'))::int AS n_emails,
       len(regexp_extract_all(text, '{PHONE_RE}'))::int AS n_phones,
       len(regexp_extract_all(text, '{IPV4_RE}'))::int AS n_ips,
       {clean} AS clean_text
FROM p
"""


def _signal_correlation_oracle() -> str:
    """Mirror of textstats.signal_correlation over the LM oracle's
    rounded ppl and the rounded quality composite, per lang."""
    toks = "string_split(text, ' ')"
    quality = _r4(
        f"0.4::double * least(1.0::double, len({toks}) / 64.0) "
        f"+ 0.3::double * least(1.0::double, ({_EN_HITS} / len({toks})::double) * 4) "
        f"+ 0.3::double * (len(list_distinct({toks})) / len({toks})::double)"
    )
    return f"""
WITH lm AS ({_lm_perplexity_oracle(head_max=29.0, middle_max=30.5)})
SELECT d.lang AS grp, count(*)::bigint AS n_docs,
       {_r4('corr(lm.ppl, ' + quality.replace('text', 'd.text') + ')')} AS corr
FROM documents d JOIN lm ON lm.doc_id = d.doc_id
GROUP BY 1
"""


def _lexical_diversity_oracle(group: str = "source") -> str:
    """Mirror of textstats.lexical_diversity."""
    return f"""
WITH t AS (
  SELECT {group} AS grp, unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (SELECT grp, tok, count(*) AS c FROM t GROUP BY 1, 2),
per AS (
  SELECT grp, sum(c)::bigint AS n_tokens, count(*)::bigint AS n_types,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::bigint AS n_hapax
  FROM c GROUP BY 1)
SELECT grp, n_tokens, n_types, n_hapax,
       {_r4('n_types / n_tokens::double')} AS type_token_ratio,
       {_r4('n_hapax / n_types::double')} AS hapax_frac
FROM per
"""


def _corpus_card_oracle() -> str:
    """Mirror of textstats.corpus_card over the injected-dup corpus: the
    quality composite is the text_quality oracle's expression; dup rate
    from count(distinct md5(text))."""
    toks = "string_split(text, ' ')"
    quality = _r4(
        f"0.4::double * least(1.0::double, len({toks}) / 64.0) "
        f"+ 0.3::double * least(1.0::double, ({_EN_HITS} / len({toks})::double) * 4) "
        f"+ 0.3::double * (len(list_distinct({toks})) / len({toks})::double)"
    )
    return f"""
WITH dup AS ({_DUP_DOCS}),
a AS (
  SELECT count(*)::bigint AS n_docs,
         sum(len({toks}))::bigint AS n_tokens,
         sum(length(text))::bigint AS n_chars,
         count(DISTINCT lang)::bigint AS n_langs,
         count(DISTINCT source)::bigint AS n_sources,
         count(DISTINCT md5(text))::bigint AS n_unique,
         avg({quality}) AS avg_q
  FROM dup)
SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
       {_r4('(n_docs - n_unique) / n_docs::double')} AS exact_dup_rate,
       {_r4('avg_q')} AS mean_quality
FROM a
"""


def _pii_density_oracle() -> str:
    """Mirror of pii.pii_density_report over the injected-PII corpus."""
    from readability_spark.operators.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    inj = (
        "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@mail.example.com for details' "
        "WHEN doc_id % 3 = 1 THEN ' call 202-555-' || lpad((doc_id % 10000)::varchar, 4, '0') || ' now' "
        "ELSE ' server 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' "
        "|| (doc_id % 100 + 1) || ' logged' END"
    )
    return f"""
WITH p AS (SELECT doc_id, source, text || ({inj}) AS text FROM documents),
c AS (
  SELECT doc_id, source,
         len(string_split(text, ' '))::bigint AS n_toks,
         len(regexp_extract_all(text, '{EMAIL_RE}'))::bigint AS n_emails,
         len(regexp_extract_all(text, '{PHONE_RE}'))::bigint AS n_phones,
         len(regexp_extract_all(text, '{IPV4_RE}'))::bigint AS n_ips
  FROM p),
per AS (
  SELECT source, count(*)::bigint AS n_docs,
         sum(CASE WHEN n_emails + n_phones + n_ips > 0 THEN 1 ELSE 0 END)::bigint
           AS n_docs_with_pii,
         sum(n_emails)::bigint AS n_emails,
         sum(n_phones)::bigint AS n_phones,
         sum(n_ips)::bigint AS n_ips,
         sum(n_toks)::bigint AS n_tokens
  FROM c GROUP BY 1)
SELECT source, n_docs, n_docs_with_pii, n_emails, n_phones, n_ips,
       {_r4('(n_emails + n_phones + n_ips) * 1000.0 / n_tokens')} AS hits_per_1k_tokens
FROM per
"""


def _robots_oracle() -> str:
    """Mirror of sources/robots.py: synthesize → parse → RFC 9309 verdict
    (longest match, Allow wins ties, no match/no group == allowed)."""
    agent_re = r"(?i)^user-agent:[ \t]*([^ \t#]+)"
    rule_re = r"(?i)^(allow|disallow):[ \t]*([^ \t#]*)"
    return f"""
WITH hosts AS (SELECT DISTINCT source || '.example.com' AS host FROM documents),
txt AS (
  SELECT host, concat_ws(chr(10),
    '# synthetic robots for ' || host,
    CASE WHEN substr(md5(host),1,1) IN ('0','1')
         THEN 'User-agent: trainingbot' || chr(10) || 'Disallow: /' END,
    'User-agent: *',
    'Disallow: /private/',
    CASE WHEN substr(md5(host),1,1) IN ('0','1','2','3','4','5','6','7')
         THEN 'Disallow: /archive/' END,
    CASE WHEN substr(md5(host),1,1) IN ('0','1','2','3')
         THEN 'Allow: /archive/2' END,
    CASE WHEN substr(md5(host),1,1) IN ('4','5') THEN 'Crawl-delay: 2' END,
    'Disallow:') AS robots_txt
  FROM hosts
),
lines AS (
  SELECT host, u['ln'] AS ln, trim(regexp_replace(u['line'], '#.*$', '')) AS line
  FROM (SELECT host,
               unnest(list_transform(string_split(robots_txt, chr(10)),
                      (x, i) -> struct_pack(ln := i, line := x))) AS u
        FROM txt)
),
tagged AS (
  SELECT host, ln,
         nullif(lower(regexp_extract(line, '{agent_re}', 1)), '') AS agent_decl,
         lower(regexp_extract(line, '{rule_re}', 1)) AS directive,
         regexp_extract(line, '{rule_re}', 2) AS prefix
  FROM lines
),
rules AS (
  SELECT host, agent, directive, prefix FROM (
    SELECT host, directive, prefix,
           last_value(agent_decl IGNORE NULLS) OVER
             (PARTITION BY host ORDER BY ln
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS agent
    FROM tagged)
  WHERE directive != '' AND agent IS NOT NULL
),
own AS (
  SELECT host, max(CASE WHEN agent = 'trainingbot' THEN 1 ELSE 0 END) AS o
  FROM rules GROUP BY host
),
chosen AS (
  SELECT r.host, directive, prefix FROM rules r JOIN own USING (host)
  WHERE (o = 1 AND agent = 'trainingbot') OR (o = 0 AND agent = '*')
),
urls AS (
  SELECT 'http://' || source || '.example.com' || p AS url,
         source || '.example.com' AS host, p AS path
  FROM (SELECT source,
               CASE WHEN doc_id % 5 = 4 THEN '/private/' || doc_id || '.html'
                    WHEN doc_id % 7 = 0 THEN '/archive/' || doc_id || '.html'
                    ELSE '/doc/' || doc_id || '.html' END AS p
        FROM documents)
),
j AS (
  SELECT u.url, u.host,
         CASE WHEN c.prefix != '' AND starts_with(u.path, c.prefix)
              THEN struct_pack(ln := length(c.prefix),
                               allow := CASE WHEN c.directive = 'allow' THEN 1 ELSE 0 END,
                               prefix := c.prefix) END AS m
  FROM urls u LEFT JOIN chosen c USING (host)
)
SELECT url, host, max(m)['prefix'] AS matched_prefix,
       (coalesce(max(m)['allow'], 1) = 1) AS allowed
FROM j GROUP BY url, host
"""


def _corpus_build_oracle() -> str:
    """Mirror of pipeline.build_training_corpus: robots ∩ blocklist ∩
    gopher ∩ decontamination ∩ exact-dedup keep-first, composed from the
    per-operator oracles as subqueries over the same url construction."""
    nlab = "len(string_split(host, '.'))"
    return f"""
WITH urls AS (
  SELECT doc_id, 'http://' || source || '.example.com' || p AS url,
         source || '.example.com' AS host, p AS path
  FROM (SELECT doc_id, source,
               CASE WHEN doc_id % 5 = 4 THEN '/private/' || doc_id || '.html'
                    WHEN doc_id % 7 = 0 THEN '/archive/' || doc_id || '.html'
                    ELSE '/doc/' || doc_id || '.html' END AS p
        FROM documents)
),
robots_ok AS (
  SELECT u.doc_id FROM urls u JOIN ({_robots_oracle()}) rv ON u.url = rv.url
  WHERE rv.allowed
),
bl AS (
  SELECT DISTINCT host AS domain FROM urls
  WHERE substr(md5(host), 1, 1) IN ('0', '1', '2', '3')
),
host_hit AS (
  SELECT DISTINCT s.url FROM (
    SELECT url, unnest(list_transform(generate_series(1, {nlab}),
           i -> array_to_string(string_split(host, '.')[i:{nlab}], '.'))) AS sfx
    FROM urls) s JOIN bl ON s.sfx = bl.domain
),
block_ok AS (
  SELECT u.doc_id FROM urls u LEFT JOIN host_hit h ON u.url = h.url
  WHERE h.url IS NULL AND NOT regexp_matches(u.path, '/doc/[0-9]*7\\.html$')
),
gopher_ok AS (
  SELECT doc_id, n_words FROM ({_gopher_oracle()}) WHERE gopher_pass
),
decon_ok AS (
  SELECT doc_id, contamination_frac FROM ({_decontam_oracle(inject=False)}) WHERE keep
),
keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
SELECT k.doc_id, g.n_words, d.contamination_frac
FROM keep k
JOIN robots_ok r ON k.doc_id = r.doc_id
JOIN block_ok b ON k.doc_id = b.doc_id
JOIN gopher_ok g ON k.doc_id = g.doc_id
JOIN decon_ok d ON k.doc_id = d.doc_id
"""


def _blocklist_oracle() -> str:
    """Mirror of urltools.blocklist_filter over the synthetic url table:
    blocklist = hosts with md5 first hex 0-3, path rule = ids ending in 7."""
    nlab = "len(string_split(host, '.'))"
    return f"""
WITH u AS (
  SELECT 'http://' || source || '.example.com/doc/' || doc_id || '.html' AS url,
         source || '.example.com' AS host,
         '/doc/' || doc_id || '.html' AS path
  FROM documents
), bl AS (
  SELECT DISTINCT host AS domain FROM u
  WHERE substr(md5(host), 1, 1) IN ('0', '1', '2', '3')
), suf AS (
  SELECT url, host, path,
         unnest(list_transform(generate_series(1, {nlab}),
                i -> array_to_string(string_split(host, '.')[i:{nlab}], '.'))) AS s
  FROM u
), folded AS (
  SELECT url, host, path,
         max(CASE WHEN b.domain IS NOT NULL THEN 1 END) AS hit
  FROM suf LEFT JOIN bl b ON suf.s = b.domain
  GROUP BY url, host, path
)
SELECT url, host,
       CASE WHEN hit IS NOT NULL THEN 'blocked_host'
            WHEN regexp_matches(path, '/doc/[0-9]*7\\.html$') THEN 'blocked_path'
       END AS reason,
       (hit IS NULL AND NOT regexp_matches(path, '/doc/[0-9]*7\\.html$')) AS keep
FROM folded
"""


def _quantiles_oracle() -> str:
    """Mirror of textstats.length_quantiles: DuckDB quantile_cont uses the
    same linear interpolation as Spark's exact percentile aggregate."""
    cols = ", ".join(
        f"{_r4(f'quantile_cont(n_chars, {p})')} AS p{int(p * 100)}"
        for p in (0.25, 0.5, 0.75, 0.95, 0.99)
    )
    return f"""
SELECT lang, count(*) AS n_docs, {cols}
FROM documents GROUP BY lang
"""


def _gopher_oracle(stopwords: tuple = ("the", "a")) -> str:
    """Mirror of textstats.gopher_rules (Gopher/MassiveWeb §A1.1 rules) with
    the corpus-matched stopword list the queries use."""
    stop = ", ".join(f"'{w}'" for w in stopwords)
    return f"""
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n,
         (length(text) - (len(string_split(text, ' ')) - 1))
           / len(string_split(text, ' ')) AS mean_len,
         len(list_filter(string_split(text, ' '),
             w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
         ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3
          + (length(text) - length(replace(text, '…', '')))) AS symbols,
         len(list_filter(list_distinct(string_split(text, ' ')),
             w -> list_contains([{stop}], w))) AS stop_hits
  FROM documents
)
SELECT doc_id,
       n::int AS n_words,
       {_r4('mean_len')} AS mean_word_len,
       {_r4('alpha_words / n')} AS alpha_word_frac,
       {_r4('symbols / n')} AS symbol_ratio,
       stop_hits::int AS stopword_hits,
       (n >= 50 AND n <= 100000) AS ok_words,
       (mean_len >= 3 AND mean_len <= 10) AS ok_mean_len,
       (alpha_words / n >= 0.8) AS ok_alpha,
       (symbols / n <= 0.1) AS ok_symbol,
       (stop_hits >= 2) AS ok_stop,
       ((n >= 50 AND n <= 100000) AND (mean_len >= 3 AND mean_len <= 10)
        AND (alpha_words / n >= 0.8) AND (symbols / n <= 0.1)
        AND (stop_hits >= 2)) AS gopher_pass
FROM m
"""


def _lined_cte(width: int = 8) -> str:
    """Shared DuckDB mirror of cleaning.with_synthetic_lines: the ``t`` and
    ``lined`` CTE bodies that rebuild the identical deterministically-lined
    text (used by both the C4 and the line-dedup oracles so the synthetic
    liner has exactly one SQL mirror)."""
    w = width
    return f"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
lined AS (
  SELECT doc_id,
    array_to_string(list_concat(
      list_transform(
        generate_series(0, cast(ceil(len(toks) / {w}.0) AS int) - 1),
        i -> (CASE WHEN (doc_id + i) % 7 = 0 THEN 'javascript ' ELSE '' END)
             || array_to_string(toks[i*{w}+1 : i*{w}+{w}], ' ')
             || (['.', '!', '?', ''])[cast((doc_id + i) % 4 AS int) + 1]),
      list_filter([
        CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' END,
        CASE WHEN doc_id % 13 = 0 THEN 'config block {{ not prose }} here.' END,
        CASE WHEN doc_id % 17 = 0 THEN 'xxbadwordxx spam spam spam spam.' END
      ], x -> x IS NOT NULL)
    ), chr(10)) AS text
  FROM t
)"""


def _host_boilerplate_oracle(width: int = 8, min_docs: int = 3) -> str:
    """Mirror of cleaning.host_boilerplate_lines over the shared lined
    CTE, joined back to documents for the source column."""
    return f"""
WITH {_lined_cte(width)},
l AS (
  SELECT DISTINCT d.source AS grp, m.doc_id, line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        FROM lined) m
  JOIN documents d ON d.doc_id = m.doc_id)
SELECT grp, line, count(*)::bigint AS n_docs
FROM l GROUP BY 1, 2 HAVING count(*) >= {min_docs}
"""


def _line_dedup_oracle(width: int = 8, min_docs: int = 4) -> str:
    """Mirror of cleaning.with_synthetic_lines + cleaning.line_dedup: a line
    occurring in >= min_docs distinct docs is dropped from every doc;
    survivors rejoin in original order (list_filter preserves it, matching
    the Spark side's idx-sorted reassembly)."""
    return f"""
WITH {_lined_cte(width)},
m AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM lined),
freq AS (
  SELECT line, count(DISTINCT doc_id) AS doc_freq
  FROM (SELECT doc_id, unnest(lines) AS line FROM m)
  GROUP BY line
),
banned AS (
  SELECT coalesce(list(line), []::varchar[]) AS bl
  FROM freq WHERE doc_freq >= {min_docs}
),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, l -> NOT list_contains(bl, l)) AS kept
  FROM m, banned
)
SELECT doc_id,
  len(lines)::bigint AS n_lines,
  len(kept)::bigint AS n_kept,
  array_to_string(kept, chr(10)) AS text_clean
FROM k
"""


def _c4_clean_oracle(width: int = 8) -> str:
    """Mirror of cleaning.with_synthetic_lines + cleaning.c4_clean: rebuild
    the identical deterministically-lined text, then apply the C4 rules
    (terminal punctuation, >=5 words, no 'javascript' line; >=3 kept lines,
    no blocklist word / 'lorem ipsum' / curly brace page)."""
    return f"""
WITH {_lined_cte(width)},
m AS (
  SELECT doc_id,
    string_split(text, chr(10)) AS lines,
    list_filter(string_split(text, chr(10)), l ->
      regexp_matches(l, '[.!?"]$')
      AND len(string_split(l, ' ')) >= 5
      AND NOT contains(lower(l), 'javascript')) AS kept,
    regexp_matches(lower(text),
      '(^|[^a-z0-9])(xxbadwordxx)($|[^a-z0-9])') AS has_badword,
    contains(lower(text), 'lorem ipsum') AS has_lorem,
    contains(text, '{{') AS has_brace
  FROM lined
)
SELECT doc_id,
  len(lines)::int AS n_lines,
  len(kept)::int AS n_kept,
  has_badword, has_lorem, has_brace,
  (len(kept) >= 3 AND NOT has_badword AND NOT has_lorem
   AND NOT has_brace) AS c4_pass,
  CASE WHEN (len(kept) >= 3 AND NOT has_badword AND NOT has_lorem
             AND NOT has_brace)
       THEN array_to_string(kept, chr(10)) ELSE '' END AS text_clean
FROM m
"""


_GRAMS5 = (
    "list_transform("
    "generate_series(0, greatest(len(string_split(text, ' ')) - 5, 0)), "
    "i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' '))"
)


def _decontam_oracle(inject: bool = True) -> str:
    """Mirror of decontam.decontaminate (n=5, bench = doc_id%17==3, keep iff
    frac <= 0.05); with ``inject``, also mirrors with_injected_contamination
    (snippet = first 10 tokens of doc 3 appended to doc_id%10==7)."""
    if inject:
        d2 = """
WITH snip AS (
  SELECT array_to_string(string_split(text, ' ')[1:10], ' ') AS s
  FROM documents WHERE doc_id = 3
), d2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 7 AND doc_id % 17 != 3
              THEN text || ' ' || (SELECT s FROM snip) ELSE text END AS text
  FROM documents
)"""
    else:
        d2 = "WITH d2 AS (SELECT doc_id, text FROM documents)"
    return f"""
{d2}, bench AS (
  SELECT DISTINCT unnest({_GRAMS5}) AS gram FROM d2 WHERE doc_id % 17 = 3
), pos AS (
  SELECT doc_id, unnest({_GRAMS5}) AS gram FROM d2 WHERE doc_id % 17 != 3
)
SELECT p.doc_id, count(*) AS n_grams, count(b.gram) AS n_contaminated,
       {_r4('count(b.gram) / count(*)')} AS contamination_frac,
       (count(b.gram) / count(*) <= 0.05) AS keep
FROM pos p LEFT JOIN bench b USING (gram)
GROUP BY p.doc_id
"""


def _chunk_dedup_oracle(chunk: int = 16) -> str:
    """Mirror of decontam.chunk_dedup over the dup-injected corpus: global
    keep-first (min (doc_id, idx)) per distinct chunk string, reassembled."""
    return f"""
WITH dup AS ({_DUP_DOCS}),
base AS (SELECT doc_id, string_split(text, ' ') AS t FROM dup),
chunks AS (
  SELECT doc_id, idx,
         array_to_string(t[idx*{chunk}+1 : idx*{chunk}+{chunk}], ' ') AS chunk
  FROM (SELECT doc_id, t,
               unnest(generate_series(0, cast(ceil(len(t)/{chunk}.0) AS int) - 1)) AS idx
        FROM base)
),
ranked AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
  FROM chunks
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(list(chunk ORDER BY idx), ' ') AS text_dedup
  FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT b.doc_id, cast(ceil(len(b.t)/{chunk}.0) AS bigint) AS n_chunks,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.text_dedup, '') AS text_dedup
FROM base b LEFT JOIN agg a USING (doc_id)
"""


def _repetition_oracle(n: int = 2) -> str:
    """Mirror of textstats.repetition_stats: explode token n-grams, count
    per (doc, gram), aggregate top/dup fractions."""
    toks = "string_split(text, ' ')"
    return f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, len({toks}) - {n}),
                i -> array_to_string({toks}[i+1:i+{n}], ' '))) AS gram
  FROM documents WHERE len({toks}) >= {n}
),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
SELECT doc_id,
       sum(cnt)::bigint AS n_grams,
       max(cnt)::int AS top_gram_count,
       {_r4("max(cnt) / sum(cnt)::double")} AS top_gram_frac,
       {_r4("sum(case when cnt > 1 then cnt else 0 end) / sum(cnt)::double")} AS dup_gram_frac
FROM c GROUP BY doc_id
"""


def _corpus_sample_oracle() -> str:
    """Mirror of sampling.stratified_sample: unit hash = first 32 md5 bits
    of the stringified doc_id (nibble arithmetic == Spark's conv()), kept
    when below the stratum's rate."""
    u = f"({_h32_sql(tok='doc_id::varchar')}) / 4294967296.0"
    return f"""
SELECT doc_id, lang, u FROM (
  SELECT doc_id, lang, {u} AS u,
         CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'es' THEN 0.25 ELSE 0.1 END AS r
  FROM documents) t
WHERE u < r
"""


def _sequence_pack_oracle(seq_len: int = 512) -> str:
    """Mirror of pipeline.pack_into_sequences: the naive single-window
    global prefix sum in doc_id order — the two-phase distributed form must
    reproduce these integers exactly (pure integer arithmetic, no floats)."""
    last = f"(start_off + n_tokens - 1) // {seq_len}"
    return f"""
WITH b AS (
  SELECT doc_id, greatest(len(string_split(text, ' ')), 1) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
  FROM b
)
SELECT doc_id,
       n_tokens::int AS n_tokens,
       start_off::bigint AS start_off,
       (start_off // {seq_len})::bigint AS seq_first,
       ({last})::bigint AS seq_last,
       ({last} - start_off // {seq_len} + 1)::int AS n_seqs
FROM o
"""


def _dsir_oracle(
    k: int = 100, n_buckets: int = 512, alpha: float = 0.1, seed: int = 7
) -> str:
    """Mirror of dsir.dsir_select over the demo split (target = doc_id%10==0,
    raw = rest): hashed unigram+bigram bucket counts, add-alpha multinomial
    models, per-doc log importance weight, md5-seeded Gumbel top-k."""
    toks = "string_split(lower(text), ' ')"
    feats = (
        f"list_concat({toks}, "
        f"list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> {toks}[i] || '_' || {toks}[i+1]))"
    )
    h32f = _h32_sql(tok="feat")
    seed_tok = "'%d:' || doc_id::varchar" % seed
    gu = f"(({_h32_sql(tok=seed_tok)}) + 0.5) / 4294967296.0"
    denom_extra = alpha * n_buckets
    return f"""
WITH tgt AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
raw AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0),
tf AS (
  SELECT doc_id, ({h32f}) % {n_buckets} AS bucket, count(*) AS cnt
  FROM (SELECT doc_id, unnest({feats}) AS feat FROM tgt) GROUP BY 1, 2
),
rf AS (
  SELECT doc_id, ({h32f}) % {n_buckets} AS bucket, count(*) AS cnt
  FROM (SELECT doc_id, unnest({feats}) AS feat FROM raw) GROUP BY 1, 2
),
tm AS (SELECT bucket, sum(cnt) AS c FROM tf GROUP BY 1),
rm AS (SELECT bucket, sum(cnt) AS c FROM rf GROUP BY 1),
tt AS (SELECT sum(c) AS tot FROM tm),
rt AS (SELECT sum(c) AS tot FROM rm),
model AS (
  SELECT b.bucket,
    ln((coalesce(tm.c, 0) + {alpha}) / (tt.tot + {denom_extra})) AS log_p,
    ln((coalesce(rm.c, 0) + {alpha}) / (rt.tot + {denom_extra})) AS log_q
  FROM (SELECT unnest(generate_series(0, {n_buckets - 1})) AS bucket) b
  LEFT JOIN tm USING (bucket) LEFT JOIN rm USING (bucket), tt, rt
),
scored AS (
  SELECT rf.doc_id, sum(cnt) AS n_feats, sum(cnt * (log_p - log_q)) AS logw
  FROM rf JOIN model USING (bucket) GROUP BY 1
),
g AS (
  SELECT doc_id, n_feats, logw, logw + (-ln(-ln({gu}))) AS gkey FROM scored
),
r AS (
  SELECT doc_id, n_feats, logw, gkey,
         row_number() OVER (ORDER BY gkey DESC, doc_id ASC) AS rank
  FROM g
)
SELECT doc_id, n_feats::bigint AS n_feats, {_r4("logw")} AS logw,
       {_r4("gkey")} AS gkey, rank::int AS rank
FROM r WHERE rank <= {k}
"""


def _domain_prior_oracle(threshold: float = 0.55) -> str:
    """Mirror of textstats.domain_quality_prior: the good-doc gate
    compares the round4-floored quality composite (bit-exact across
    engines) to the threshold; moments and Beta shrinkage are the same
    window arithmetic over the K-row domain table, with the identical
    1e-12 variance guard and flat-Beta(1,1) fallback."""
    toks = "string_split(text, ' ')"
    quality = _r4(
        f"0.4::double * least(1.0::double, len({toks}) / 64.0) "
        f"+ 0.3::double * least(1.0::double, ({_EN_HITS} / len({toks})::double) * 4) "
        f"+ 0.3::double * (len(list_distinct({toks})) / len({toks})::double)"
    )
    s_raw = "(m * (1.0 - m) / (v - m * m) - 1.0)"
    ok = f"((v - m * m) > 1e-12 AND {s_raw} > 0.0)"
    s = f"CASE WHEN {ok} THEN {s_raw} ELSE 2.0 END"
    alpha = f"CASE WHEN {ok} THEN m * {s_raw} ELSE 1.0 END"
    return f"""
WITH per AS (
  SELECT source AS domain, count(*)::bigint AS n_docs,
         sum(CASE WHEN {quality} >= {threshold!r} THEN 1 ELSE 0 END)::bigint AS n_good
  FROM documents GROUP BY 1),
mo AS (
  SELECT domain, n_docs, n_good,
         n_good / n_docs::double AS p,
         avg(n_good / n_docs::double) OVER () AS m,
         avg((n_good / n_docs::double) * (n_good / n_docs::double)) OVER () AS v
  FROM per)
SELECT domain, n_docs, n_good,
       {_r4('p')} AS raw_rate,
       {_r4(f'(n_good + {alpha}) / (n_docs + {s})')} AS shrunk_rate,
       {_r4(alpha)} AS prior_alpha,
       {_r4(f'({s}) - ({alpha})')} AS prior_beta
FROM mo
"""


def _corpus_pack_oracle(budget: int = 600, group: str = "source") -> str:
    """Mirror of pipeline.pack_by_token_budget: quality-ordered running
    token sum per source, cut at the budget. The quality expression is the
    text_quality oracle's composite (both sides order by the SAME rounded
    value, ties on doc_id, so the greedy cut is deterministic)."""
    toks = "string_split(text, ' ')"
    quality = _r4(
        f"0.4::double * least(1.0::double, len({toks}) / 64.0) "
        f"+ 0.3::double * least(1.0::double, ({_EN_HITS} / len({toks})::double) * 4) "
        f"+ 0.3::double * (len(list_distinct({toks})) / len({toks})::double)"
    )
    return f"""
WITH q AS (
  SELECT doc_id, {group}, len({toks})::int AS n_tokens, {quality} AS quality
  FROM documents
),
p AS (
  SELECT {group}, doc_id, quality, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY {group} ORDER BY quality DESC, doc_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS cum_tokens
  FROM q
)
SELECT {group}, doc_id, quality, n_tokens, cum_tokens FROM p WHERE cum_tokens <= {budget}
"""


_LINKS_CTE = """
links AS (
  SELECT doc_id,
         'http://h' || (doc_id % 11)::varchar || '.fakehost/p/' || doc_id::varchar AS url,
         'http://t' || (doc_id % 7)::varchar || '.fakehost' ||
           (CASE doc_id % 3
              WHEN 0 THEN '/p' || (doc_id % 5)::varchar
              WHEN 1 THEN '/a/p' || (doc_id % 5)::varchar
              ELSE '/a/b/p' || (doc_id % 5)::varchar END) AS href,
         string_split(text, ' ')[1] || ' ' || lang AS anchor
  FROM documents)
"""


def _anchor_profile_oracle() -> str:
    """Mirror of links.anchor_profile over the synthetic link table: modal
    anchor (count desc, lexicographic tiebreak) + exact distinct counts."""
    return f"""
WITH {_LINKS_CTE},
pa AS (SELECT href, anchor, count(*) AS n FROM links GROUP BY 1, 2),
top AS (
  SELECT href, anchor AS top_anchor, n AS top_anchor_n,
         row_number() OVER (PARTITION BY href ORDER BY n DESC, anchor) AS r
  FROM pa),
tot AS (
  SELECT href, count(*) AS n_links,
         count(DISTINCT lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1))) AS n_src_hosts,
         count(DISTINCT anchor) AS n_distinct_anchors
  FROM links GROUP BY 1)
SELECT t.href, t.n_links, t.n_src_hosts, t.n_distinct_anchors,
       p.top_anchor, p.top_anchor_n
FROM tot t JOIN top p ON t.href = p.href AND p.r = 1
"""


def _tfidf_oracle(k: int = 5) -> str:
    """Mirror of lexsearch.tfidf_topk: whitespace tokens (empties dropped),
    tf per (doc, term), df over the tf aggregate, sklearn smoothed idf
    ln((N+1)/(df+1)) + 1, round4-floored score, row_number ordered by
    (score desc, term asc)."""
    score = _r4("tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::double AS n_docs FROM documents),
s AS (
  SELECT doc_id, term, tf, df, {score} AS score
  FROM tf JOIN dfq USING (term), n
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM s
)
SELECT doc_id, term, tf, df, score, rk::int AS rk FROM r WHERE rk <= {k}
"""


def _bm25_oracle(k: int = 10) -> str:
    """Replays lexsearch.bm25_topk exactly: same Lucene idf, same literal
    expression trees ((1.2 + 1.0), (1.0 - 0.75)), avgdl as explicit
    sum/count division, round4-floor on the summed score before ranking,
    doc_id tiebreak."""
    return f"""
WITH q(query_id, term) AS (VALUES
  (0, 'customer'), (0, 'window'), (0, 'join'),
  (1, 'vector'), (1, 'stream'), (1, 'hash'),
  (2, 'the'), (2, 'slow'), (2, 'merge')),
toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents),
post AS (
  SELECT doc_id, term, dl, count(*) AS tf
  FROM toks WHERE term IN (SELECT term FROM q)
  GROUP BY 1, 2, 3),
dfk AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
stats AS (
  SELECT count(*)::double AS n_docs,
         sum(len(string_split(text, ' ')))::double AS sum_dl
  FROM documents),
scored AS (
  SELECT q.query_id::bigint AS query_id, p.doc_id,
         floor(sum(
           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (p.tf::double * (1.2 + 1.0))
           / (p.tf::double
              + 1.2 * ((1.0 - 0.75) + 0.75 * p.dl / (s.sum_dl / s.n_docs)))
         ) * 10000.0 + 0.5) / 10000.0 AS score
  FROM post p
  JOIN dfk d ON d.term = p.term
  JOIN q ON q.term = p.term, stats s
  GROUP BY 1, 2)
SELECT query_id, doc_id, score, rk FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::int AS rk
  FROM scored)
WHERE rk <= {k}
"""


def _frontier_oracle(k: int = 100) -> str:
    """Mirror of frontier.prioritize_frontier: crawled = the slot-0 href
    classes; priority = host_score * n_refs / (1+depth)
    with the 1.0 + (m/10.0) host prior; single-window rank (salting in the
    operator provably cannot change the result)."""
    return f"""
WITH {_LINKS_CTE},
cand AS (
  SELECT href, count(*) AS n_refs FROM links
  WHERE href NOT IN (SELECT DISTINCT href FROM links WHERE doc_id % 5 = 0)
  GROUP BY 1),
hs AS (
  SELECT DISTINCT 't' || (doc_id % 7)::varchar || '.fakehost' AS host,
         1.0 + (doc_id % 7)::double / 10.0 AS host_score
  FROM documents),
f AS (
  SELECT lower(regexp_extract(href, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS host,
         href, n_refs,
         len(list_filter(
           string_split(
             regexp_replace(regexp_replace(href, '^[a-zA-Z]+://[^/]*', ''),
                            '[?#].*$', ''), '/'),
           x -> x != ''))::int AS depth
  FROM cand),
f2 AS (
  SELECT f.host, f.href, f.n_refs, f.depth,
         floor(coalesce(hs.host_score, 1.0) * f.n_refs::double
               / (1.0 + f.depth::double) * 10000.0 + 0.5) / 10000.0 AS priority
  FROM f LEFT JOIN hs ON hs.host = f.host)
SELECT host, href, n_refs, depth, priority, rk FROM (
  SELECT host, href, n_refs, depth, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, href)::int AS rk
  FROM f2)
WHERE rk <= {k}
"""


_SITEMAP_EXPECTED_CTE = """
hosts AS (
  SELECT DISTINCT source || '.example.com' AS host,
         substr(md5(source || '.example.com'), 1, 1) AS hx,
         strpos('0123456789abcdef', substr(md5(source || '.example.com'), 2, 1)) - 1
           AS dayv
  FROM documents),
expected AS (
  SELECT host, 'url' AS kind, 'http://' || host || '/a?x=1&y=2' AS loc,
         make_date(2026, 7, (dayv % 27) + 1) AS lastmod,
         'daily' AS changefreq, 0.8::double AS priority
  FROM hosts
  UNION ALL
  SELECT host, 'url', 'http://' || host || '/b', NULL, NULL, 0.5::double FROM hosts
  UNION ALL
  SELECT host, 'url', 'http://' || host || '/c', NULL, NULL, 1.0::double
  FROM hosts WHERE hx IN ('0','1','2','3','4','5','6','7')
  UNION ALL
  SELECT host, 'url', 'http://' || host || '/d', DATE '2026-08-02', NULL, 0.5::double
  FROM hosts WHERE hx IN ('0','1','2','3')
  UNION ALL
  SELECT host, 'index', 'http://' || host || '/sitemap-a.xml',
         DATE '2026-08-01', NULL, NULL::double
  FROM hosts WHERE hx IN ('0','1','2','3')
  UNION ALL
  SELECT host, 'index', 'http://' || host || '/sitemap-b.xml', NULL, NULL, NULL
  FROM hosts WHERE hx IN ('0','1','2','3'))
"""


def _sitemap_entries_oracle() -> str:
    """First-principles expected output of the synthesize → parse roundtrip
    (sources/sitemaps.py): the writer's per-host md5 branches enumerated
    directly — entity escapes undone, datetime lastmod reduced to its date,
    the invalid 'sometimes' changefreq nulled, priority 1.7 clamped to 1.0,
    absent priority defaulted to 0.5, the loc-less entry dropped, and the
    index blob's two children emitted with null changefreq/priority."""
    return f"WITH {_SITEMAP_EXPECTED_CTE} SELECT * FROM expected"


def _sitemap_recrawl_oracle() -> str:
    """Mirror of sitemaps.sitemap_recrawl_candidates over the expected
    entries and the /a + half-/b crawl ledger: new when uncrawled, stale
    when lastmod postdates the fetch, else fresh."""
    return f"""
WITH {_SITEMAP_EXPECTED_CTE},
ledger AS (
  SELECT 'http://' || host || '/a?x=1&y=2' AS loc, DATE '2026-07-10' AS fetched_on
  FROM hosts
  UNION ALL
  SELECT 'http://' || host || '/b', DATE '2026-08-05'
  FROM hosts WHERE hx IN ('0','1','2','3','4','5','6','7'))
SELECT e.loc, e.lastmod, e.priority, l.fetched_on,
       CASE WHEN l.fetched_on IS NULL THEN 'new'
            WHEN e.lastmod IS NOT NULL AND e.lastmod > l.fetched_on THEN 'stale'
            ELSE 'fresh' END AS action
FROM (SELECT * FROM expected WHERE kind = 'url') e
LEFT JOIN ledger l ON l.loc = e.loc
"""


def _refetch_oracle(interval: float = 30.0, min_d: float = 1.0, max_d: float = 365.0) -> str:
    """Mirror of snapshots.change_history + refetch_schedule over the three
    synthetic snapshots: per-pair change flags (content equality stands in
    for the operator's md5 comparison), then the Cho & Garcia-Molina
    +0.5-corrected Poisson rate and clamped interval, round4-floored AFTER
    the interval is derived from the raw rate."""
    return f"""
WITH s0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 16 != 0),
s1 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || ' v1' ELSE text END AS text
  FROM documents WHERE doc_id % 16 != 1),
s2 AS (
  SELECT doc_id,
         text || (CASE WHEN doc_id % 3 = 0 THEN ' v2' ELSE '' END)
              || (CASE WHEN doc_id % 5 = 0 THEN ' w' ELSE '' END) AS text
  FROM documents),
obs AS (
  SELECT s0.doc_id, CASE WHEN s0.text != s1.text THEN 1 ELSE 0 END AS chg
  FROM s0 JOIN s1 USING (doc_id)
  UNION ALL
  SELECT s1.doc_id, CASE WHEN s1.text != s2.text THEN 1 ELSE 0 END
  FROM s1 JOIN s2 USING (doc_id)),
hist AS (
  SELECT doc_id, count(*)::bigint AS n_checks, sum(chg)::bigint AS n_changed
  FROM obs GROUP BY 1),
r AS (
  SELECT doc_id, n_checks, n_changed,
         -ln((n_checks::double - n_changed::double + 0.5)
             / (n_checks::double + 0.5)) / {interval} AS lam
  FROM hist)
SELECT doc_id, n_checks, n_changed,
       floor(lam * 10000.0 + 0.5) / 10000.0 AS lambda_per_day,
       floor((CASE WHEN n_changed = 0 THEN {max_d}
                   ELSE least(greatest(1.0 / lam, {min_d}), {max_d}) END)
             * 10000.0 + 0.5) / 10000.0 AS refetch_days
FROM r
"""


def _classifier_oracle(n_iter: int = 16, lr: float = 4.0, threshold: float = 1.4) -> str:
    """Mirror of operators/classifier.py: the identical full-batch logistic
    GD unrolled as CTE rounds w0..w{n_iter} (fixed count, no convergence
    probe — same engine-reproducibility trick as the PageRank oracle),
    then the same round4-floored scoring projection."""
    feats = f"""
f AS MATERIALIZED (
  SELECT doc_id,
         len(string_split(text, ' '))::double / 100.0 AS x1,
         (doc_id % 10)::double / 10.0 AS x2,
         CASE WHEN len(string_split(text, ' '))::double / 100.0
                   + 2.0 * ((doc_id % 10)::double / 10.0) > {threshold}
              THEN 1.0 ELSE 0.0 END::double AS y
  FROM documents),
w0 AS (SELECT 0.0::double AS w1, 0.0::double AS w2, 0.0::double AS b)"""
    # one CTE per round, each referencing the previous exactly once —
    # a doubly-referenced w{i} would inline exponentially (2^n_iter scans)
    # in DuckDB; any_value() carries the constant weights through the agg
    rounds = []
    for i in range(n_iter):
        rounds.append(f"""
w{i + 1} AS (
  SELECT any_value(w1) - {lr} * avg((1.0 / (1.0 + exp(-(b + w1 * x1 + w2 * x2))) - y) * x1) AS w1,
         any_value(w2) - {lr} * avg((1.0 / (1.0 + exp(-(b + w1 * x1 + w2 * x2))) - y) * x2) AS w2,
         any_value(b) - {lr} * avg(1.0 / (1.0 + exp(-(b + w1 * x1 + w2 * x2))) - y) AS b
  FROM f, w{i})""")
    return f"""
WITH {feats},{','.join(rounds)}
SELECT doc_id, y,
       floor(1.0 / (1.0 + exp(-(b + w1 * x1 + w2 * x2))) * 10000.0 + 0.5)
         / 10000.0 AS p,
       CASE WHEN 1.0 / (1.0 + exp(-(b + w1 * x1 + w2 * x2))) > 0.5
            THEN 1.0 ELSE 0.0 END::double AS yhat,
       (CASE WHEN 1.0 / (1.0 + exp(-(b + w1 * x1 + w2 * x2))) > 0.5
             THEN 1.0 ELSE 0.0 END) = y AS correct
FROM f, w{n_iter}
"""


def _doremi_oracle(
    n_iter: int = 8,
    lr: float = 0.5,
    eta: float = 4.0,
    smoothing: float = 0.05,
    threshold: float = 1.4,
) -> str:
    """Mirror of classifier.train_group_dro / domain_mix_report: the
    identical Group-DRO rounds unrolled as CTE triples (g{i}: per-domain
    loss + gradient aggregation carrying the constant state via
    any_value; a{i}: exponentiated-gradient alpha update normalized with
    a window sum + uniform smoothing via count(*) OVER (); s{i}: the
    alpha-weighted theta step). Loss uses the same numerically-stable
    closed form max(z,0) - y*z + ln(1+exp(-|z|)) as the Spark side, so
    neither engine ever forms log(0)."""
    z = "(s.b + s.w1 * f.x1 + s.w2 * f.x2)"
    sig = f"(1.0 / (1.0 + exp(-{z})))"
    loss = f"(greatest({z}, 0.0) - f.y * {z} + ln(1.0 + exp(-abs({z}))))"
    exc = f"greatest(0.0, l - ln(2.0))"
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(f"""
g{i} AS (
  SELECT f.domain,
         any_value(s.alpha) AS alpha,
         any_value(s.w1) AS w1, any_value(s.w2) AS w2, any_value(s.b) AS b,
         avg({loss}) AS l,
         avg(({sig} - f.y) * f.x1) AS g1,
         avg(({sig} - f.y) * f.x2) AS g2,
         avg({sig} - f.y) AS gb
  FROM f JOIN s{i - 1} s USING (domain)
  GROUP BY f.domain),
a{i} AS (
  SELECT domain, w1, w2, b, g1, g2, gb,
         {exc} AS excess,
         (1.0 - {smoothing}) * (alpha * exp({eta} * {exc}))
           / sum(alpha * exp({eta} * {exc})) OVER ()
           + {smoothing} / count(*) OVER () AS alpha
  FROM g{i}),
s{i} AS (
  SELECT domain, alpha, excess,
         w1 - {lr} * sum(alpha * g1) OVER () AS w1,
         w2 - {lr} * sum(alpha * g2) OVER () AS w2,
         b - {lr} * sum(alpha * gb) OVER () AS b
  FROM a{i})""")
    return f"""
WITH f AS MATERIALIZED (
  SELECT doc_id, source AS domain,
         len(string_split(text, ' '))::double / 100.0 AS x1,
         (doc_id % 10)::double / 10.0 AS x2,
         CASE WHEN len(string_split(text, ' '))::double / 100.0
                   + 2.0 * ((doc_id % 10)::double / 10.0) > {threshold}
              THEN 1.0 ELSE 0.0 END::double AS y
  FROM documents),
s0 AS (
  SELECT domain,
         1.0 / count(*) OVER () AS alpha,
         0.0::double AS w1, 0.0::double AS w2, 0.0::double AS b,
         0.0::double AS excess
  FROM (SELECT DISTINCT domain FROM f)),{','.join(rounds)}
SELECT s.domain, c.n_docs,
       {_r4('s.alpha')} AS weight,
       {_r4('s.excess')} AS excess_loss
FROM s{n_iter} s
JOIN (SELECT domain, count(*)::bigint AS n_docs FROM f GROUP BY 1) c
  USING (domain)
"""


def _lm_perplexity_oracle(
    k: float = 0.5,
    train_mod: int = 10,
    train_keep: int = 8,
    head_max: float = 100.0,
    middle_max: float = 1000.0,
) -> str:
    """Mirror of operators/lm.lm_perplexity: same deterministic training
    slice, add-k bigram model, smoothed log-prob scoring, round4-floored
    perplexity, fixed-threshold bands. MATERIALIZED pairs CTE: it is
    referenced by both the training counts and the scoring join, and an
    inlined copy would re-split every document's text per reference."""
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pairs AS MATERIALIZED (
  SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
        FROM toks WHERE len(t) >= 2)),
c2 AS MATERIALIZED (
  SELECT w1, w2, count(*) AS c2 FROM pairs
  WHERE doc_id % {train_mod} < {train_keep} GROUP BY w1, w2),
c1 AS MATERIALIZED (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
v AS (SELECT count(DISTINCT w)::double AS v
      FROM (SELECT unnest(t) AS w FROM toks
            WHERE doc_id % {train_mod} < {train_keep})),
per AS (
  SELECT p.doc_id,
         count(*) AS n_bigrams,
         sum(CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END)::bigint AS n_oov,
         avg(ln((coalesce(c2.c2, 0)::double + {k})
                / (coalesce(c1.c1, 0)::double + {k} * (SELECT v FROM v)))) AS avg_logp
  FROM pairs p
  LEFT JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
  LEFT JOIN c1 ON p.w1 = c1.w1
  GROUP BY p.doc_id)
SELECT doc_id, n_bigrams, n_oov,
       floor(exp(-avg_logp) * 10000.0 + 0.5) / 10000.0 AS ppl,
       CASE WHEN floor(exp(-avg_logp) * 10000.0 + 0.5) / 10000.0 <= {head_max} THEN 'head'
            WHEN floor(exp(-avg_logp) * 10000.0 + 0.5) / 10000.0 <= {middle_max} THEN 'middle'
            ELSE 'tail' END AS band
FROM per
"""


def _lm_adaptive_oracle(
    k: float = 0.5,
    train_mod: int = 10,
    train_keep: int = 8,
    head_q: float = 1.0 / 3.0,
    middle_q: float = 2.0 / 3.0,
    cut_sample_rate: float = 0.6,
) -> str:
    """Mirror of operators/lm.lm_perplexity_adaptive: same model and
    scoring as _lm_perplexity_oracle, then per-language cut points from
    quantile_cont (== Spark exact percentile, linear interpolation) over
    the md5 unit-hash sample, round4-floored before the band comparison."""
    u = f"({_h32_sql(tok='doc_id::varchar')}) / 4294967296.0"
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pairs AS MATERIALIZED (
  SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
        FROM toks WHERE len(t) >= 2)),
c2 AS MATERIALIZED (
  SELECT w1, w2, count(*) AS c2 FROM pairs
  WHERE doc_id % {train_mod} < {train_keep} GROUP BY w1, w2),
c1 AS MATERIALIZED (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
v AS (SELECT count(DISTINCT w)::double AS v
      FROM (SELECT unnest(t) AS w FROM toks
            WHERE doc_id % {train_mod} < {train_keep})),
scored AS MATERIALIZED (
  SELECT p.doc_id,
         count(*) AS n_bigrams,
         sum(CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END)::bigint AS n_oov,
         {_r4('exp(-avg(ln((coalesce(c2.c2, 0)::double + ' + repr(k)
              + ') / (coalesce(c1.c1, 0)::double + ' + repr(k)
              + ' * (SELECT v FROM v)))))')} AS ppl
  FROM pairs p
  LEFT JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
  LEFT JOIN c1 ON p.w1 = c1.w1
  GROUP BY p.doc_id),
sl AS MATERIALIZED (
  SELECT s.*, d.lang FROM scored s JOIN documents d USING (doc_id)),
cuts AS (
  SELECT lang,
         {_r4(f'quantile_cont(ppl, {head_q!r})')} AS head_cut,
         {_r4(f'quantile_cont(ppl, {middle_q!r})')} AS middle_cut
  FROM sl WHERE {u} < {cut_sample_rate!r} GROUP BY lang)
SELECT s.lang, s.doc_id, s.n_bigrams, s.n_oov, s.ppl, c.head_cut, c.middle_cut,
       CASE WHEN s.ppl <= c.head_cut THEN 'head'
            WHEN s.ppl <= c.middle_cut THEN 'middle'
            ELSE 'tail' END AS band
FROM sl s JOIN cuts c USING (lang)
"""


def _pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    """Mirror of graph.pagerank on the doc-derived 97-node graph: the same
    power iteration unrolled as CTE rounds r0..r{n_iter} (fixed iteration
    count on both sides; no dangling nodes by construction)."""
    rounds = []
    for t in range(n_iter):
        rounds.append(
            f"""r{t + 1} AS (
  SELECT n.node,
         (1.0 - {damping}) / (SELECT n FROM nn) +
         {damping} * coalesce(c.contrib, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS contrib
    FROM edges e
    JOIN r{t} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst) c ON c.node = n.node
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 97 AS src, (doc_id * doc_id + 1) % 97 AS dst FROM documents
    UNION ALL
    SELECT doc_id % 97 AS src, (doc_id + 1) % 97 AS dst FROM documents)
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*)::double AS outdeg FROM edges GROUP BY src),
nn AS (SELECT count(*)::double AS n FROM nodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{chain}
SELECT node, floor(rank * 10000.0 + 0.5) / 10000.0 AS rank FROM r{n_iter}
"""


def _trustrank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    """Mirror of graph.trustrank on the 97-node doc graph with seeds
    node % 13 == 0: the seed-biased power iteration unrolled as CTE rounds
    (r0 = teleport vector; no dangling nodes by construction, same as the
    pagerank oracle)."""
    rounds = []
    for t in range(n_iter):
        rounds.append(
            f"""r{t + 1} AS (
  SELECT tp.node,
         (1.0 - {damping}) * tp.s + {damping} * coalesce(c.contrib, 0.0) AS trust
  FROM tp LEFT JOIN (
    SELECT e.dst AS node, sum(r.trust / d.outdeg) AS contrib
    FROM edges e
    JOIN r{t} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst) c ON c.node = tp.node
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 97 AS src, (doc_id * doc_id + 1) % 97 AS dst FROM documents
    UNION ALL
    SELECT doc_id % 97 AS src, (doc_id + 1) % 97 AS dst FROM documents)
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*)::double AS outdeg FROM edges GROUP BY src),
ns AS (SELECT count(*)::double AS n FROM nodes WHERE node % 13 = 0),
tp AS (
  SELECT node,
         CASE WHEN node % 13 = 0 THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS s
  FROM nodes
),
r0 AS (SELECT node, s AS trust FROM tp),
{chain}
SELECT node, floor(trust * 100000.0 + 0.5) / 100000.0 AS trust FROM r{n_iter}
"""


def _html_tables_oracle() -> str:
    """Mirror of _q_html_tables from the synthesis arithmetic alone: per
    (doc, t) the structural stats and the reference MarkDataTables decision
    chain (presentation → caption/header → single-col → big → area>10).
    n_cols counts td-per-row max, so the <th> header row contributes rows
    but not columns; rows are always ≥2 so the rows==1 branch is
    unreachable and cols==1 is the only small-table short-circuit."""
    return """
WITH tt AS (
  SELECT doc_id, t
  FROM documents, (VALUES (0), (1), (2)) ts(t)
  WHERE doc_id % 10 = 0 AND t < 1 + doc_id % 3
),
s AS (
  SELECT doc_id, t,
         (2 + (doc_id + t) % 9)::int AS r,
         (1 + (doc_id * 3 + t) % 5)::int AS c,
         ((doc_id + t) % 5 = 0) AS pres,
         ((doc_id + t) % 4 = 0) AS cap,
         ((doc_id + t) % 3 = 0) AS hdr
  FROM tt
)
SELECT doc_id, t::int AS table_idx, r AS n_rows, c AS n_cols,
       cap AS has_caption, hdr AS has_header, pres AS presentation,
       CASE WHEN pres THEN false
            WHEN cap OR hdr THEN true
            WHEN c = 1 THEN false
            WHEN r >= 10 OR c > 4 THEN true
            ELSE r * c > 10 END AS is_data_table,
       ((r - CASE WHEN hdr THEN 1 ELSE 0 END) * c)::bigint AS cell_chars
FROM s
"""


def _mime_sniff_oracle() -> str:
    """Mirror of _q_mime_sniff from the synthesis arithmetic alone:
    declared = _MIME_DECLARED[(d//6)%6], sniffed = _MIME_SNIFFED[d%6]
    (the Spark side must DERIVE the latter from the payload bytes)."""
    dec = ", ".join(f"'{m}'" for m in _MIME_DECLARED)
    sni = ", ".join(f"'{m}'" for m in _MIME_SNIFFED)
    return f"""
WITH m AS (
  SELECT ([{dec}])[(doc_id // 6) % 6 + 1] AS declared,
         ([{sni}])[doc_id % 6 + 1] AS sniffed
  FROM documents
)
SELECT declared, sniffed, count(*)::bigint AS n,
       sum(CASE WHEN declared <> sniffed THEN 1 ELSE 0 END)::bigint AS n_mismatch
FROM m GROUP BY declared, sniffed
"""


def _redirect_resolve_oracle(max_hops: int = 16) -> str:
    """Mirror of _q_redirect_resolve: the same redirect map walked with a
    depth-bounded WITH RECURSIVE; a source resolves iff some step lands on
    a node with no outgoing edge, else it's looped (2-cycles at the bottom
    of the root%40==0 groups)."""
    return f"""
WITH RECURSIVE em AS (
  SELECT src, min(dst) AS dst FROM (
    SELECT doc_id AS src, doc_id - 1 AS dst FROM documents WHERE doc_id % 8 <> 0
    UNION ALL
    SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 40 = 0
  ) GROUP BY src
),
walk(src, cur, hops) AS (
  SELECT src, dst, 1::bigint FROM em
  UNION ALL
  SELECT w.src, m.dst, w.hops + 1 FROM walk w
  JOIN em m ON m.src = w.cur WHERE w.hops < {max_hops}
),
resolved AS (
  SELECT w.src, w.cur AS final, w.hops
  FROM walk w LEFT JOIN em m ON m.src = w.cur
  WHERE m.src IS NULL
)
SELECT em.src AS node, r.final, r.hops,
       (r.src IS NULL) AS looped
FROM em LEFT JOIN resolved r ON r.src = em.src
"""


def _feed_entries_oracle() -> str:
    """Mirror of _q_feed_entries from the synthesis arithmetic: one row per
    (doc d: d%7==0, j ≤ d%4) — the Spark side derives these from the XML."""
    return """
WITH f AS (
  SELECT doc_id AS d, t.j
  FROM documents, (VALUES (0), (1), (2), (3)) t(j)
  WHERE doc_id % 7 = 0 AND t.j <= doc_id % 4
)
SELECT 'http://site' || (d % 40) || '.com/feed' || d || '.xml' AS feed_url,
       CASE WHEN d % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
       'Feed ' || d AS feed_title,
       j::int AS entry_idx,
       'Entry ' || d || '-' || j AS title,
       'http://site' || (d % 40) || '.com/p/' || (d * 4 + j) AS link,
       '2024-01-01T00:00:' || lpad(((d + j) % 60)::varchar, 2, '0') || 'Z'
         AS published
FROM f
"""


def _canonical_meta_oracle() -> str:
    """Mirror of _q_canonical_meta: canonical key, variant flag and
    noindex flag regenerated from the d%3 / d%5 / d%7 arithmetic, folded
    per canonical key."""
    return """
WITH m AS (
  SELECT doc_id AS d,
         'http://site' || (doc_id % 40) || '.com/p/' || doc_id AS url,
         CASE WHEN doc_id % 3 = 0 THEN
           'http://site' || ((doc_id - doc_id % 5) % 40) || '.com/p/'
             || (doc_id - doc_id % 5) END AS canonical,
         (doc_id % 7 = 0) AS noindex
  FROM documents WHERE doc_id % 4 = 0
),
k AS (
  SELECT coalesce(canonical, url) AS canonical_key,
         (canonical IS NOT NULL AND canonical <> url) AS is_variant,
         noindex
  FROM m
)
SELECT canonical_key, count(*)::bigint AS n_pages,
       sum(CASE WHEN is_variant THEN 1 ELSE 0 END)::bigint AS n_variants,
       sum(CASE WHEN noindex THEN 0 ELSE 1 END)::bigint AS n_indexable
FROM k GROUP BY canonical_key
"""


def _charset_report_oracle() -> str:
    """Mirror of _q_charset_report from the doc_id % 5 variant arithmetic
    (the Spark side must derive the same routing from payload bytes)."""
    return """
WITH m AS (
  SELECT CASE doc_id % 5 WHEN 0 THEN 'utf-8-bom' WHEN 3 THEN 'utf-16le' END AS bom,
         CASE doc_id % 5 WHEN 2 THEN 'iso-8859-1' END AS declared,
         CASE doc_id % 5 WHEN 0 THEN 'utf-8-bom' WHEN 1 THEN 'utf-8'
              WHEN 2 THEN 'iso-8859-1' WHEN 3 THEN 'utf-16le'
              ELSE 'best-effort' END AS decided
  FROM documents
)
SELECT bom, declared, decided, count(*)::bigint AS n
FROM m GROUP BY bom, declared, decided
"""


def _html_outline_oracle() -> str:
    """Mirror of _q_html_outline from the synthesis arithmetic: depth
    k = 1+(d/10)%6, level counts 1+(d+L)%2 (h2 zeroed in the d%20==10
    family), skips_levels = that family AND k ≥ 3."""
    cs = ",\n         ".join(
        f"CASE WHEN {L} <= k AND NOT (skipfam AND {L} = 2)"
        f" THEN (1 + (d + {L}) % 2) ELSE 0 END::int AS n_h{L}"
        for L in range(1, 7)
    )
    return f"""
WITH base AS (
  SELECT doc_id AS d, (1 + (doc_id // 10) % 6)::int AS k,
         (doc_id % 20 = 10) AS skipfam
  FROM documents WHERE doc_id % 10 = 0
),
c AS (
  SELECT d, k, skipfam,
         {cs}
  FROM base
)
SELECT d AS doc_id, n_h1, n_h2, n_h3, n_h4, n_h5, n_h6,
       (n_h1 + n_h2 + n_h3 + n_h4 + n_h5 + n_h6)::int AS n_headings,
       CASE WHEN skipfam AND k = 2 THEN 1 ELSE k END AS max_level,
       'H1-' || d || '-0' AS first_h1,
       (skipfam AND k >= 3) AS skips_levels
FROM c
"""


def _jsonld_inventory_oracle() -> str:
    """Mirror of _q_jsonld_inventory from the d%4 / d%3 / d%2 / d%5
    arithmetic."""
    types = ", ".join(f"'{t}'" for t in _JSONLD_TYPES)
    return f"""
WITH m AS (
  SELECT ([{types}])[doc_id % 4 + 1] AS jsonld_type,
         (doc_id % 3 > 0) AS has_headline,
         (doc_id % 2 = 0) AS has_author
  FROM documents WHERE doc_id % 5 <> 4
)
SELECT jsonld_type, count(*)::bigint AS n_pages,
       sum(CASE WHEN has_headline THEN 1 ELSE 0 END)::bigint AS n_with_headline,
       sum(CASE WHEN has_author THEN 1 ELSE 0 END)::bigint AS n_with_author
FROM m GROUP BY jsonld_type
"""


def _hreflang_clusters_oracle() -> str:
    """Mirror of _q_hreflang_clusters: target (cluster, lang_j) referenced
    by the members with d%4 >= j — count regenerated per cluster from the
    membership arithmetic (robust to a ragged final cluster)."""
    langs = ", ".join(f"'{x}'" for x in _HREFLANG_LANGS)
    return f"""
WITH mem AS (
  SELECT (doc_id - doc_id % 4) AS c, (doc_id % 4)::int AS m FROM documents
),
refs AS (
  SELECT c, t.j
  FROM mem, (VALUES (0), (1), (2), (3)) t(j)
  WHERE t.j <= m
)
SELECT ([{langs}])[j + 1] AS hreflang,
       'http://x.com/c/' || c || '/' || ([{langs}])[j + 1] AS href,
       count(*)::bigint AS n_refs
FROM refs GROUP BY c, j
"""


def _pagination_chains_oracle() -> str:
    """Mirror of _q_pagination_chains: every article a (a%5==0) with
    L = 1+(a//5)%5 ≥ 2 appears once with its arithmetic first/last urls."""
    return """
SELECT 'http://site.com/a/' || doc_id AS first_page,
       'http://site.com/a/' || (doc_id + (1 + (doc_id // 5) % 5) - 1)
         AS last_page,
       (1 + (doc_id // 5) % 5)::bigint AS n_pages
FROM documents
WHERE doc_id % 5 = 0 AND (1 + (doc_id // 5) % 5) >= 2
"""


def _cc_large_star_oracle() -> str:
    """Same transitive-closure ground truth as _clusters_oracle, labels
    only — cc_large_small_star must reproduce it exactly."""
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
{_closure_ctes('pairs')}
SELECT doc_id, cluster_id FROM lbl
"""


def _cdc_chunk_oracle(window: int = 8, max_chars: int = 2000, min_copies: int = 2) -> str:
    """Mirror of cdc.cdc_chunk_dedup: the same md5-trailing-window boundary
    rule, chunk slicing, and fingerprint aggregation over the dup-injected
    corpus."""
    w = window
    return f"""
WITH dup AS ({_DUP_DOCS}),
t AS (SELECT doc_id, substr(text, 1, {max_chars}) AS t, length(substr(text, 1, {max_chars})) AS L FROM dup),
b AS (
  SELECT doc_id, t, L,
         list_sort(list_distinct(list_append(
           list_filter(generate_series({w}, L),
                       i -> right(md5(substr(t, i - {w - 1}, {w})), 1) = '0'),
           L))) AS ends
  FROM t WHERE L > 0
),
ch AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ends)),
           j -> substr(t,
                       CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END,
                       ends[j] - CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END)))
           AS chunk
  FROM b
)
SELECT md5(chunk) AS chunk_fp,
       count(*)::bigint AS n_occurrences,
       count(DISTINCT doc_id)::bigint AS n_docs,
       min(length(chunk))::int AS chunk_chars
FROM ch GROUP BY md5(chunk) HAVING count(*) >= {min_copies}
"""


def _url_dates_oracle() -> str:
    """Mirror of _q_url_dates: d%3 picks the url family, the d%9==2 decoy
    (month 13) and the undated family land in (null, null)."""
    return """
WITH m AS (
  SELECT CASE WHEN doc_id % 3 = 2 THEN NULL
              ELSE (doc_id % 6 + 2019)::int END AS year,
         CASE WHEN doc_id % 3 = 2 THEN NULL
              ELSE (doc_id % 12 + 1)::int END AS month
  FROM documents
)
SELECT year, month, count(*)::bigint AS n_urls FROM m GROUP BY year, month
"""


def _soft404_oracle() -> str:
    """Mirror of _q_soft404_report from the d%13 arithmetic (healthy docs
    can never trip the thin rule: min corpus text length > 40 chars, so
    the arithmetic is exact)."""
    return """
WITH m AS (
  SELECT CASE doc_id % 13
           WHEN 0 THEN 'not_found' WHEN 1 THEN 'not_found'
           WHEN 2 THEN 'gone' WHEN 3 THEN 'denied'
           WHEN 4 THEN 'error' WHEN 5 THEN 'thin'
           ELSE 'ok' END AS reason
  FROM documents
)
SELECT reason, count(*)::bigint AS n_pages FROM m GROUP BY reason
"""


def _hll_shard_merge_oracle() -> str:
    """Mirror of _q_hll_shard_merge: the shared md5 register math from
    _hll_distinct_tokens_oracle, grouped per shard, merged by bucket max,
    and recomputed direct — six estimate rows."""
    from readability_spark.operators.sketches import HLL_M, HLL_NUM, HLL_SMALL

    n13 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {4 + i}, 1)) - 1) "
        f"* cast(pow(16, {12 - i}) as bigint)"
        for i in range(13)
    )
    n3 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {1 + i}, 1)) - 1) "
        f"* cast(pow(16, {2 - i}) as bigint)"
        for i in range(3)
    )
    return f"""
WITH toks AS (
  SELECT 's' || (doc_id % 4) AS shard, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
bv AS (
  SELECT shard, ({n3})::int AS bucket, ({n13})::bigint AS v
  FROM (SELECT shard, substr(md5(tok), 1, 16) AS hx FROM toks)
),
sregs AS (
  SELECT shard AS grp, bucket,
    max(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS register
  FROM bv GROUP BY shard, bucket
),
regs AS (
  SELECT * FROM sregs
  UNION ALL
  SELECT 'merged' AS grp, bucket, max(register) FROM sregs GROUP BY bucket
  UNION ALL
  SELECT 'direct' AS grp, bucket, max(register) FROM sregs GROUP BY bucket
),
g AS (
  SELECT grp,
    count(*)::bigint AS n_registers,
    max(register)::int AS max_register,
    sum(register)::bigint AS sum_registers,
    sum(1::hugeint << (53 - register)) AS sum_shift
  FROM regs GROUP BY grp
),
r AS (
  SELECT grp, n_registers, max_register, sum_registers,
    {HLL_NUM!r}
      / (sum_shift + ({HLL_M} - n_registers)::hugeint * (1::hugeint << 53))::double
      AS raw
  FROM g
)
SELECT grp, n_registers, max_register, sum_registers,
  round(raw, 4) AS raw_est,
  round(CASE WHEN raw <= {HLL_SMALL!r} AND n_registers < {HLL_M}
        THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - n_registers)::double)
        ELSE raw END, 4) AS hll_est
FROM r
"""


def _dictionary_match_oracle() -> str:
    """Mirror of _q_dictionary_match: per-pattern non-overlapping counts
    via length-difference (exact for the border-free gazetteer)."""
    cnt = " + ".join(
        f"((length(text) - length(replace(text, '{p}', ''))) / {len(p)})"
        for p in _DICT_PATTERNS
    )
    distinct = " + ".join(
        f"(CASE WHEN contains(text, '{p}') THEN 1 ELSE 0 END)"
        for p in _DICT_PATTERNS
    )
    return f"""
SELECT doc_id, ({cnt})::bigint AS n_hits, ({distinct})::int AS n_patterns
FROM documents
"""


def _media_tags_oracle() -> str:
    """Mirror of _q_media_tags from the d%4 / d%5 / d%3 / d%2 / d%7
    arithmetic."""
    return """
SELECT doc_id,
       (doc_id % 4
        + CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END
        + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)::int AS n_img,
       (CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END)::int AS n_lazy_img,
       (doc_id % 3)::int AS n_video,
       (doc_id % 2)::int AS n_iframe,
       0::int AS n_picture,
       (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)::int AS n_noscript_img
FROM documents
"""


def _lm_mixture_em_oracle(n_iter: int = 5) -> str:
    """Mirror of lm.lm_mixture_em on the d%3 split: the same Laplace
    ratios, grid-quantized posterior, exact-integer E-step sum, and the
    identical IEEE chain per round, unrolled as r1..r{n_iter} CTEs."""

    def lam_expr(prev: str) -> str:
        lam = f"(SELECT lam FROM {prev})" if prev else "0.5"
        one_minus = f"(1 - {lam})" if prev else "0.5"
        return (
            f"SELECT sum(floor({lam} * pa / ({lam} * pa + {one_minus} * pb)"
            f" * 1e12 + 0.5)::bigint * ch)::double"
            f" / (1e12 * (SELECT nh FROM scal)) AS lam FROM probs"
        )

    # MATERIALIZED: each round references the previous round's scalar three
    # times; with default CTE inlining the plan re-expands the whole token
    # pipeline 3^n times (measured: minutes instead of milliseconds)
    rounds = ",\n".join(
        f"r{r} AS MATERIALIZED ({lam_expr(f'r{r - 1}' if r > 1 else '')})"
        for r in range(1, n_iter + 1)
    )
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, floor(lam * 1e9 + 0.5) / 1e9 AS lam FROM r{r}"
        for r in range(1, n_iter + 1)
    )
    return f"""
WITH ca AS (
  SELECT tok, count(*) AS ca FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE doc_id % 3 = 0)
  WHERE tok <> '' GROUP BY tok
),
cb AS (
  SELECT tok, count(*) AS cb FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE doc_id % 3 = 1)
  WHERE tok <> '' GROUP BY tok
),
ch AS (
  SELECT tok, count(*) AS ch FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE doc_id % 3 = 2)
  WHERE tok <> '' GROUP BY tok
),
vocab AS (SELECT tok FROM ca UNION SELECT tok FROM cb),
scal AS MATERIALIZED (
  SELECT (SELECT coalesce(sum(ca), 0) FROM ca) AS na,
         (SELECT coalesce(sum(cb), 0) FROM cb) AS nb,
         (SELECT count(*) FROM vocab) AS v,
         (SELECT coalesce(sum(ch), 0) FROM ch) AS nh
),
probs AS MATERIALIZED (
  SELECT ch.ch,
         (coalesce(ca.ca, 0) + 1)::double
           / ((SELECT na FROM scal) + (SELECT v FROM scal))::double AS pa,
         (coalesce(cb.cb, 0) + 1)::double
           / ((SELECT nb FROM scal) + (SELECT v FROM scal))::double AS pb
  FROM ch LEFT JOIN ca USING (tok) LEFT JOIN cb USING (tok)
),
{rounds}
{sel}
"""


def _graph_2hop_oracle(fanout: int = 3) -> str:
    """Mirror of graph.two_hop_sample_report on the 97-node doc graph:
    the same md5-ranked per-node sample via one row_number window, the
    same sampled⋈sampled composition."""
    return f"""
WITH edges AS (
  SELECT DISTINCT src AS u, dst AS v FROM (
    SELECT doc_id % 97 AS src, (doc_id * doc_id + 1) % 97 AS dst FROM documents
    UNION ALL
    SELECT doc_id % 97 AS src, (doc_id + 1) % 97 AS dst FROM documents)
),
ranked AS (
  SELECT u, v,
         row_number() OVER (PARTITION BY u ORDER BY md5(u || '_' || v), v) AS rn
  FROM edges
),
s AS (SELECT u, v FROM ranked WHERE rn <= {fanout}),
paths AS (
  SELECT s1.u AS seed, s1.v AS h1, s2.v AS w
  FROM s s1 JOIN s s2 ON s2.u = s1.v
)
SELECT seed, count(DISTINCT h1)::int AS n_hop1,
       count(*)::bigint AS n_paths,
       count(DISTINCT w)::int AS n_hop2
FROM paths GROUP BY seed
"""


def _rare_ngram_oracle(rare_df: int = 1) -> str:
    """Mirror of pii.rare_ngram_report over the dup-injected corpus: the
    same distinct-3-gram construction (_SHINGLES) and DF≤{rare_df} postings
    arithmetic."""
    return f"""
WITH dup AS ({_DUP_DOCS}),
sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM dup),
ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
rare AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= {rare_df}),
rc AS (SELECT e.doc_id, count(*) AS n_rare FROM ex e JOIN rare USING (g)
       GROUP BY e.doc_id),
sizes AS (SELECT doc_id, len(sh)::bigint AS n_ngrams FROM sh)
SELECT s.doc_id, s.n_ngrams,
       coalesce(rc.n_rare, 0)::bigint AS n_rare,
       floor(coalesce(rc.n_rare, 0)::double / s.n_ngrams * 10000.0 + 0.5)
         / 10000.0 AS rare_frac
FROM sizes s LEFT JOIN rc ON rc.doc_id = s.doc_id
"""


def _license_optout_oracle() -> str:
    """Mirror of _q_license_optout from the d%3 / d%8 / d%4 / d%5
    arithmetic."""
    codes = ", ".join(f"'{c}'" for c in _CC_CODES)
    return f"""
WITH m AS (
  SELECT CASE
           WHEN doc_id % 3 <> 0 THEN 'none'
           WHEN doc_id % 8 = 2 THEN 'other'
           WHEN doc_id % 8 = 4 THEN 'cc0'
           ELSE 'cc-' || ([{codes}])[doc_id % 4 + 1]
         END AS license,
         (doc_id % 5 = 0) AS noai,
         (doc_id % 5 = 1) AS tdm_reserved
  FROM documents
)
SELECT license, noai, tdm_reserved, count(*)::bigint AS n
FROM m GROUP BY license, noai, tdm_reserved
"""


def _hll_window_users_oracle() -> str:
    """Mirror of streaming.windowed_distinct_users_batch: the same register
    math as _hll_distinct_tokens_oracle, grouped by the hourly window
    (Spark's aligned 1-hour window start == date_trunc('hour'))."""
    from readability_spark.operators.sketches import HLL_M, HLL_NUM, HLL_SMALL

    n13 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {4 + i}, 1)) - 1) "
        f"* cast(pow(16, {12 - i}) as bigint)"
        for i in range(13)
    )
    n3 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {1 + i}, 1)) - 1) "
        f"* cast(pow(16, {2 - i}) as bigint)"
        for i in range(3)
    )
    return f"""
WITH ev AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w, user_id
  FROM events
),
hxs AS (
  SELECT w, substr(md5(user_id::varchar), 1, 16) AS hx FROM ev
),
bv AS (
  SELECT w, ({n3})::int AS bucket, ({n13})::bigint AS v FROM hxs
),
regs AS (
  SELECT w, bucket,
    max(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS register
  FROM bv GROUP BY w, bucket
),
g AS (
  SELECT w,
    count(*)::bigint AS n_registers,
    max(register)::int AS max_register,
    sum(register)::bigint AS sum_registers,
    sum(1::hugeint << (53 - register)) AS sum_shift
  FROM regs GROUP BY w
),
r AS (
  SELECT w, n_registers, max_register, sum_registers,
    {HLL_NUM!r}
      / (sum_shift + ({HLL_M} - n_registers)::hugeint * (1::hugeint << 53))::double
      AS raw
  FROM g
),
e AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w,
         count(DISTINCT user_id)::bigint AS n_exact
  FROM events GROUP BY 1
)
SELECT r.w AS window_start, n_registers, max_register, sum_registers,
  round(raw, 4) AS raw_est,
  round(CASE WHEN raw <= {HLL_SMALL!r} AND n_registers < {HLL_M}
        THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - n_registers)::double)
        ELSE raw END, 4) AS hll_est,
  n_exact
FROM r JOIN e USING (w)
"""


def _jl_projection_oracle() -> str:
    """Mirror of projection.jl_project over embeddings: the sign matrix and
    addition chain come from the SAME generator (projection.jl_project_sql)."""
    from readability_spark.operators.projection import jl_project_sql

    sel = ",\n  ".join(
        f"round({expr}, 6) AS {name}"
        for name, expr in jl_project_sql("embedding", in_dim=64, out_dim=16)
    )
    return f"SELECT vec_id,\n  {sel}\nFROM embeddings"


def _zorder_oracle(bits: int = 8, file_bits: int = 6) -> str:
    """Mirror of layout.zorder_layout over (doc_id % 256, n_chars % 256):
    the Morton-interleave SQL is emitted by the SAME generator the Spark
    expression uses (layout.zorder_sql)."""
    from readability_spark.operators.layout import zorder_sql

    z = zorder_sql(["xb", "yb"], bits=bits)
    shift = bits * 2 - file_bits
    return f"""
WITH d AS (SELECT doc_id % 256 AS xb, n_chars % 256 AS yb FROM documents),
k AS (SELECT xb, yb, ({z}) >> {shift} AS file_id FROM d)
SELECT file_id, count(*) AS n,
       min(xb) AS min_xb, max(xb) AS max_xb,
       min(yb) AS min_yb, max(yb) AS max_yb
FROM k GROUP BY file_id
"""


def _hits_oracle(n_iter: int = 8) -> str:
    """Mirror of graph.hits on the doc-derived 97-node graph: the same
    mutual-reinforcement half-steps unrolled as CTEs, L2-normalized per
    half-step exactly as the operator does."""
    rounds = []
    for t in range(n_iter):
        rounds.append(
            f"""a{t + 1}r AS MATERIALIZED (
  SELECT n.node, coalesce(s.v, 0.0) AS a
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(h.h) AS v
    FROM edges e JOIN h{t} h ON h.node = e.src GROUP BY e.dst) s
  ON s.node = n.node
),
a{t + 1} AS MATERIALIZED (SELECT node, a / (SELECT sqrt(sum(a * a)) FROM a{t + 1}r) AS a FROM a{t + 1}r),
h{t + 1}r AS MATERIALIZED (
  SELECT n.node, coalesce(s.v, 0.0) AS h
  FROM nodes n LEFT JOIN (
    SELECT e.src AS node, sum(a.a) AS v
    FROM edges e JOIN a{t + 1} a ON a.node = e.dst GROUP BY e.src) s
  ON s.node = n.node
),
h{t + 1} AS MATERIALIZED (SELECT node, h / (SELECT sqrt(sum(h * h)) FROM h{t + 1}r) AS h FROM h{t + 1}r)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 97 AS src, (doc_id * doc_id + 1) % 97 AS dst FROM documents
    UNION ALL
    SELECT doc_id % 97 AS src, (doc_id + 1) % 97 AS dst FROM documents)
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT node, 1.0 AS h FROM nodes),
{chain}
SELECT a.node AS node,
       floor(a.a * 10000.0 + 0.5) / 10000.0 AS authority,
       floor(h.h * 10000.0 + 0.5) / 10000.0 AS hub
FROM a{n_iter} a JOIN h{n_iter} h ON h.node = a.node
"""


def _warc_ingest_oracle() -> str:
    """Mirror of warc._q_warc_ingest: every parsed field recomputed from
    `documents` via the byte-exact template reconstruction (pages.ORACLE_HTML
    — pure-ASCII text, so varchar length == byte length and DuckDB's md5
    over the varchar equals Spark's md5 over the recovered body bytes)."""
    from readability_spark.sources.pages import ORACLE_HTML, URL_PREFIX

    return f"""
SELECT '{URL_PREFIX}' || doc_id || '.html' AS url,
       TIMESTAMP '2025-04-04 00:00:00' + to_seconds(doc_id) AS warc_ts,
       200 AS status,
       'text/html; charset=UTF-8' AS content_type,
       length({ORACLE_HTML})::bigint AS n_bytes,
       md5({ORACLE_HTML}) AS html_md5
FROM documents
"""


def _compaction_plan_oracle(target_rows: int = 100) -> str:
    """Mirror of layout.compaction_plan over the zorder oracle manifest."""
    return f"""
WITH m AS ({_zorder_oracle()}),
g AS (
  SELECT file_id, n,
         floor(coalesce(sum(n) OVER (ORDER BY file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {int(target_rows)})::int AS group_id
  FROM m)
SELECT group_id, count(*)::bigint AS n_files, sum(n)::bigint AS n_rows,
       min(file_id)::bigint AS first_file, max(file_id)::bigint AS last_file,
       sum(n) < {int(target_rows)} AS undersized
FROM g GROUP BY 1
"""


def _crawl_budget_oracle(budget: float = 1000.0, cap: float = 25.0) -> str:
    """Mirror of frontier.crawl_budget_waterfill over the pagerank
    oracle's rounded ranks: weight-descending prefix windows, capped
    prefix t, water level (B - t*c)/(W - CW_t)."""
    return f"""
WITH pr AS ({_pagerank_oracle()}),
s1 AS (
  SELECT node AS host, rank AS w,
         row_number() OVER (ORDER BY rank DESC, node ASC) AS j,
         sum(rank) OVER (ORDER BY rank DESC, node ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(rank) OVER () AS wtot
  FROM pr),
s2 AS (
  SELECT *, max(CASE WHEN w * ({budget!r} - (j - 1) * {cap!r})
                          >= {cap!r} * (wtot - (cw - w))
                     THEN j ELSE 0 END) OVER () AS t
  FROM s1),
s3 AS (
  SELECT *, coalesce(max(CASE WHEN j = t THEN cw END) OVER (), 0.0) AS cw_t
  FROM s2)
SELECT host,
       {_r4('w')} AS weight,
       {_r4(f'CASE WHEN j <= t THEN {cap!r} ELSE w * (({budget!r} - t * {cap!r}) / (wtot - cw_t)) END')} AS alloc_fetches,
       {_r4(f'(CASE WHEN j <= t THEN {cap!r} ELSE w * (({budget!r} - t * {cap!r}) / (wtot - cw_t)) END) / {budget!r}')} AS share,
       j <= t AS capped
FROM s3
"""


def _embedding_outliers_oracle(n_centroids: int = 16, z_thresh: float = 2.0) -> str:
    """Mirror of similarity.embedding_outliers: same seeded centroids,
    argmax cell (cos DESC, cid ASC), per-cell moments, rounded-z gate."""
    dot_vc = (
        "list_sum(list_transform(generate_series(1, len(v.embedding)), "
        "i -> v.embedding[i]::double * p.p_emb[i]))"
    )
    norm_v = "sqrt(list_sum(list_transform(v.embedding, x -> x::double * x::double)))"
    norm_c = "sqrt(list_sum(list_transform(p.p_emb, x -> x * x)))"
    std = "sqrt(greatest(m2 - m * m, 0.0))"
    z = f"CASE WHEN {std} > 1e-12 THEN (b.dist - m) / {std} ELSE 0.0 END"
    return f"""
WITH p AS ({_planes_sql(n_centroids)}),
ascore AS (
  SELECT v.vec_id, p.plane_id AS cid,
         {dot_vc} / ({norm_v} * {norm_c}) AS cos
  FROM embeddings v, p
),
best AS (
  SELECT vec_id, cid AS cell, 1.0 - cos AS dist FROM (
    SELECT vec_id, cid, cos,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM ascore) WHERE rn = 1),
st AS (SELECT cell, avg(dist) AS m, avg(dist * dist) AS m2 FROM best GROUP BY 1)
SELECT b.vec_id, b.cell::int AS cell,
       {_r4('b.dist')} AS dist,
       {_r4(z)} AS z,
       {_r4(z)} > {z_thresh!r} AS is_outlier
FROM best b JOIN st USING (cell)
"""


def _ann_ivf_oracle(n_centroids: int = 16, nprobe: int = 4) -> str:
    """Mirror of similarity.ivf_topk: seeded centroids (same md5-nibble PRNG
    as the LSH planes), full-precision cosine argmax cell assignment, nprobe
    nearest cells per query, exact rerank top-k on candidates only."""
    dot_vc = (
        "list_sum(list_transform(generate_series(1, len(v.embedding)), "
        "i -> v.embedding[i]::double * p.p_emb[i]))"
    )
    norm_v = "sqrt(list_sum(list_transform(v.embedding, x -> x::double * x::double)))"
    norm_c = "sqrt(list_sum(list_transform(p.p_emb, x -> x * x)))"
    return f"""
WITH p AS ({_planes_sql(n_centroids)}),
ascore AS (
  SELECT v.vec_id, p.plane_id AS cid,
         {dot_vc} / ({norm_v} * {norm_c}) AS cos
  FROM embeddings v, p
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM ascore) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM ascore WHERE vec_id < 5) WHERE rn <= {nprobe}
),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
cands AS (
  SELECT qp.query_id, a.vec_id
  FROM assign a JOIN qprobe qp ON a.cell = qp.cell
  WHERE a.vec_id != qp.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id, {_COSINE} AS cosine
  FROM cands c JOIN embeddings v ON v.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 10
"""


def _semdedup_oracle(
    n_clusters: int = 16, threshold: float = 0.92, lloyd_iters: int = 2
) -> str:
    """Mirror of semdedup.semdedup: seeded initial centroids (same md5-nibble
    PRNG as the LSH planes), ``lloyd_iters`` quantized Lloyd updates (1e-6
    quantization makes the float means bit-stable across engines), final
    cosine argmax assignment, and the one-shot within-cell suppression rule
    (j drops i iff cos >= threshold and j precedes i by (cent_cos, vec_id))."""

    def cos(v: str, c: str) -> str:
        dot = (
            f"list_sum(list_transform(generate_series(1, len({v})), "
            f"i -> {v}[i]::double * {c}[i]))"
        )
        nv = f"sqrt(list_sum(list_transform({v}, x -> x::double * x::double)))"
        nc = f"sqrt(list_sum(list_transform({c}, x -> x::double * x::double)))"
        return f"({dot}) / (({nv}) * ({nc}))"

    steps = [
        f"c0 AS (SELECT plane_id AS centroid_id, p_emb AS c_emb FROM ({_planes_sql(n_clusters)}))"
    ]
    for i in range(lloyd_iters + 1):
        steps.append(
            f"""a{i} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT v.vec_id, c.centroid_id AS cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY ({cos("v.embedding", "c.c_emb")}) DESC, c.centroid_id ASC) AS rn
    FROM embeddings v, c{i} c) WHERE rn = 1
)"""
        )
        if i == lloyd_iters:
            break
        steps.append(
            f"""comp{i} AS (
  SELECT cell, pos, floor(avg(embedding[pos]::double) * 1e6 + 0.5) / 1e6 AS q
  FROM (SELECT a.cell, unnest(generate_series(1, len(v.embedding))) AS pos, v.embedding
        FROM embeddings v JOIN a{i} a USING (vec_id))
  GROUP BY cell, pos
)"""
        )
        steps.append(
            f"""c{i + 1} AS (
  SELECT c.centroid_id, coalesce(n.new_emb, c.c_emb) AS c_emb
  FROM c{i} c LEFT JOIN (
    SELECT cell, list(q ORDER BY pos) AS new_emb FROM comp{i} GROUP BY cell
  ) n ON n.cell = c.centroid_id
)"""
        )
    last = lloyd_iters
    steps.append(
        f"""scored AS (
  SELECT v.vec_id, a.cell, v.embedding,
         ({cos("v.embedding", "c.c_emb")}) AS cent_cos
  FROM embeddings v JOIN a{last} a USING (vec_id)
  JOIN c{last} c ON c.centroid_id = a.cell
)"""
    )
    steps.append(
        f"""sup AS (
  SELECT DISTINCT a.vec_id
  FROM scored a JOIN scored b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
   AND (b.cent_cos < a.cent_cos
        OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
  WHERE ({cos("a.embedding", "b.embedding")}) >= {threshold}
)"""
    )
    chain = ",\n".join(steps)
    return f"""
WITH {chain}
SELECT s.vec_id, s.cell, {_r4("s.cent_cos")} AS cent_cos,
       (sup.vec_id IS NULL) AS is_kept
FROM scored s LEFT JOIN sup ON sup.vec_id = s.vec_id
"""


def _image_pixel_stats_oracle(max_w: int = 40, max_h: int = 30) -> str:
    """Mirror of imaging.image_pixel_stats — but computed from the closed-form
    synthesized pixel (doc_id*7 + x*3 + y*5) % 256, never from bytes: the
    Spark side must reach the same numbers through a real PNG encode → zlib
    inflate → per-row unfilter round trip. All means are exact-integer sums
    divided once, so the aHash threshold comparison is engine-stable."""
    return f"""
WITH dims AS (
  SELECT doc_id, doc_id % {max_w} + 1 AS w, doc_id % {max_h} + 1 AS h FROM documents
),
pxy AS (SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims),
px AS (SELECT doc_id, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM pxy),
v AS (SELECT doc_id, w, h, x, y, (doc_id * 7 + x * 3 + y * 5) % 256 AS v FROM px),
stats AS (
  SELECT doc_id, any_value(w) AS w, any_value(h) AS h, count(*) AS n_px,
         sum(v)::double / count(*) AS m, min(v) AS px_min, max(v) AS px_max
  FROM v GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, ((y * 8) // h) * 8 + (x * 8) // w AS b,
         sum(v)::double / count(*) AS bm
  FROM v GROUP BY doc_id, ((y * 8) // h) * 8 + (x * 8) // w
),
ah AS (
  SELECT b.doc_id,
         sum(CASE WHEN b.b >= 32 AND b.bm > s.m THEN (1::bigint << (b.b - 32)) ELSE 0 END) AS hi,
         sum(CASE WHEN b.b < 32 AND b.bm > s.m THEN (1::bigint << b.b) ELSE 0 END) AS lo
  FROM blocks b JOIN stats s USING (doc_id) GROUP BY b.doc_id
)
SELECT s.doc_id, s.w::int AS width, s.h::int AS height, s.n_px::bigint AS n_px,
       s.m AS px_mean, s.px_min::int AS px_min, s.px_max::int AS px_max,
       ah.hi::bigint AS ahash_hi, ah.lo::bigint AS ahash_lo, TRUE AS ok
FROM stats s JOIN ah ON ah.doc_id = s.doc_id
"""


def _image_resize_oracle(max_w: int = 40, max_h: int = 30, out: int = 8) -> str:
    """Mirror of imaging.image_resize + image_pixel_stats over the resized
    grid, computed from the closed-form pixel — never from bytes. Cell
    (i, j) floors the box-average of source rows [j*h//8, max(+1, (j+1)*h//8))
    × cols likewise (the max reuses the nearest-floor pixel on upscale);
    everything is integer arithmetic so the Spark side's decode → resize →
    re-encode → decode round trip must land on identical values."""
    return f"""
WITH dims AS (
  SELECT doc_id, doc_id % {max_w} + 1 AS w, doc_id % {max_h} + 1 AS h FROM documents
),
cj AS (SELECT doc_id, w, h, unnest(generate_series(0, {out - 1})) AS j FROM dims),
cells AS (SELECT doc_id, w, h, j, unnest(generate_series(0, {out - 1})) AS i FROM cj),
bounds AS (
  SELECT doc_id, i, j,
         (j * h) // {out} AS y0,
         greatest((j * h) // {out} + 1, ((j + 1) * h) // {out}) AS y1,
         (i * w) // {out} AS x0,
         greatest((i * w) // {out} + 1, ((i + 1) * w) // {out}) AS x1
  FROM cells
),
vals AS (
  SELECT doc_id, i, j,
         (list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
            list_transform(generate_series(x0, x1 - 1), x ->
              (doc_id * 7 + x * 3 + y * 5) % 256))))
          // ((y1 - y0) * (x1 - x0))) AS v
  FROM bounds
),
stats AS (
  SELECT doc_id, sum(v)::double / {out * out} AS m, min(v) AS mn, max(v) AS mx
  FROM vals GROUP BY doc_id
),
ah AS (
  SELECT v.doc_id,
         sum(CASE WHEN (j * {out} + i) >= 32 AND v > m
                  THEN (1::bigint << (j * {out} + i - 32)) ELSE 0 END) AS hi,
         sum(CASE WHEN (j * {out} + i) < 32 AND v > m
                  THEN (1::bigint << (j * {out} + i)) ELSE 0 END) AS lo
  FROM vals v JOIN stats USING (doc_id) GROUP BY v.doc_id
)
SELECT s.doc_id, {out} AS width, {out} AS height, {out * out}::bigint AS n_px,
       s.m AS px_mean, s.mn::int AS px_min, s.mx::int AS px_max,
       ah.hi::bigint AS ahash_hi, ah.lo::bigint AS ahash_lo, TRUE AS ok
FROM stats s JOIN ah USING (doc_id)
"""


def _image_near_dup_oracle(max_w: int = 40, max_h: int = 30) -> str:
    """Mirror of imaging.image_near_dup over the synthesized PNGs ∪ exact
    copies of every 10th image: aHash recomputed from the closed-form pixel
    (the same ah CTE as _image_pixel_stats_oracle), copies injected at the
    signature level (byte-identical payload ⇒ identical aHash), then the
    shared _hash64_band_join_sql tail (the one SQL mirror of the one
    Spark-side hash64_near_pairs join)."""
    return f"""
WITH dims AS (
  SELECT doc_id, doc_id % {max_w} + 1 AS w, doc_id % {max_h} + 1 AS h FROM documents
),
pxy AS (SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims),
px AS (SELECT doc_id, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM pxy),
v AS (SELECT doc_id, w, h, x, y, (doc_id * 7 + x * 3 + y * 5) % 256 AS v FROM px),
stats AS (
  SELECT doc_id, sum(v)::double / count(*) AS m FROM v GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, ((y * 8) // h) * 8 + (x * 8) // w AS b,
         sum(v)::double / count(*) AS bm
  FROM v GROUP BY doc_id, ((y * 8) // h) * 8 + (x * 8) // w
),
ah AS (
  SELECT b.doc_id,
         sum(CASE WHEN b.b >= 32 AND b.bm > s.m THEN (1::bigint << (b.b - 32)) ELSE 0 END) AS sim_hi,
         sum(CASE WHEN b.b < 32 AND b.bm > s.m THEN (1::bigint << b.b) ELSE 0 END) AS sim_lo
  FROM blocks b JOIN stats s USING (doc_id) GROUP BY b.doc_id
),
sims AS (
  SELECT * FROM ah
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, sim_hi, sim_lo FROM ah WHERE doc_id % 10 = 0
),
{_hash64_band_join_sql()}
"""


def _corpus_mix_oracle(weights=None, total: int = _MIX_TOTAL) -> str:
    """Mirror of sampling.mix_corpus: per-source counts → epoch rate w*T/n →
    floor copies + one fractional copy iff the doc's unit hash falls below
    the fraction. Weight literals are cast to DOUBLE (DuckDB would otherwise
    parse them as DECIMAL and drift from Spark's double arithmetic)."""
    weights = weights or _MIX_WEIGHTS
    wsum = float(sum(weights.values()))
    case = "CASE source " + " ".join(
        f"WHEN '{s}' THEN CAST({w / wsum!r} AS DOUBLE)" for s, w in sorted(weights.items())
    ) + " ELSE NULL END"
    u = f"(({_h32_sql(tok='doc_id::varchar')}) / 4294967296.0)"
    return f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
rates AS (
  SELECT source, ({case}) * CAST({float(total)!r} AS DOUBLE) / n AS rate FROM counts
),
j AS (
  SELECT d.doc_id, d.source, r.rate
  FROM documents d JOIN rates r USING (source) WHERE r.rate IS NOT NULL
),
c AS (
  SELECT doc_id, source,
         (floor(rate)::int
          + CASE WHEN {u} < rate - floor(rate) THEN 1 ELSE 0 END) AS n_copies
  FROM j
)
SELECT doc_id, source, unnest(generate_series(1, n_copies))::int AS epoch,
       n_copies::int AS n_copies
FROM c WHERE n_copies >= 1
"""


def _h60_sql(tok: str = "tok") -> str:
    """DuckDB mirror of the Spark-side 60-bit md5 fingerprint
    (conv(substr(md5(x), 1, 15), 16, 10)): 15 hex nibbles summed."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({tok}), {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}"
        for i in range(15)
    )


def _duplicate_spans_oracle(k: int = 8, min_count: int = 2) -> str:
    """Mirror of spans.duplicate_ngram_spans: k-token sliding windows,
    60-bit md5 window hashes, corpus-wide duplicate marking, gaps-and-
    islands merge into maximal spans."""
    win = f"array_to_string(toks[i : i + {k} - 1], ' ')"
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (
  SELECT doc_id, unnest(generate_series(1, len(toks) - {k} + 1)) AS i, toks
  FROM d WHERE len(toks) >= {k}
),
hs AS (SELECT doc_id, (i - 1)::bigint AS pos, ({_h60_sql(win)}) AS h FROM w),
dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= {min_count}),
m AS (SELECT doc_id, pos FROM hs WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM m
)
SELECT doc_id, min(pos)::bigint AS span_start,
       (max(pos) + {k - 1})::bigint AS span_end,
       count(*)::bigint AS n_dup_windows
FROM isl GROUP BY doc_id, g
"""


def _audio_sample_stats_oracle(max_n: int = 400) -> str:
    """Mirror of audio.audio_sample_stats from the closed-form sample
    (doc_id*31 + i*17) % 65536 - 32768 — the Spark side must reach the same
    numbers by parsing the RIFF container and decoding real PCM bytes. All
    sums are exact integers; one division + one sqrt keeps doubles
    engine-identical."""
    return f"""
WITH params AS (
  SELECT doc_id, (8000 * (1 + doc_id % 3)) AS rate, doc_id % {max_n} + 50 AS n
  FROM documents
),
idx AS (SELECT doc_id, rate, n, unnest(generate_series(0, n - 1)) AS i FROM params),
v AS (
  SELECT doc_id, rate, n, i,
         (doc_id * 31 + i * 17) % 65536 - 32768 AS s,
         (doc_id * 31 + (i + 1) * 17) % 65536 - 32768 AS s_next
  FROM idx
)
SELECT doc_id, any_value(rate)::int AS sample_rate, count(*)::bigint AS n_samples,
       sum(s)::double / count(*) AS amp_mean,
       sqrt(sum(s * s)::double / count(*)) AS rms,
       max(abs(s))::int AS peak,
       sum(CASE WHEN i < n - 1 AND ((s >= 0) != (s_next >= 0)) THEN 1 ELSE 0 END)::bigint
         AS zero_crossings,
       TRUE AS ok
FROM v GROUP BY doc_id
"""


def _audio_resample_oracle(max_n: int = 400, target: int = 8000) -> str:
    """Mirror of audio.audio_resample + audio_sample_stats from the
    closed-form sample: decimation factor k = rate/8000 = 1 + doc_id % 3,
    output sample j = floor(frame_sum / k) (floor toward -inf — matches
    Python's // on the Spark side), trailing partial frame dropped, then
    the standard signal stats over the decimated sequence."""
    return f"""
WITH params AS (
  SELECT doc_id, (1 + doc_id % 3) AS k, doc_id % {max_n} + 50 AS n FROM documents
),
fr AS (
  SELECT doc_id, k, n // k AS n_out, unnest(generate_series(0, n // k - 1)) AS j
  FROM params
),
v AS (
  SELECT doc_id, n_out, j,
         floor(list_sum(list_transform(generate_series(j * k, j * k + k - 1),
             i -> (doc_id * 31 + i * 17) % 65536 - 32768))::double / k)::bigint AS s
  FROM fr
),
w AS (
  SELECT doc_id, n_out, j, s,
         lead(s) OVER (PARTITION BY doc_id ORDER BY j) AS s_next
  FROM v
)
SELECT doc_id, {target} AS sample_rate, any_value(n_out)::bigint AS n_samples,
       sum(s)::double / count(*) AS amp_mean,
       sqrt(sum(s * s)::double / count(*)) AS rms,
       max(abs(s))::int AS peak,
       sum(CASE WHEN s_next IS NOT NULL AND ((s >= 0) != (s_next >= 0))
                THEN 1 ELSE 0 END)::bigint AS zero_crossings,
       TRUE AS ok
FROM w GROUP BY doc_id
"""


def _luhn_sum_sql(s: str, parity: int) -> str:
    """DuckDB mirror of pii.luhn_sum: right position p doubled (and
    digit-folded) iff p % 2 == parity; exact integer arithmetic."""
    d = f"substr({s}, length({s}) - p + 1, 1)::int"
    return (
        f"list_sum(list_transform(generate_series(1, length({s})), "
        f"p -> CASE WHEN p % 2 = {parity} THEN "
        f"CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END "
        f"ELSE {d} END))"
    )


def _pii_cc_luhn_oracle() -> str:
    """Mirror of pii.cc_luhn_flags over pii.with_injected_cc: the 15-digit
    base from doc_id, check digit via the parity-1 Luhn sum, valid/invalid
    injection by doc_id % 7, then candidate extraction (\\b-bounded 13-16
    digit runs — identical match sets under Java regex and RE2) and the
    parity-0 validation fold."""
    cc_re = r"\b\d{13,16}\b"
    return f"""
WITH base AS (
  SELECT doc_id, text,
         lpad(((doc_id * 2654435761) % 1000000000000000)::varchar, 15, '0') AS b15
  FROM documents
),
chk AS (
  SELECT doc_id, text, b15,
         (10 - ({_luhn_sum_sql('b15', 1)} % 10)) % 10 AS c
  FROM base
),
injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 2
              THEN text || ' card ' || b15 || c::varchar || ' on file'
              WHEN doc_id % 7 = 5
              THEN text || ' card ' || b15 || ((c + 1) % 10)::varchar || ' on file'
              ELSE text END AS text
  FROM chk
),
cand AS (
  SELECT doc_id, regexp_extract_all(text, '{cc_re}') AS cs FROM injected
),
v AS (
  SELECT doc_id, cs,
         list_filter(cs, s -> ({_luhn_sum_sql('s', 0)} % 10) = 0) AS vs
  FROM cand
)
SELECT doc_id, len(cs)::int AS n_candidates, len(vs)::int AS n_valid,
       len(vs) > 0 AS has_valid_cc
FROM v
"""


def _semantic_decontam_oracle() -> str:
    """Mirror of decontam.semantic_decontaminate over the embeddings table:
    bench = vec_id % 17 == 3, train = rest ∪ bench copies at +2,000,000,
    per-pair round4 cosine, argmax per training vector with ties to the
    smallest bench id, keep iff max cosine < 0.9."""
    cos_tb = (
        "floor((list_sum(list_transform(generate_series(1, len(t.embedding)), "
        "i -> t.embedding[i]::double * b.embedding[i]::double)) / "
        "(sqrt(list_sum(list_transform(t.embedding, x -> x::double * x::double))) * "
        "sqrt(list_sum(list_transform(b.embedding, x -> x::double * x::double))))) "
        "* 10000.0 + 0.5) / 10000.0"
    )
    return f"""
WITH bench AS (
  SELECT vec_id AS bench_id, embedding FROM embeddings WHERE vec_id % 17 = 3
),
train AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 17 != 3
  UNION ALL
  SELECT bench_id + 2000000 AS vec_id, embedding FROM bench
),
scored AS (
  SELECT t.vec_id, b.bench_id, {cos_tb} AS cosine FROM train t, bench b
),
ranked AS (
  SELECT vec_id, bench_id, cosine,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, bench_id ASC) AS rn
  FROM scored
)
SELECT vec_id, bench_id AS nearest_bench_id, cosine AS max_cosine,
       cosine < 0.9 AS keep
FROM ranked WHERE rn = 1
"""


def _image_dup_clusters_oracle() -> str:
    """Mirror of pair_graph_clusters over the image pair graph: the image
    near-dup oracle as a nested CTE, then the same _closure_ctes labeling
    as _clusters_oracle."""
    return f"""
WITH RECURSIVE ip AS ({_image_near_dup_oracle()}),
{_closure_ctes('ip')},
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
SELECT l.doc_id, l.cluster_id, sz.cluster_size::int AS cluster_size
FROM lbl l JOIN sz USING (cluster_id)
"""


def _audio_dup_clusters_oracle() -> str:
    """Mirror of pair_graph_clusters over the audio pair graph — the same
    recursive closure as _image_dup_clusters_oracle with the audio pair
    oracle nested."""
    return f"""
WITH RECURSIVE ap AS ({_audio_near_dup_oracle()}),
{_closure_ctes('ap')},
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
SELECT l.doc_id, l.cluster_id, sz.cluster_size::int AS cluster_size
FROM lbl l JOIN sz USING (cluster_id)
"""


def _multimodal_near_dup_oracle() -> str:
    """Mirror of dedup.joint_near_dup: the full text-pairs oracle and the
    full image-pairs oracle (each with its own nested WITH scope — DuckDB
    scopes CTE names per subquery, so the shared `sims`/`bands`/`cands`
    names don't collide) joined on the composite pair key."""
    return f"""
WITH tp AS ({_simhash64_pairs_oracle()}),
ip AS ({_image_near_dup_oracle()})
SELECT tp.id_a, tp.id_b,
       tp.hamming AS text_hamming, ip.hamming AS media_hamming
FROM tp JOIN ip USING (id_a, id_b)
"""


def _audio_near_dup_oracle(max_n: int = 400) -> str:
    """Mirror of audio.audio_near_dup over the synthesized WAVs ∪ exact
    copies of every 10th clip: the 64-bit sign-of-energy-delta fingerprint
    recomputed from the closed-form sample (frame of sample i is
    (i*65)//n, frames a doc is too short to reach stay at energy 0, bit b
    set iff E[b+1] > E[b]), copies injected at the signature level
    (byte-identical PCM ⇒ identical fingerprint), then the shared
    _hash64_band_join_sql tail (the one SQL mirror of the one Spark-side
    hash64_near_pairs join)."""
    return f"""
WITH params AS (SELECT doc_id, doc_id % {max_n} + 50 AS n FROM documents),
idx AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM params),
en AS (
  SELECT doc_id, (i * 65) // n AS f,
         sum(((doc_id * 31 + i * 17) % 65536 - 32768)
             * ((doc_id * 31 + i * 17) % 65536 - 32768))::bigint AS e
  FROM idx GROUP BY doc_id, (i * 65) // n
),
grid AS (SELECT doc_id, unnest(generate_series(0, 64)) AS f FROM params),
fe AS (
  SELECT g.doc_id, g.f, coalesce(en.e, 0) AS e
  FROM grid g LEFT JOIN en ON g.doc_id = en.doc_id AND g.f = en.f
),
bits AS (
  SELECT doc_id, f - 1 AS b,
         CASE WHEN e > lag(e) OVER (PARTITION BY doc_id ORDER BY f)
              THEN 1 ELSE 0 END AS bit
  FROM fe
),
ah AS (
  SELECT doc_id,
         sum(CASE WHEN b >= 32 AND bit = 1 THEN 1::bigint << (b - 32) ELSE 0 END) AS sim_hi,
         sum(CASE WHEN b < 32 AND bit = 1 THEN 1::bigint << b ELSE 0 END) AS sim_lo
  FROM bits WHERE b >= 0 GROUP BY doc_id
),
sims AS (
  SELECT * FROM ah
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, sim_hi, sim_lo FROM ah WHERE doc_id % 10 = 0
),
{_hash64_band_join_sql()}
"""


_EN = "['the','a','of','and','to','in','is','it','on','for']"
_ES = "['el','la','de','los','las','y','en','es','un','una']"
_EN_HITS = f"len(list_filter(string_split(text,' '), x -> list_contains({_EN}, x)))"
_ES_HITS = f"len(list_filter(string_split(text,' '), x -> list_contains({_ES}, x)))"


def _bpe_cte_chain(num_merges: int = 8) -> str:
    """Shared unrolled-CTE chain for the BPE oracles: word-frequency table,
    char-wrapped delimited representation, then ``num_merges`` rounds of
    (adjacent-pair count, max(count, a, b) winner m{r}, replace
    re-segmentation w{r}). chr(30) = the U+001E token delimiter; tie-break
    ORDER BY c DESC, a DESC, b DESC matches Spark's max(struct(c, a, b))."""
    s = r"""
WITH words AS (
  SELECT word, count(*)::bigint AS cnt FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
),
w0 AS (
  SELECT regexp_replace(word, '(.)', chr(30) || '\1' || chr(30), 'g') AS repr,
         cnt
  FROM words
)"""
    for r in range(1, num_merges + 1):
        s += f""",
t{r} AS (
  SELECT string_split(trim(repr, chr(30)), chr(30) || chr(30)) AS t, cnt
  FROM w{r - 1}
),
p{r} AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS a,
         unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i + 1])) AS b,
         cnt
  FROM t{r}
),
g{r} AS (SELECT a, b, sum(cnt)::bigint AS c FROM p{r} GROUP BY a, b),
m{r} AS (SELECT a, b, c FROM g{r} ORDER BY c DESC, a DESC, b DESC LIMIT 1),
w{r} AS (
  SELECT replace(repr, chr(30) || a || chr(30) || chr(30) || b || chr(30),
                 chr(30) || a || b || chr(30)) AS repr, cnt
  FROM w{r - 1}, m{r}
)"""
    return s


def _bpe_vocab_oracle(num_merges: int = 8) -> str:
    """Mirror of operators/bpe.bpe_vocab: the merge table, one row per
    unrolled round."""
    return _bpe_cte_chain(num_merges) + "\n" + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS left_tok, b AS right_tok, c AS merge_count FROM m{r}"
        for r in range(1, num_merges + 1)
    )


def _bpe_segment_oracle(num_merges: int = 8) -> str:
    """Mirror of operators/bpe.bpe_vocab + bpe_segment: learn the merge
    table (same CTE chain), then segment every document — wrap letters in
    the chr(30) delimiter, blank non-letter runs, apply the learned merges
    as nested left-to-right replaces, split back to tokens."""
    # coalesce-over-aggregate keeps each x{r} a guaranteed 1-row relation:
    # an exhausted round (empty m{r}) yields a{r}=b{r}='' whose pattern
    # '␞␞␞␞' never occurs in a repr (no empty tokens), i.e. a no-op —
    # matching the Spark side, which folds only the merge rows that exist.
    renamed = ",\n".join(
        f"(SELECT coalesce(max(a), '') AS a{r}, coalesce(max(b), '') AS b{r}"
        f" FROM m{r}) x{r}"
        for r in range(1, num_merges + 1)
    )
    rep = (
        "regexp_replace(regexp_replace(lower(text), '([a-z])', "
        "chr(30) || '\\1' || chr(30), 'g'), '[^a-z' || chr(30) || ']+', ' ', 'g')"
    )
    for r in range(1, num_merges + 1):
        rep = (
            f"replace({rep}, chr(30) || a{r} || chr(30) || chr(30) || b{r} || chr(30),"
            f" chr(30) || a{r} || b{r} || chr(30))"
        )
    return (
        _bpe_cte_chain(num_merges)
        + f""",
seg AS (
  SELECT doc_id, {rep} AS r{num_merges}
  FROM documents,
{renamed}
),
toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(r{num_merges}, '[' || chr(30) || ' ]+'),
                t -> t <> '') AS tk
  FROM seg
)
SELECT doc_id, array_to_string(tk, ' ') AS text_seg, len(tk)::bigint AS n_tokens
FROM toks
"""
    )


def _bpe_fertility_oracle(num_merges: int = 8) -> str:
    """Mirror of bpe.bpe_fertility: the full bpe_segment oracle nested as
    a CTE, joined back to documents, aggregated per lang."""
    return f"""
WITH s AS ({_bpe_segment_oracle(num_merges)}),
per AS (
  SELECT d.lang, count(*)::bigint AS n_docs,
         sum(len(string_split(d.text, ' ')))::bigint AS n_words,
         sum(s.n_tokens)::bigint AS n_bpe_tokens,
         sum(length(d.text))::bigint AS n_chars
  FROM documents d JOIN s USING (doc_id)
  GROUP BY 1)
SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
       {_r4('n_bpe_tokens / n_words::double')} AS fertility,
       {_r4('n_chars / n_bpe_tokens::double')} AS chars_per_token
FROM per
"""


def _jpeg_pixel_stats_oracle() -> str:
    """Mirror of jpeg.synthesize_jpegs + jpeg_pixel_stats — computed from
    the closed-form constant-block value 2*((doc_id*7 + bx*3 + by*5) % 128),
    never from bytes. Even block values survive Annex-K DC quantization
    exactly (DC step 16, orthonormal DC coefficient 8·s), so the lossy
    codec is bit-exact on this construction; the Spark side can only reach
    these numbers through the full Huffman encode → entropy decode → IDCT
    round trip."""
    return """
WITH dims AS (
  SELECT doc_id, 8 * (2 + doc_id % 5) AS w, 8 * (2 + doc_id % 4) AS h
  FROM documents
),
bys AS (SELECT doc_id, w, h, unnest(generate_series(0, h // 8 - 1)) AS by FROM dims),
bxs AS (SELECT doc_id, w, h, by, unnest(generate_series(0, w // 8 - 1)) AS bx FROM bys),
v AS (
  SELECT doc_id, w, h, 2 * ((doc_id * 7 + bx * 3 + by * 5) % 128) AS v
  FROM bxs
)
SELECT doc_id, any_value(w)::int AS width, any_value(h)::int AS height,
  (any_value(w) * any_value(h))::bigint AS n_px,
  sum(v)::double / count(*) AS px_mean,
  min(v)::int AS px_min, max(v)::int AS px_max, TRUE AS ok
FROM v GROUP BY doc_id
"""


def _cdx_entries_oracle() -> str:
    """Mirror of sources/cdx.synthesize_cdx_lines + parse_cdx_lines: every
    CDXJ field is a closed-form function of doc_id, so the oracle rebuilds
    the parsed records directly — including the SURT key (lowercase, strip
    one leading www., reverse host labels comma-joined, keep non-default
    port, ')' + lowercased path+query, fragment dropped). surt_matches is
    TRUE by construction: a Spark-side divergence between its synthesized
    key and its reparse would surface as FALSE and hash-mismatch."""
    return r"""
WITH f AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END AS scheme,
    CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
      || 'h' || (doc_id % 7) || '.example.org' AS host,
    CASE WHEN doc_id % 11 = 0 THEN ':8080'
         WHEN doc_id % 13 = 0 AND doc_id % 2 = 0 THEN ':443'
         WHEN doc_id % 13 = 0 AND doc_id % 2 = 1 THEN ':80'
         ELSE '' END AS port,
    '/Dir' || (doc_id % 4) || '/Page' || doc_id || '.html' AS path,
    CASE WHEN doc_id % 5 = 0 THEN '?Q=' || (doc_id % 9) ELSE '' END AS query,
    CASE WHEN doc_id % 7 = 0 THEN '#Sec1' ELSE '' END AS frag,
    md5(text) AS digest,
    length(text)::bigint AS length,
    (doc_id * 1024)::bigint AS "offset",
    'crawl-data/seg-' || (doc_id % 16) || '.warc.gz' AS filename,
    CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS status
  FROM documents
),
g AS (
  SELECT doc_id,
    array_to_string(
      list_reverse(string_split(regexp_replace(lower(host), '^www\.', ''), '.')),
      ',')
      || CASE WHEN port = ':8080' THEN ':8080' ELSE '' END
      || ')' || lower(path) || lower(query) AS surt,
    strptime('202401' || lpad(((doc_id % 28) + 1)::varchar, 2, '0')
      || lpad((doc_id % 24)::varchar, 2, '0')
      || lpad((doc_id % 60)::varchar, 2, '0')
      || lpad(((doc_id * 7) % 60)::varchar, 2, '0'), '%Y%m%d%H%M%S') AS capture_ts,
    scheme || '://' || host || port || path || query || frag AS url,
    'text/html' AS mime, status, digest, length, "offset", filename,
    TRUE AS surt_matches
  FROM f
)
SELECT * FROM g
"""


def _text_normalize_oracle() -> str:
    """Mirror of operators/normalize.with_messy_text + normalize_text:
    rebuild the identical dirtied bytes (BEL=chr(7), NBSP=chr(160),
    combining acute=chr(769), ANGSTROM=chr(8491), combining
    diaeresis=chr(776), OHM=chr(8486), combining ring=chr(778)), then
    NBSP->space, strip C0-except-TAB/LF/CR plus DEL, collapse ws, trim,
    NFC."""
    return r"""
WITH messy AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0 THEN chr(7) ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN ' ' || chr(160) || ' ' ELSE ' ' END
    || CASE (doc_id % 4)
         WHEN 0 THEN ' cafe' || chr(769)
         WHEN 1 THEN ' ' || chr(8491) || 'ngstro' || chr(776) || 'm'
         WHEN 2 THEN ' ' || chr(8486) || 'hm'
         ELSE ' A' || chr(778)
       END AS text
  FROM documents
),
canon AS (
  SELECT doc_id, text,
    nfc_normalize(
      trim(
        regexp_replace(
          regexp_replace(
            replace(text, chr(160), ' '),
            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
          '\s+', ' ', 'g')
      )
    ) AS text_norm
  FROM messy
)
SELECT doc_id, text_norm,
  length(text)::bigint AS n_chars_raw,
  length(text_norm)::bigint AS n_chars_norm,
  text_norm <> text AS changed
FROM canon
"""


def _mp3_duration_stats_oracle() -> str:
    """Mirror of mp3.synthesize_mp3s + mp3_duration_stats — rebuilt from
    the closed-form synthesis parameters (bitrate/samplerate tables of
    ISO 11172-3, 1152 samples per MPEG-1 Layer III frame), never from
    bytes. byte_len is the strong check: 10-byte ID3v2 header + doc_id%64
    tag payload + per-frame lengths 144·br·1000//sr plus the alternating
    padding bit (count (n + doc_id%2)//2) + the 128-byte ID3v1 block —
    the Spark side can only match it by walking every frame exactly."""
    return """
WITH p AS (
  SELECT doc_id,
    (doc_id % 50 + 1) AS n_frames,
    list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                 (doc_id % 14 + 1)::int) AS br,
    list_extract([44100,48000,32000], (doc_id % 3 + 1)::int) AS sr,
    (doc_id % 64) AS id3
  FROM documents
)
SELECT doc_id,
  n_frames::int AS n_frames,
  br::int AS bitrate_kbps,
  sr::int AS sample_rate,
  (n_frames * 1152 * 1000000 // sr)::bigint AS duration_us,
  (10 + id3 + n_frames * (144 * br * 1000 // sr)
      + (n_frames + doc_id % 2) // 2 + 128)::bigint AS byte_len,
  TRUE AS ok
FROM p
"""


def _h264_sps_dims_oracle() -> str:
    """Mirror of h264.synthesize_sps + h264_sps_dims — profile/level
    cycles, macroblock grid, and the 4:2:0 crop arithmetic (2 px per
    crop unit, frame_mbs_only=1) recomputed from doc_id; Spark can only
    reach these via the exp-Golomb parse of the NAL it wrote."""
    return """
WITH p AS (
  SELECT doc_id,
    (doc_id % 40 + 2) AS mw,
    (doc_id % 23 + 2) AS mh,
    list_extract([66,77,100], (doc_id % 3 + 1)::int) AS prof,
    list_extract([30,31,40,41,50], (doc_id % 5 + 1)::int) AS lvl,
    (doc_id % 2) * (doc_id % 3) AS cr,
    (doc_id % 2) * ((doc_id // 3) % 2) AS cb
  FROM documents
)
SELECT doc_id,
  prof::int AS profile_idc,
  lvl::int AS level_idc,
  (mw * 16 - 2 * cr)::int AS width,
  (mh * 16 - 2 * cb)::int AS height,
  (mw * mh)::int AS n_mbs,
  TRUE AS ok
FROM p
"""


def _hll_distinct_tokens_oracle() -> str:
    """Mirror of sketches.hll_distinct over (source, token): identical
    md5 bucketing (3 nibbles), leading-zero rank via length(bin(v)), the
    EXACT hugeint register sum 1<<(53-M), and the same Python-precomputed
    double constants (bare fractional SQL literals are DECIMAL in both
    engines, so the constants are embedded as repr'd doubles)."""
    from readability_spark.operators.sketches import HLL_M, HLL_NUM, HLL_SMALL

    n13 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {4 + i}, 1)) - 1) "
        f"* cast(pow(16, {12 - i}) as bigint)"
        for i in range(13)
    )
    n3 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {1 + i}, 1)) - 1) "
        f"* cast(pow(16, {2 - i}) as bigint)"
        for i in range(3)
    )
    return f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
hxs AS (
  SELECT source, substr(md5(tok), 1, 16) AS hx FROM toks
),
bv AS (
  SELECT source, ({n3})::int AS bucket, ({n13})::bigint AS v FROM hxs
),
regs AS (
  SELECT source, bucket,
    max(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS register
  FROM bv GROUP BY source, bucket
),
g AS (
  SELECT source,
    count(*)::bigint AS n_registers,
    max(register)::int AS max_register,
    sum(register)::bigint AS sum_registers,
    sum(1::hugeint << (53 - register)) AS sum_shift
  FROM regs GROUP BY source
),
r AS (
  SELECT source, n_registers, max_register, sum_registers,
    {HLL_NUM!r}
      / (sum_shift + ({HLL_M} - n_registers)::hugeint * (1::hugeint << 53))::double
      AS raw
  FROM g
),
e AS (
  SELECT source, count(DISTINCT tok)::bigint AS n_exact FROM toks GROUP BY source
)
SELECT r.source AS source, n_registers, max_register, sum_registers,
  round(raw, 4) AS raw_est,
  round(CASE WHEN raw <= {HLL_SMALL!r} AND n_registers < {HLL_M}
        THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - n_registers)::double)
        ELSE raw END, 4) AS hll_est,
  n_exact
FROM r JOIN e USING (source)
"""


def _cms_heavy_hitters_oracle() -> str:
    """Mirror of sketches.cms_table + cms_estimate: d=4 rows × w=4096
    buckets, row hash = 3 md5 nibbles of 'j:item' — identical cell
    coordinates, counts, and min-estimator recomputed in SQL."""
    n3 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {1 + i}, 1)) - 1) "
        f"* cast(pow(16, {2 - i}) as bigint)"
        for i in range(3)
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
js AS (SELECT unnest(generate_series(0, 3)) AS j),
cells AS (
  SELECT j, bucket, count(*)::bigint AS n FROM (
    SELECT j, ({n3})::int AS bucket
    FROM (SELECT tok, j, substr(md5(j::varchar || ':' || tok), 1, 3) AS hx
          FROM toks CROSS JOIN js)
  ) GROUP BY j, bucket
),
exact AS (SELECT tok, count(*)::bigint AS n_exact FROM toks GROUP BY tok),
topk AS (SELECT tok, n_exact FROM exact ORDER BY n_exact DESC, tok LIMIT 20),
qh AS (
  SELECT tok, n_exact, j, ({n3})::int AS bucket
  FROM (SELECT t.tok, t.n_exact, j,
               substr(md5(j::varchar || ':' || t.tok), 1, 3) AS hx
        FROM topk t CROSS JOIN js)
)
SELECT tok, n_exact, min(n)::bigint AS cms_est
FROM qh JOIN cells USING (j, bucket)
GROUP BY tok, n_exact
"""


def _ann_pq_oracle(
    m: int = 8,
    k_codes: int = 64,
    n_queries: int = 5,
    k: int = 10,
    lloyd_iters: int = 2,
    rerank: int = 100,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """Mirror of pq.pq_adc_topk: per-subspace seeded codebooks
    (_planes_sql with the same per-subspace seed offset), the quantized
    Lloyd update unrolled as CTE rounds, L2 argmin encoding, the ADC
    shortlist over integer micro-unit lookup entries (order-independent
    sums), and the exact micro-unit L2 rerank — every ordering integer,
    so the top-k agrees bit-for-bit."""
    d = dim // m

    def l2(sv: str, cw: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {d}), "
            f"i -> ({sv}[i]::double - {cw}[i]) * ({sv}[i]::double - {cw}[i])))"
        )

    lfull = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (q.embedding[i]::double - v.embedding[i]::double) "
        f"* (q.embedding[i]::double - v.embedding[i]::double)))"
    )
    slices = ", ".join(f"({s}, {s * d + 1}, {(s + 1) * d})" for s in range(m))
    cb0 = "\nUNION ALL\n".join(
        f"SELECT {s} AS sub, plane_id AS code_id, p_emb AS cw "
        f"FROM ({_planes_sql(k_codes, d, seed * 100 + s)})"
        for s in range(m)
    )
    rounds = []
    for t in range(lloyd_iters):
        rounds.append(
            f"""a{t} AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code_id AS code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, code_id ASC) AS rn
    FROM (SELECT v.vec_id, v.sub, c.code_id, {l2("v.sv", "c.cw")} AS d2
          FROM subs v JOIN cb{t} c ON c.sub = v.sub)
  ) WHERE rn = 1
),
cb{t + 1} AS (
  SELECT c.sub, c.code_id, coalesce(n.cw, c.cw) AS cw
  FROM cb{t} c LEFT JOIN (
    SELECT sub, code, list(q ORDER BY pos) AS cw FROM (
      SELECT sub, code, pos, floor(avg(val) * 1e6 + 0.5) / 1e6 AS q FROM (
        SELECT sub, code, b['pos'] AS pos, b['val'] AS val FROM (
          SELECT a.sub, a.code,
                 unnest(list_transform(generate_series(1, {d}),
                        i -> {{'pos': i, 'val': v.sv[i]::double}})) AS b
          FROM a{t} a JOIN subs v ON v.vec_id = a.vec_id AND v.sub = a.sub
        )
      ) GROUP BY sub, code, pos
    ) GROUP BY sub, code
  ) n ON n.sub = c.sub AND n.code = c.code_id
)"""
        )
    chain = ",\n".join(rounds)
    final = f"cb{lloyd_iters}"
    return f"""
WITH subs AS MATERIALIZED (
  SELECT vec_id, s.sub AS sub, embedding[s.a:s.b] AS sv
  FROM embeddings, (VALUES {slices}) s(sub, a, b)
),
cb0 AS ({cb0}),
{chain},
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code_id AS code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, code_id ASC) AS rn
    FROM (SELECT v.vec_id, v.sub, c.code_id, {l2("v.sv", "c.cw")} AS d2
          FROM subs v JOIN {final} c ON c.sub = v.sub)
  ) WHERE rn = 1
),
dt AS (
  SELECT q.vec_id AS query_id, q.sub, c.code_id AS code,
         floor({l2("q.sv", "c.cw")} * 1e6 + 0.5)::bigint AS d2_micro
  FROM subs q JOIN {final} c ON c.sub = q.sub
  WHERE q.vec_id < {n_queries}
),
adc AS (
  SELECT d.query_id, a.vec_id, sum(d.d2_micro)::bigint AS adc_micro
  FROM codes a JOIN dt d ON d.sub = a.sub AND d.code = a.code
  WHERE a.vec_id <> d.query_id
  GROUP BY d.query_id, a.vec_id
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_micro ASC, vec_id ASC) AS srank
    FROM adc
  ) WHERE srank <= {rerank}
),
ex AS (
  SELECT s.query_id, s.vec_id,
         floor({lfull} * 1e6 + 0.5)::bigint AS d2_micro
  FROM short s
  JOIN embeddings v ON v.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = s.query_id
)
SELECT query_id, rank, vec_id, d2_micro FROM (
  SELECT query_id, vec_id, d2_micro,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d2_micro ASC, vec_id ASC) AS rank
  FROM ex
) WHERE rank <= {k}
"""


def _kmv_source_overlap_oracle() -> str:
    """Mirror of kmv.kmv_sketch + kmv_set_ops: identical 52-bit md5
    hash (13 nibbles), per-source bottom-128 distinct order statistics,
    pairwise union sketch, and the estimator arithmetic with the
    (k-1)·2^52 constant embedded as the same repr'd double — operands
    of every float division are < 2^53 so both engines produce the
    identical IEEE-754 quotient, rounded to 4 dp."""
    from readability_spark.operators.kmv import KMV_K, KMV_SPACE

    c = float((KMV_K - 1) * KMV_SPACE)
    n13 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {1 + i}, 1)) - 1) "
        f"* cast(pow(16, {12 - i}) as bigint)"
        for i in range(13)
    )
    return f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
hv AS (
  SELECT DISTINCT source AS grp, ({n13})::bigint AS v
  FROM (SELECT source, substr(md5(tok), 1, 13) AS hx FROM toks)
),
sk AS (
  SELECT grp, v FROM (
    SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS rk
    FROM hv
  ) WHERE rk <= {KMV_K}
),
pairs AS (
  SELECT ga.grp AS a, gb.grp AS b
  FROM (SELECT DISTINCT grp FROM sk) ga, (SELECT DISTINCT grp FROM sk) gb
  WHERE ga.grp < gb.grp
),
merged AS (
  SELECT a, b, v, max(in_a) AS in_a, max(in_b) AS in_b FROM (
    SELECT p.a, p.b, s.v, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk s ON s.grp = p.a
    UNION ALL
    SELECT p.a, p.b, s.v, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sk s ON s.grp = p.b
  ) GROUP BY a, b, v
),
union_sk AS (
  SELECT a, b, v, in_a, in_b FROM (
    SELECT a, b, v, in_a, in_b,
           row_number() OVER (PARTITION BY a, b ORDER BY v) AS rk
    FROM merged
  ) WHERE rk <= {KMV_K}
),
per AS (
  SELECT a, b,
    count(*)::bigint AS k_used,
    max(v)::bigint AS h_k,
    sum(in_a * in_b)::bigint AS n_matches
  FROM union_sk GROUP BY a, b
),
est AS (
  SELECT a, b, k_used, h_k, n_matches,
    CASE WHEN k_used < {KMV_K} THEN k_used::double
         ELSE {c!r} / h_k::double END AS union_est,
    n_matches::double / k_used::double AS jac
  FROM per
)
SELECT a AS src_a, b AS src_b, k_used, h_k, n_matches,
  round(union_est, 4) AS union_est,
  round(jac, 4) AS jaccard_est,
  round(jac * union_est, 4) AS inter_est
FROM est
"""


def _keep_best_oracle() -> str:
    """Mirror of dedup.canonical_survivors: the cluster labeling of
    _clusters_oracle joined with text_quality's composite score; the keeper
    is the min doc_id among members attaining the cluster-max quality (the
    Spark side's max(struct(quality, -doc_id)) picks the same member because
    both engines compute the identical round4 quality doubles)."""
    toks = "string_split(text, ' ')"
    q = _r4(
        f"0.4::double * least(1.0::double, len({toks}) / 64.0) "
        f"+ 0.3::double * least(1.0::double, ({_EN_HITS} / len({toks})::double) * 4) "
        f"+ 0.3::double * (len(list_distinct({toks})) / len({toks})::double)"
    )
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()},
{_closure_ctes('pairs')},
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1),
q AS (SELECT doc_id, {q} AS quality FROM dup),
m AS (
  SELECT l.doc_id, l.cluster_id, sz.cluster_size::int AS cluster_size, q.quality
  FROM lbl l JOIN sz USING (cluster_id) JOIN q USING (doc_id)
),
mq AS (SELECT cluster_id, max(quality) AS mxq FROM m GROUP BY 1),
best AS (
  SELECT m.cluster_id, min(m.doc_id) AS keep_id
  FROM m JOIN mq ON m.cluster_id = mq.cluster_id AND m.quality = mq.mxq
  GROUP BY 1
)
SELECT m.doc_id, m.cluster_id, m.cluster_size, m.quality, b.keep_id,
       (m.doc_id = b.keep_id) AS keep
FROM m JOIN best b USING (cluster_id)
"""


def _funnel_oracle() -> str:
    """Mirror of temporal.funnel_counts over FUNNEL_STAGES: chained
    per-user conditional mins (stage i's min ts strictly after stage i-1's),
    then stage populations + round4 step conversion."""
    stages = FUNNEL_STAGES
    ctes = ["e AS (SELECT user_id AS u, ts, event_type AS et FROM events)"]
    ctes.append(
        f"s0 AS (SELECT u, min(ts) AS t0 FROM e WHERE et = '{stages[0]}' GROUP BY u)"
    )
    for i in range(1, len(stages)):
        ctes.append(
            f"s{i} AS (SELECT e.u, min(e.ts) AS t{i} FROM e JOIN s{i - 1} USING (u) "
            f"WHERE e.et = '{stages[i]}' AND e.ts > t{i - 1} GROUP BY e.u)"
        )
    counts = ", ".join(
        f"(SELECT count(*) FROM s{i}) AS c{i}" for i in range(len(stages))
    )
    rows = []
    for i, s in enumerate(stages):
        conv = (
            "cast(NULL AS double)"
            if i == 0
            else f"CASE WHEN c{i - 1} = 0 THEN cast(NULL AS double) "
            f"ELSE floor(c{i} / c{i - 1}::double * 10000.0 + 0.5) / 10000.0 END"
        )
        rows.append(
            f"SELECT {i} AS stage_idx, '{s}' AS stage, c{i}::bigint AS n_users, "
            f"{conv} AS conversion FROM c"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f",\nc AS (SELECT {counts})\n"
        + "\nUNION ALL ".join(rows)
    )


def _script_mix_oracle() -> str:
    """Mirror of textstats.script_mix ∘ with_injected_scripts: the regex
    classes, injected alphabets, and argmax CASE chain all come from the
    SAME generators (script_class / injected_alphabet / SCRIPT_RANGES)."""
    from readability_spark.operators.textstats import (
        _LATIN26,
        SCRIPT_RANGES,
        injected_alphabet,
        script_class,
    )

    bases = {n: b for n, _, b in SCRIPT_RANGES}
    cyr = injected_alphabet(bases["cyrillic"])
    cjk = injected_alphabet(bases["cjk"])
    counts = ", ".join(
        f"(length(text) - length(regexp_replace(text, '{script_class(r)}', '', 'g')))::int AS n_{n}"
        for n, r, _ in SCRIPT_RANGES
    )
    names = [r[0] for r in SCRIPT_RANGES]
    maxc = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    dom = "'none'"
    for n in reversed(names):
        dom = f"CASE WHEN n_{n} = {maxc} AND {maxc} > 0 THEN '{n}' ELSE {dom} END"
    cols = ", ".join(f"n_{n}" for n in names)
    return f"""
WITH inj AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 3 THEN translate(text, '{_LATIN26}', '{cyr}')
         WHEN doc_id % 7 = 5 THEN translate(text, '{_LATIN26}', '{cjk}')
         ELSE text END AS text
  FROM documents
),
cts AS (SELECT doc_id, {counts} FROM inj)
SELECT doc_id, {cols}, {dom} AS dominant_script FROM cts
"""


def _containment_oracle() -> str:
    """Mirror of dedup.ngram_containment_pairs ∘ with_injected_fragments:
    the SAME DF-capped candidate CTEs as _ngram_oracle (shared machinery on
    the Spark side too), finished with the asymmetric |A∩B|/|A| and
    |A∩B|/|B| projections over the fragment-injected corpus."""
    frag = (
        "SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 2000000 AS doc_id, "
        "array_to_string(string_split(text, ' ')[1:(len(string_split(text, ' ')) // 2)], ' ') AS text "
        "FROM documents WHERE doc_id % 9 = 4 AND len(string_split(text, ' ')) >= 8"
    )
    c_a = (
        "floor(((common_rare + coalesce(common_hot, 0))::double / na.n) "
        "* 10000.0 + 0.5) / 10000.0"
    )
    c_b = (
        "floor(((common_rare + coalesce(common_hot, 0))::double / nb.n) "
        "* 10000.0 + 0.5) / 10000.0"
    )
    return f"""
WITH frag AS ({frag}),
sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM frag),
exploded AS (SELECT doc_id, unnest(sh) AS g FROM sh),
dfreq AS (SELECT g, count(*) AS df FROM exploded GROUP BY g),
rare AS (SELECT e.doc_id, e.g FROM exploded e JOIN dfreq USING (g) WHERE df BETWEEN 2 AND 100),
hot AS (SELECT e.doc_id, e.g FROM exploded e JOIN dfreq USING (g) WHERE df > 100),
cands AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common_rare
  FROM rare a JOIN rare b ON a.g = b.g
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
hc AS (
  SELECT c.id_a, c.id_b, count(*) AS common_hot
  FROM cands c JOIN hot ha ON ha.doc_id = c.id_a
  JOIN hot hb ON hb.doc_id = c.id_b AND hb.g = ha.g
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh)
SELECT id_a, id_b, {c_a} AS containment_a, {c_b} AS containment_b
FROM cands LEFT JOIN hc USING (id_a, id_b)
JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
WHERE greatest({c_a}, {c_b}) >= 0.8
"""


def _winnow_ctes(source: str = "documents") -> str:
    """Shared WITH-body for the winnowing oracles, ending in
    ``wfp(doc_id, pos, fp)``: identical 40-bit md5-prefix hashes (hex
    nibbles → bigint, the HLL oracle's technique), the same
    h·2^20 + (2^20−1−pos) packing so list_min is 'min hash, rightmost on
    ties', same distinct + decode as spans.winnow_fingerprints."""
    from readability_spark.operators.spans import WINNOW_K, WINNOW_W

    k, w = WINNOW_K, WINNOW_W
    h10 = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(grams[i]), {1 + j}, 1)) - 1) "
        f"* cast(pow(16, {9 - j}) as bigint)"
        for j in range(10)
    )
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {source}),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(t) - {k - 1}),
                        i -> array_to_string(t[i:i + {k - 1}], ' ')) AS grams
  FROM toks WHERE len(t) - {k - 1} >= {w}
),
keyed AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(grams)),
                        i -> ({h10}) * 1048576 + (1048575 - (i - 1))) AS keys
  FROM g
),
mins AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(0, len(keys) - {w}),
                                      s -> list_min(keys[s + 1:s + {w}]))) AS fps
  FROM keyed
),
wfp AS (
  SELECT doc_id,
         (1048575 - (fp % 1048576))::int AS pos,
         (fp // 1048576)::bigint AS fp
  FROM (SELECT doc_id, unnest(fps) AS fp FROM mins)
)"""


def _winnow_oracle() -> str:
    return f"""
WITH {_winnow_ctes()}
SELECT doc_id, pos, fp FROM wfp
"""


def _winnow_pairs_oracle(min_shared: int = 2, max_fp_df: int = 100) -> str:
    """Mirror of spans.winnow_pairs over the fragment-injected corpus:
    distinct (doc, fp), DF window [2, max_fp_df], shared counts,
    containment-style overlap."""
    frag = (
        "SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 2000000 AS doc_id, "
        "array_to_string(string_split(text, ' ')[1:(len(string_split(text, ' ')) // 2)], ' ') AS text "
        "FROM documents WHERE doc_id % 9 = 4 AND len(string_split(text, ' ')) >= 8"
    )
    return f"""
WITH frag AS ({frag}),
{_winnow_ctes("frag")},
fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
sizes AS (SELECT doc_id, count(*) AS n_fps FROM fps GROUP BY 1),
dfreq AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1),
pruned AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfreq USING (fp)
           WHERE df BETWEEN 2 AND {max_fp_df}),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM pruned a JOIN pruned b ON a.fp = b.fp
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}
)
SELECT id_a, id_b, n_shared::int AS n_shared,
       floor((n_shared::double / least(na.n_fps, nb.n_fps)) * 10000.0 + 0.5) / 10000.0 AS overlap
FROM shared
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
"""


def _chunk_oracle(chunk_tokens: int = 32, overlap: int = 8) -> str:
    """Mirror of sampling.chunk_sliding: starts 0, step, 2·step … < n,
    inclusive-slice chunk fingerprints."""
    step = chunk_tokens - overlap
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
c AS (
  SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // {step})) AS ci
  FROM toks WHERE len(t) >= 1
)
SELECT doc_id,
       ci::int AS chunk_idx,
       (ci * {step})::int AS start_tok,
       least({chunk_tokens}, len(t) - ci * {step})::int AS n_chunk_tokens,
       md5(array_to_string(t[ci * {step} + 1:ci * {step} + {chunk_tokens}], ' ')) AS chunk_fp
FROM c
"""


def _token_drift_oracle(k: int = 25) -> str:
    """Mirror of textstats.token_drift: one conditional-count pass, add-1
    smoothing, micro-nat KL contributions, abs-desc/token-asc top-k."""
    return f"""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS tok,
         (doc_id % 2 = 0)::int AS in_a
  FROM documents
),
counts AS (
  SELECT tok, sum(in_a)::bigint AS cnt_a, sum(1 - in_a)::bigint AS cnt_b
  FROM t GROUP BY tok
),
totals AS (SELECT sum(cnt_a)::bigint AS n_a, sum(cnt_b)::bigint AS n_b,
                  count(*)::bigint AS v FROM counts),
j AS (
  SELECT tok, cnt_a, cnt_b,
    (cnt_a + 1)::double / (n_a + v) AS p,
    (cnt_b + 1)::double / (n_b + v) AS q
  FROM counts, totals
)
SELECT tok, cnt_a, cnt_b,
       floor(1000000.0 * p * ln(p / q) * 10000.0 + 0.5) / 10000.0 AS drift_micro
FROM j
ORDER BY abs(floor(1000000.0 * p * ln(p / q) * 10000.0 + 0.5) / 10000.0) DESC, tok ASC
LIMIT {k}
"""


def _dedup_eval_oracle() -> str:
    """Mirror of dedup.dedup_eval_recall: the verified minhash pair CTEs,
    truth = the injected (x, x + 1e6) copies, counts + round4 recall."""
    return f"""
WITH {_minhash_pairs_ctes()},
truth AS (
  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
  FROM documents WHERE doc_id % 10 = 0
),
t AS (
  SELECT count(*) AS n_truth,
         sum(CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END) AS n_found
  FROM truth LEFT JOIN pairs p USING (id_a, id_b)
),
c AS (SELECT count(*) AS n_discovered FROM pairs)
SELECT n_truth::bigint AS n_truth,
       n_found::bigint AS n_truth_found,
       floor((n_found::double / n_truth) * 10000.0 + 0.5) / 10000.0 AS recall,
       n_discovered::bigint AS n_discovered,
       (n_discovered - n_found)::bigint AS n_extra
FROM t, c
"""


def _quantile_hist_oracle() -> str:
    """Mirror of sketches.quantile_histogram_estimates over (lang, n_chars):
    the identical integer bin registers (leading bit + 2 sub-bits), rank
    rule r = ceil(q·n), in-bin linear interpolation, and exact
    quantile_cont comparators, all round4."""
    from readability_spark.operators.sketches import QH_QUANTILES

    lo = "CASE WHEN oct < 2 THEN v ELSE (4 + ((v >> (oct - 2)) & 3)) << (oct - 2) END"
    hi = (
        "CASE WHEN oct < 2 THEN v "
        "ELSE ((4 + ((v >> (oct - 2)) & 3)) << (oct - 2)) + ((1::bigint << (oct - 2)) - 1) END"
    )
    ests = []
    exacts = []
    for q in QH_QUANTILES:
        p = int(q * 100)
        r = f"greatest(1::bigint, ceil({q!r} * n_values::double)::bigint)"
        est = (
            f"bin_lo + (bin_hi - bin_lo) * (({r}::double - cum_before - 0.5) / n)"
        )
        ests.append(
            f"min(CASE WHEN cum >= {r} AND cum_before < {r} "
            f"THEN floor(({est}) * 10000.0 + 0.5) / 10000.0 END) AS p{p}_est"
        )
        exacts.append(
            f"floor(quantile_cont(v, {q!r}) * 10000.0 + 0.5) / 10000.0 AS p{p}_exact"
        )
    return f"""
WITH base AS (SELECT lang AS grp, n_chars::bigint AS v FROM documents WHERE n_chars >= 1),
b AS (SELECT grp, v, length(bin(v)) - 1 AS oct FROM base),
bb AS (SELECT grp, v, {lo} AS bin_lo, {hi} AS bin_hi FROM b),
bins AS (SELECT grp, bin_lo, bin_hi, count(*) AS n FROM bb GROUP BY 1, 2, 3),
cum AS (
  SELECT grp, bin_lo, bin_hi, n,
         sum(n) OVER (PARTITION BY grp ORDER BY bin_lo) AS cum
  FROM bins
),
tot AS (SELECT grp, sum(n)::bigint AS n_values FROM bins GROUP BY 1),
j AS (SELECT c.*, (cum - n)::bigint AS cum_before, t.n_values
      FROM cum c JOIN tot t USING (grp)),
est AS (SELECT grp, max(n_values)::bigint AS n_values, {", ".join(ests)} FROM j GROUP BY grp),
ex AS (SELECT grp, {", ".join(exacts)} FROM base GROUP BY grp)
SELECT * FROM est JOIN ex USING (grp)
"""


def _vocab_growth_oracle() -> str:
    """Mirror of textstats.vocab_growth: first-occurrence doc per token,
    then per-checkpoint prefix counts (a token is in prefix c's vocabulary
    iff its min doc_id < c)."""
    from readability_spark.operators.textstats import VOCAB_CHECKPOINTS

    toks = "string_split(text, ' ')"
    rows = []
    for c in VOCAB_CHECKPOINTS:
        rows.append(
            f"SELECT {c} AS checkpoint, "
            f"(SELECT count(*) FROM documents WHERE doc_id < {c})::bigint AS n_docs, "
            f"(SELECT coalesce(sum(len({toks})), 0) FROM documents WHERE doc_id < {c})::bigint AS n_token_occurrences, "
            f"(SELECT count(*) FROM f WHERE first_doc < {c})::bigint AS vocab_size"
        )
    return (
        f"WITH t AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),\n"
        "f AS (SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY tok)\n"
        "SELECT * FROM (\n"
        + "\nUNION ALL ".join(rows)
        + "\n) WHERE n_docs > 0"
    )


def _weighted_sample_oracle(k: int = 100) -> str:
    """Mirror of sampling.weighted_sample: same md5 unit hash, same
    clamped -ln(u)/w exponential key quantized at 1e9, ranked
    single-phase (TakeOrderedAndProject is rank-equivalent)."""
    u = f"({_h32_sql(tok='doc_id::varchar')}) / 4294967296.0"
    return f"""
WITH b AS (
  SELECT doc_id, len(string_split(text, ' '))::double AS w, {u} AS u
  FROM documents WHERE len(string_split(text, ' ')) > 0),
kq AS (
  SELECT doc_id, w,
         floor(-ln(greatest(u, 1.0 / 4294967296.0)) / w * 1e9)::bigint AS ek
  FROM b),
r AS (
  SELECT doc_id, w, row_number() OVER (ORDER BY ek, doc_id) AS rk FROM kq)
SELECT doc_id, w::bigint AS w, rk::int AS rk FROM r WHERE rk <= {k}
"""


def _bitext_pairs_oracle(
    k: int = 4, threshold: float = 1.0, b_bits: int = 6, n_tables: int = 16
) -> str:
    """Mirror of bitext.bitext_margin_pairs in its DEFAULT lsh mode: the
    seeded-plane banded shortlist (same key arithmetic as the ann_lsh
    oracles) gates which pairs are scored, then quantized-bigint cosines,
    exact top-k neighborhood sums per endpoint over the SHORTLIST, margin
    = c*2k/(sa+sb), forward-best above threshold with the backward-best
    mutual flag."""
    dot = (
        "list_sum(list_transform(generate_series(1, len(a.embedding)), "
        "i -> a.embedding[i]::double * b.embedding[i]::double))"
    )
    na = "sqrt(list_sum(list_transform(a.embedding, x -> x::double * x::double)))"
    nb = "sqrt(list_sum(list_transform(b.embedding, x -> x::double * x::double)))"
    return f"""
WITH {_lsh_keys_sql('embeddings', b_bits, n_tables)},
a AS (SELECT vec_id AS src_id, embedding FROM embeddings WHERE label % 2 = 0),
b AS (SELECT vec_id AS tgt_id, embedding FROM embeddings WHERE label % 2 = 1),
cand AS (
  SELECT DISTINCT ka.vec_id AS src_id, kb.vec_id AS tgt_id
  FROM keys ka JOIN keys kb ON ka.tbl = kb.tbl AND ka.key = kb.key
  JOIN a ON a.src_id = ka.vec_id
  JOIN b ON b.tgt_id = kb.vec_id),
scored AS (
  SELECT a.src_id, b.tgt_id,
         floor({dot} / ({na} * {nb}) * 10000.0 + 0.5)::bigint AS c
  FROM cand JOIN a USING (src_id) JOIN b USING (tgt_id)),
nna AS (
  SELECT src_id, sum(c) AS sum_a FROM (
    SELECT src_id, c,
           row_number() OVER (PARTITION BY src_id ORDER BY c DESC, tgt_id) AS r
    FROM scored) WHERE r <= {k} GROUP BY src_id),
nnb AS (
  SELECT tgt_id, sum(c) AS sum_b FROM (
    SELECT tgt_id, c,
           row_number() OVER (PARTITION BY tgt_id ORDER BY c DESC, src_id) AS r
    FROM scored) WHERE r <= {k} GROUP BY tgt_id),
m AS (
  SELECT s.src_id, s.tgt_id, s.c,
         s.c::double * {2.0 * k!r} / (nna.sum_a + nnb.sum_b)::double AS margin
  FROM scored s JOIN nna USING (src_id) JOIN nnb USING (tgt_id)),
rb AS (
  SELECT *,
         row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS fwd,
         row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS bwd
  FROM m)
SELECT src_id, tgt_id, c::double / 10000.0 AS cos,
       floor(margin * 10000.0 + 0.5) / 10000.0 AS margin,
       (bwd = 1) AS mutual
FROM rb WHERE fwd = 1 AND margin > {float(threshold)!r}
"""


def _mojibake_cte() -> str:
    """SQL mirror of encoding.with_synthetic_mojibake: the same INJECTIONS
    appended by doc_id % (len(INJECTIONS)+1) (last class = clean)."""
    from readability_spark.operators.encoding import INJECTIONS

    cases = "\n".join(
        "    WHEN {} THEN text || ' {}'".format(i, inj.replace("'", "''"))
        for i, inj in enumerate(INJECTIONS)
    )
    return (
        "m AS (\n  SELECT doc_id, CASE doc_id % {}\n".format(len(INJECTIONS) + 1)
        + cases
        + "\n    ELSE text END AS text FROM documents)"
    )


def _encoding_damage_oracle() -> str:
    """Mirror of encoding.encoding_damage over the injected docs: the SAME
    module-constant pattern strings (Java regex and RE2 agree on these —
    literal char classes, alternation, bounded repeat), counts via
    len(regexp_extract_all), the one double round4-quantized."""
    from readability_spark.operators import encoding as E

    def cnt(pat: str, alias: str) -> str:
        return "len(regexp_extract_all(text, '{}'))::bigint AS {}".format(
            pat.replace("'", "''"), alias
        )

    counts = ",\n    ".join(
        cnt(pat, alias)
        for pat, alias in (
            (E.PAT_FFFD, "n_fffd"),
            (E.PAT_C1, "n_c1"),
            (E.PAT_MOJI2, "n_moji2"),
            (E.PAT_MOJI3, "n_moji3"),
            (E.PAT_MOJI4, "n_moji4"),
            (E.PAT_DBL_ENTITY, "n_dbl_entity"),
            (E.PAT_ENTITY_RESIDUE, "n_entity_residue"),
        )
    )
    total = (
        "(n_fffd + n_c1 + n_moji2 + n_moji3 + n_moji4"
        " + n_dbl_entity + n_entity_residue)"
    )
    rate = _r4(f"CASE WHEN n_chars > 0 THEN {total}::double * 1000.0 / n_chars::double ELSE 0.0 END")
    return f"""
WITH {_mojibake_cte()},
d AS (
  SELECT doc_id, length(text)::bigint AS n_chars,
    {counts}
  FROM m)
SELECT doc_id, n_chars, n_fffd, n_c1, n_moji2, n_moji3, n_moji4,
       n_dbl_entity, n_entity_residue, {total}::bigint AS damage_total,
       {rate} AS damage_per_kchar,
       ({total} > 0) AS is_damaged
FROM d
"""


def _mojibake_repair_oracle() -> str:
    """Mirror of encoding.mojibake_repair: the shared REPAIR_TABLE applied
    as the same replace chain (both engines substitute all non-overlapping
    occurrences left-to-right). DuckDB's binder caps expression nesting at
    128, so the chain is chunked into stacked CTEs of 40 replaces each —
    same composition order, bounded per-expression depth."""
    from readability_spark.operators.encoding import REPAIR_TABLE

    chunks = [REPAIR_TABLE[i : i + 40] for i in range(0, len(REPAIR_TABLE), 40)]
    ctes = []
    for ci, chunk in enumerate(chunks):
        expr = "f{}".format(ci - 1) if ci else "text"
        for artifact, original in chunk:
            expr = "replace({}, '{}', '{}')".format(
                expr, artifact.replace("'", "''"), original.replace("'", "''")
            )
        ctes.append(
            "c{0} AS (SELECT doc_id, text, {1} AS f{0} FROM {2})".format(
                ci, expr, "c{}".format(ci - 1) if ci else "m"
            )
        )
    last = len(chunks) - 1
    cte_block = ",\n".join(ctes)
    return f"""
WITH {_mojibake_cte()},
{cte_block}
SELECT doc_id, (text != f{last}) AS changed,
       (length(text) - length(f{last}))::bigint AS chars_removed,
       f{last} AS text_repaired
FROM c{last}
"""


def _text_readability_oracle() -> str:
    """Mirror of textstats.readability_scores: the SAME module-constant
    patterns, exact integer counts, ratios round4-ed before the linear
    Flesch / FK formulas, scores round4-ed after — identical double ops
    both engines."""
    from readability_spark.operators import textstats as T

    def cnt(pat: str) -> str:
        return "len(regexp_extract_all(text, '{}'))::bigint".format(
            pat.replace("'", "''")
        )

    ok = "(n_sentences > 0 AND n_words > 0)"
    wps = _r4(f"CASE WHEN {ok} THEN n_words::double / n_sentences::double ELSE 0.0 END")
    spw = _r4(
        f"CASE WHEN {ok} THEN n_syllables::double / n_words::double ELSE 0.0 END"
    )
    fre = _r4(
        f"CASE WHEN {ok} THEN 206.835 - 1.015 * words_per_sentence"
        f" - 84.6 * syllables_per_word ELSE 0.0 END"
    )
    fkg = _r4(
        f"CASE WHEN {ok} THEN 0.39 * words_per_sentence"
        f" + 11.8 * syllables_per_word - 15.59 ELSE 0.0 END"
    )
    return f"""
WITH b AS (
  SELECT doc_id,
    {cnt(T.PAT_SENTENCE)} AS n_sentences,
    {cnt(T.PAT_WORD)} AS n_words,
    ({cnt(T.PAT_VOWEL_RUN)} + {cnt(T.PAT_NOVOWEL_WORD)})::bigint AS n_syllables
  FROM documents),
r AS (
  SELECT *, {wps} AS words_per_sentence, {spw} AS syllables_per_word FROM b),
s AS (
  SELECT *, {fre} AS flesch_reading_ease, {fkg} AS fk_grade FROM r)
SELECT *,
  CASE WHEN NOT {ok} THEN 'empty'
       WHEN flesch_reading_ease >= 70.0 THEN 'easy'
       WHEN flesch_reading_ease >= 50.0 THEN 'standard'
       WHEN flesch_reading_ease >= 30.0 THEN 'difficult'
       ELSE 'very_difficult' END AS reading_band
FROM s
"""


def _filter_attrition_oracle(
    stopwords: tuple = _SYNTH_STOPWORDS, quality_threshold: float = 0.55
) -> str:
    """Mirror of textstats.filter_attrition over the injected-duplicates
    union: same Gopher term arithmetic as _gopher_oracle, same quality
    formula as the text_quality oracle (round4-ed before the threshold
    compare), same keep-first-among-survivors window election, stages
    stacked by UNION ALL."""
    from readability_spark.operators.textstats import ATTRITION_STAGES

    stop = ", ".join(f"'{w}'" for w in stopwords)
    toks = "string_split(text, ' ')"
    quality = _r4(
        f"0.4::double * least(1.0::double, len({toks}) / 64.0)"
        f" + 0.3::double * least(1.0::double, ({_EN_HITS} / len({toks})::double) * 4)"
        f" + 0.3::double * (len(list_distinct({toks})) / len({toks})::double)"
    )
    gopher = (
        "n >= 50 AND n <= 100000 AND mean_len >= 3 AND mean_len <= 10"
        " AND alpha_words / n >= 0.8 AND symbols / n <= 0.1 AND stop_hits >= 2"
    )
    stages = "\nUNION ALL\n".join(
        f"SELECT {i} AS stage_idx, '{name}' AS stage,"
        f" d{i} AS docs_kept, t{i} AS tokens_kept,"
        f" {_r4(f'CASE WHEN d0 > 0 THEN d{i}::double / d0 ELSE 0.0 END')} AS docs_rate,"
        f" {_r4(f'CASE WHEN t0 > 0 THEN t{i}::double / t0 ELSE 0.0 END')} AS tokens_rate"
        " FROM a"
        for i, name in enumerate(ATTRITION_STAGES)
    )
    return f"""
WITH dup AS ({_DUP_DOCS}),
m AS (
  SELECT doc_id, lang, md5(text) AS fp,
    len({toks})::bigint AS n,
    (length(text) - (len({toks}) - 1)) / len({toks}) AS mean_len,
    len(list_filter({toks}, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
    ((length(text) - length(replace(text, '#', '')))
     + (length(text) - length(replace(text, '...', ''))) / 3
     + (length(text) - length(replace(text, '…', '')))) AS symbols,
    len(list_filter(list_distinct({toks}), w -> list_contains([{stop}], w))) AS stop_hits,
    {quality} AS q
  FROM dup),
f AS (
  SELECT doc_id, n, fp,
    (lang = 'en') AS c1,
    (lang = 'en' AND {gopher}) AS c2,
    (lang = 'en' AND {gopher} AND q >= {quality_threshold}) AS c3
  FROM m),
d AS (
  SELECT *, (c3 AND doc_id = min(CASE WHEN c3 THEN doc_id END)
             OVER (PARTITION BY fp)) AS c4
  FROM f),
a AS (
  SELECT count(*)::bigint AS d0, coalesce(sum(n), 0)::bigint AS t0,
    coalesce(sum(CASE WHEN c1 THEN 1 ELSE 0 END), 0)::bigint AS d1,
    coalesce(sum(CASE WHEN c2 THEN 1 ELSE 0 END), 0)::bigint AS d2,
    coalesce(sum(CASE WHEN c3 THEN 1 ELSE 0 END), 0)::bigint AS d3,
    coalesce(sum(CASE WHEN c4 THEN 1 ELSE 0 END), 0)::bigint AS d4,
    coalesce(sum(CASE WHEN c1 THEN n ELSE 0 END), 0)::bigint AS t1,
    coalesce(sum(CASE WHEN c2 THEN n ELSE 0 END), 0)::bigint AS t2,
    coalesce(sum(CASE WHEN c3 THEN n ELSE 0 END), 0)::bigint AS t3,
    coalesce(sum(CASE WHEN c4 THEN n ELSE 0 END), 0)::bigint AS t4
  FROM d)
{stages}
"""


def _char_entropy_oracle() -> str:
    """Mirror of textstats.char_entropy: same char split, same bigint
    quantization of the c*log2(c) terms, same H = log2(n) - sq/1e6/n."""
    h = "(log2(n_chars::double) - (sq::double / 1e6) / n_chars::double)"
    return f"""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE length(text) > 0),
cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
agg AS (
  SELECT doc_id, sum(c) AS n_chars, count(*) AS n_distinct_chars,
         sum(floor(c::double * log2(c::double) * 1e6)::bigint) AS sq
  FROM cnt GROUP BY doc_id)
SELECT doc_id, n_chars::bigint AS n_chars,
       n_distinct_chars::int AS n_distinct_chars,
       floor({h} * 10000.0 + 0.5) / 10000.0 AS entropy_bits,
       floor((CASE WHEN n_distinct_chars > 1
                   THEN {h} / log2(n_distinct_chars::double)
                   ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS entropy_ratio
FROM agg
"""


# SQL mirror of _urls_for_features (shared by the url_features and
# reshard_plan oracles)
_URLS_CASE_SQL = """
CASE doc_id % 4
  WHEN 0 THEN 'http://promo-' || (doc_id % 97)::varchar ||
              '-cheap4u.win7.ads.example.biz/a/b/c/d/e/p' || doc_id::varchar ||
              '.html?q=1&s=2&t=3'
  WHEN 1 THEN 'https://news.example.org/articles/' || doc_id::varchar
  WHEN 2 THEN 'http://blog.example.com/post?id=' || doc_id::varchar || '&ref=rss'
  ELSE 'http://www.example.net/p%20q%3A/' || doc_id::varchar
END"""


def _label_propagation_oracle(n_iter: int = 3) -> str:
    """Mirror of graph.label_propagation on the doc-derived 97-node graph:
    the same clamped-seed majority-vote rounds unrolled as CTEs; argmax =
    row_number over (votes DESC, label ASC) — the total order matching the
    Spark side's min(struct(-votes, label))."""
    rounds = []
    for t in range(n_iter):
        rounds.append(
            f"""v{t + 1} AS (
  SELECT e.d AS node, l.label, count(*) AS votes
  FROM e JOIN l{t} l ON l.node = e.s GROUP BY 1, 2),
c{t + 1} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY votes DESC, label ASC) AS rn
    FROM v{t + 1}) WHERE rn = 1),
l{t + 1} AS (
  SELECT * FROM seeds
  UNION ALL
  SELECT c.node, c.label FROM c{t + 1} c
  WHERE c.node NOT IN (SELECT node FROM seeds))"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 97 AS src, (doc_id * doc_id + 1) % 97 AS dst FROM documents
    UNION ALL
    SELECT doc_id % 97 AS src, (doc_id + 1) % 97 AS dst FROM documents)
),
e AS (SELECT DISTINCT s, d FROM (
  SELECT src AS s, dst AS d FROM e0 UNION ALL SELECT dst, src FROM e0)),
nodes AS (SELECT DISTINCT s AS node FROM e),
seeds AS (
  SELECT node, CASE WHEN node % 3 = 0 THEN 'spam' ELSE 'ham' END AS label
  FROM nodes WHERE node % 10 < 2),
l0 AS (SELECT * FROM seeds),
{chain}
SELECT n.node, l.label FROM nodes n LEFT JOIN l{n_iter} l ON l.node = n.node
"""


def _event_bursts_oracle(trail: int = 6, z_thresh: float = 2.5) -> str:
    """Mirror of temporal.detect_bursts: hourly buckets, trailing-{trail}
    moments from exact integer sums, then the token-identical IEEE
    mean/variance/z expression tree, floor-rounded at 1e-4."""
    var = "(ss::double - s::double * s::double / tn::double) / (tn::double - 1.0)"
    z = f"(cnt::double - s::double / tn::double) / sqrt({var})"
    return f"""
WITH b AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_start,
         count(*)::bigint AS cnt
  FROM events GROUP BY 1, 2),
w AS (
  SELECT key, bucket_start, cnt,
         sum(cnt) OVER tw AS s,
         sum(cnt * cnt) OVER tw AS ss,
         count(cnt) OVER tw AS tn
  FROM b
  WINDOW tw AS (PARTITION BY key ORDER BY bucket_start
                ROWS BETWEEN {trail} PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT key, strftime(bucket_start, '%Y-%m-%d %H:%M:%S') AS bucket_start, cnt,
         tn::bigint AS trail_n,
         CASE WHEN tn >= 2 AND {var} > 0
              THEN floor({z} * 10000.0 + 0.5) / 10000.0 END AS z
  FROM w)
SELECT key, bucket_start, cnt, trail_n, z,
       coalesce(z >= {z_thresh}, false) AS is_burst
FROM z
"""


def _doc_self_dedup_oracle(width: int = 8) -> str:
    """Mirror of _with_repeated_lines + cleaning.dedup_doc_lines over the
    shared lined CTE: re-append line 1 (d%3==0) / line 2 (d%5==0) when
    present, then keep each line's first occurrence via the same
    position-over-prefix filter."""
    return f"""
WITH {_lined_cte(width)},
rep AS (
  SELECT doc_id,
    array_to_string(list_concat([text],
      list_filter([
        CASE WHEN doc_id % 3 = 0 THEN string_split(text, chr(10))[1] END,
        CASE WHEN doc_id % 5 = 0 THEN string_split(text, chr(10))[2] END
      ], x -> x IS NOT NULL)), chr(10)) AS text
  FROM lined),
m AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM rep),
k AS (
  SELECT doc_id, lines,
    list_filter(lines, (x, i) ->
      coalesce(list_position(list_slice(lines, 1, i - 1), x), 0) = 0) AS kept
  FROM m)
SELECT doc_id, len(lines)::bigint AS n_lines, len(kept)::bigint AS n_kept,
       array_to_string(kept, chr(10)) AS text_clean
FROM k
"""


def _url_variant_fold_oracle() -> str:
    """Mirror of urltools.fold_host_variants over the synthesized 4-variant
    url mix: same host/path regexes, same fold, and the representative
    election as min(rank-digit || url) — lexicographically identical to the
    Spark side's min(struct(rank, url)) since rank is one digit."""
    return r"""
WITH u AS (
  SELECT 'http://' || (['', 'www.', 'm.', 'amp.'])[((doc_id // 200) % 4 + 1)::int]
         || 'site' || (doc_id % 40)::varchar || '.com/p'
         || (doc_id % 200)::varchar AS url
  FROM documents),
p AS (
  SELECT url,
         lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS host,
         regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1) AS path
  FROM u),
f AS (
  SELECT *, regexp_replace(host, '^(www|m|amp)\.', '') AS canon_host FROM p),
r AS (
  SELECT *, CASE WHEN host = canon_host THEN 0
                 WHEN host = 'www.' || canon_host THEN 1
                 WHEN host = 'm.' || canon_host THEN 2
                 ELSE 3 END AS rnk
  FROM f)
SELECT canon_host, path,
       count(DISTINCT host)::bigint AS n_variants,
       count(*)::bigint AS n_urls,
       substr(min(rnk::varchar || url), 2) AS rep_url
FROM r GROUP BY 1, 2
"""


_QUALITY_SQL = (
    "0.4::double * least(1.0::double, len(string_split(text, ' ')) / 64.0) "
    f"+ 0.3::double * least(1.0::double, ({_EN_HITS} "
    "/ len(string_split(text, ' '))::double) * 4) "
    "+ 0.3::double * (len(list_distinct(string_split(text, ' '))) "
    "/ len(string_split(text, ' '))::double)"
)


def _curriculum_order_oracle() -> str:
    """Mirror of ordering.curriculum_order over the shared composite quality
    score: per-domain row_number (quality DESC, doc_id), then the global
    row_number over (rank, domain, doc_id) — the naive single-window form
    the two-phase Spark plan is bit-identical to."""
    return f"""
WITH q AS (
  SELECT doc_id, source AS domain, {_r4(_QUALITY_SQL)} AS quality
  FROM documents),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY domain ORDER BY quality DESC, doc_id) AS domain_rank
  FROM q)
SELECT doc_id, domain, quality, domain_rank::bigint AS domain_rank,
       (row_number() OVER (ORDER BY domain_rank, domain, doc_id) - 1)::bigint
         AS position
FROM r
"""


def _extract_boilerplate_oracle() -> str:
    """Mirror of _q_extract_boilerplate from first principles: html bytes
    from the byte-exact template reconstruction (pages.ORACLE_HTML — pure
    ASCII, so varchar length == byte length), extracted chars from
    _ORACLE_LEN. Sums are exact integers; the ratio is one double division
    floor-rounded at 1e-4 on both sides."""
    from readability_spark.sources.pages import ORACLE_HTML

    h = f"length({ORACLE_HTML})"
    return f"""
SELECT source, count(*)::bigint AS n_docs,
       sum({h})::bigint AS html_bytes,
       sum({_ORACLE_LEN})::bigint AS text_chars,
       (sum({h}) - sum({_ORACLE_LEN}))::bigint AS stripped_bytes,
       floor((sum({h}) - sum({_ORACLE_LEN}))::double / sum({h})::double
             * 10000.0 + 0.5) / 10000.0 AS strip_ratio
FROM documents GROUP BY source
"""


def _crawl_trap_hosts_oracle(
    min_urls: int = 10, min_ratio: float = 4.0
) -> str:
    """Mirror of urltools.crawl_trap_hosts over the synthesized trap/normal
    host mix: same url/text synthesis, distinct-url and distinct-md5 counts
    per host, same rounded ratio and flag."""
    return f"""
WITH p AS (
  SELECT 'http://h' || (doc_id % 20)::varchar || '.example/p'
         || doc_id::varchar AS url,
         CASE WHEN doc_id % 20 < 4
              THEN 'trap page ' || (doc_id % 3)::varchar
              ELSE text END AS text
  FROM documents),
b AS (
  SELECT lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS host,
         url, md5(text) AS fp
  FROM p),
c AS (
  SELECT host, count(DISTINCT url)::bigint AS n_urls,
         count(DISTINCT fp)::bigint AS n_contents
  FROM b GROUP BY host)
SELECT host, n_urls, n_contents,
       floor(n_urls::double / n_contents::double * 10000.0 + 0.5) / 10000.0
         AS urls_per_content,
       (n_urls >= {min_urls}
        AND n_urls::double / n_contents::double >= {min_ratio}) AS is_trap
FROM c
"""


def _reshard_plan_oracle(n_old: int = 8, n_new: int = 12) -> str:
    """Mirror of shards.reshard_plan over the synthesized urls: the same
    md5-weight rendezvous argmax (weight hex || ':' || zero-padded shard,
    reduced with max) for both shard counts, then the per-new-shard
    movement aggregation."""

    def argmax(n: int) -> str:
        return (
            f"CAST(substr(list_max(list_transform(range({n}), "
            f"s -> md5(url || '#' || s::varchar) || ':' || "
            f"lpad(s::varchar, 2, '0'))), 34, 2) AS INT)"
        )

    return f"""
WITH u AS (SELECT {_URLS_CASE_SQL} AS url FROM documents),
a AS (
  SELECT {argmax(n_old)} AS old_shard,
         {argmax(n_new)} AS new_shard,
         length(url)::bigint AS nb
  FROM u)
SELECT new_shard, count(*)::bigint AS n_keys,
       sum(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END)::bigint AS n_moved_in,
       sum(CASE WHEN old_shard <> new_shard THEN nb ELSE 0 END)::bigint AS moved_bytes
FROM a GROUP BY new_shard
"""


def _typosquat_oracle(top_k: int = 5) -> str:
    """Mirror of urltools.typosquat_candidates over the synthesized
    brand/typo host mix: same host synthesis, same top-k brand election
    (docs desc, host asc), DuckDB's own levenshtein, same subdomain
    guard."""
    brands = ", ".join(f"'{b}'" for b in _TYPO_BRANDS)
    typos = ", ".join(f"'{t}'" for t in _TYPO_HOSTS)
    return f"""
WITH h AS (
  SELECT CASE WHEN doc_id % 10 < 7
              THEN list_extract([{brands}], (doc_id % 5 + 1)::int)
              ELSE list_extract([{typos}], (doc_id % 9 + 1)::int)
         END AS host
  FROM documents),
hc AS (SELECT host, count(*)::bigint AS docs FROM h GROUP BY host),
b AS (SELECT host AS brand FROM hc ORDER BY docs DESC, host LIMIT {top_k})
SELECT hc.host, b.brand, levenshtein(hc.host, b.brand)::int AS dist, hc.docs AS docs
FROM hc CROSS JOIN b
WHERE levenshtein(hc.host, b.brand) <= 1
  AND hc.host <> b.brand
  AND NOT (hc.host LIKE ('%.' || b.brand))
"""


def _classifier_calibration_oracle(n_bins: int = 10) -> str:
    """Mirror of classifier.calibration_report: nest the full 16-round GD
    scoring oracle, re-bin on the identical round4-floored p, and compute
    the bin aggregates from the same exact-integer quantities."""
    return f"""
SELECT bin, count(*)::bigint AS n,
       floor(sum(p_q) / (10000.0 * count(*)) * 10000.0 + 0.5) / 10000.0 AS mean_p,
       floor(sum(y1)::double / count(*) * 10000.0 + 0.5) / 10000.0 AS pos_rate,
       floor(abs(sum(p_q) / (10000.0 * count(*)) - sum(y1)::double / count(*))
             * 10000.0 + 0.5) / 10000.0 AS gap
FROM (
  SELECT CAST(least(floor(p * {n_bins}), {n_bins - 1}) AS INT) AS bin,
         CAST(floor(p * 10000.0 + 0.5) AS BIGINT) AS p_q,
         CAST(y AS BIGINT) AS y1
  FROM ({_classifier_oracle()}) s
) GROUP BY bin
"""


def _url_features_oracle() -> str:
    """Mirror of urltools.url_features over the same four synthesized url
    shapes; DuckDB regexp_replace needs the explicit 'g' flag to match
    Spark's replace-all semantics."""
    mk = _URLS_CASE_SQL
    return f"""
WITH p AS (SELECT doc_id, ({mk}) AS url FROM documents),
f AS (
  SELECT url,
    lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS host,
    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM p),
g AS (
  SELECT url, host,
    length(host) AS host_len,
    length(host) - length(regexp_replace(host, '\\.', '', 'g')) AS n_subdomains,
    length(host) - length(regexp_replace(host, '[0-9]', '', 'g')) AS host_digits,
    length(host) - length(regexp_replace(host, '-', '', 'g')) AS host_hyphens,
    length(path) - length(regexp_replace(path, '/', '', 'g')) AS path_depth,
    length(path) AS path_len,
    CASE WHEN query = '' THEN 0
         ELSE length(query) - length(regexp_replace(query, '=', '', 'g')) END AS n_params,
    floor((length(url) - length(regexp_replace(url, '%[0-9a-fA-F]{{2}}', '', 'g'))) / 3)::int AS pct_encoded,
    length(url) AS url_len
  FROM f),
s AS (
  SELECT *,
    CASE WHEN host_len > 0 THEN host_digits::double / host_len ELSE 0.0 END AS digit_frac
  FROM g)
SELECT url, host, host_len::int AS host_len, n_subdomains::int AS n_subdomains,
  floor(digit_frac * 10000.0 + 0.5) / 10000.0 AS host_digit_frac,
  host_hyphens::int AS host_hyphens, path_depth::int AS path_depth,
  path_len::int AS path_len, n_params::int AS n_params, pct_encoded,
  url_len::int AS url_len,
  floor((0.25 * least(1.0, digit_frac * 4)
       + 0.2 * least(1.0, greatest(n_subdomains - 1, 0) / 3.0)
       + 0.2 * least(1.0, host_hyphens / 4.0)
       + 0.15 * least(1.0, greatest(path_depth - 3, 0) / 4.0)
       + 0.1 * least(1.0, n_params / 4.0)
       + 0.1 * least(1.0, url_len / 160.0)) * 10000.0 + 0.5) / 10000.0 AS suspicion
FROM s
"""


_TOKS = "string_split(text, ' ')"
_SYNTH_URL = "'http://synth.fakehost/doc/' || doc_id || '.html'"


def _lsh_plan_oracle() -> str:
    from readability_spark.operators.planner import lsh_parameter_plan_sql

    return lsh_parameter_plan_sql(perms=128, threshold=0.7)


def _quality_calibrate_oracle() -> str:
    return f"""
WITH q AS (
  SELECT doc_id, lang,
         {_r4(f"0.4::double * least(1.0::double, len({_TOKS}) / 64.0) + 0.3::double * least(1.0::double, ({_EN_HITS} / len({_TOKS})::double) * 4) + 0.3::double * (len(list_distinct({_TOKS})) / len({_TOKS})::double)")} AS quality
  FROM documents),
th AS (
  SELECT lang, count(*) AS n_docs,
         floor(quantile_cont(quality, 0.6) * 10000.0 + 0.5) / 10000.0 AS threshold
  FROM q GROUP BY lang),
k AS (
  SELECT q.lang, count(*) AS n_kept
  FROM q JOIN th USING (lang) WHERE q.quality >= th.threshold GROUP BY q.lang)
SELECT th.lang, n_docs::bigint AS n_docs, threshold,
       coalesce(n_kept, 0)::bigint AS n_kept,
       floor(coalesce(n_kept, 0)::double / n_docs * 10000.0 + 0.5) / 10000.0 AS kept_rate
FROM th LEFT JOIN k ON th.lang = k.lang
"""


def _key_skew_report_oracle() -> str:
    return """
WITH counts AS (
  SELECT user_id::varchar AS key, count(*) AS n_rows FROM events GROUP BY 1
),
totals AS (SELECT count(*)::bigint AS n_keys_total, sum(n_rows)::bigint AS rows_total FROM counts)
SELECT key, n_rows::bigint AS n_rows,
       floor((n_rows::double / rows_total) * 10000.0 + 0.5) / 10000.0 AS row_share,
       n_keys_total, rows_total
FROM counts, totals
ORDER BY n_rows DESC, key ASC
LIMIT 10
"""


def _events_asof_join_oracle() -> str:
    return """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view')
SELECT p.event_id AS event_id,
       p.user_id AS user_id,
       m.event_id AS view_event_id,
       round(m.value, 4) AS view_value,
       epoch_us(p.ts) - epoch_us(m.ts) AS lag_micros
FROM p LEFT JOIN LATERAL (
    SELECT v.event_id, v.value, v.ts FROM v
    WHERE v.user_id = p.user_id AND v.ts <= p.ts
    ORDER BY v.ts DESC, v.event_id DESC LIMIT 1
) m ON TRUE
"""


def _events_interval_join_oracle() -> str:
    return """
WITH s AS (SELECT event_id AS signup_event_id, user_id, ts AS start_ts,
                  ts + INTERVAL 30 MINUTE AS end_ts
           FROM events WHERE event_type = 'signup'),
     c AS (SELECT event_id AS click_event_id, user_id, ts
           FROM events WHERE event_type = 'click')
SELECT s.signup_event_id AS signup_event_id,
       c.click_event_id AS click_event_id,
       c.user_id AS user_id
FROM s JOIN c
  ON c.user_id = s.user_id AND c.ts >= s.start_ts AND c.ts < s.end_ts
"""


def _pmi_bigrams_oracle() -> str:
    return """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS p FROM toks),
uni AS (SELECT w, count(*)::double AS n_w FROM pos GROUP BY w),
mm AS (SELECT sum(n_w) AS m FROM uni),
bg AS (SELECT x.w AS a, y.w AS b
       FROM pos x JOIN pos y ON x.doc_id = y.doc_id AND y.p = x.p + 1),
nab AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY a, b),
nn AS (SELECT sum(n_ab)::double AS n FROM nab)
SELECT nab.a AS a, nab.b AS b, nab.n_ab AS n_ab,
       round(ln((nab.n_ab / nn.n) / ((ua.n_w / mm.m) * (ub.n_w / mm.m))), 6) AS pmi
FROM nab
JOIN uni ua ON ua.w = nab.a
JOIN uni ub ON ub.w = nab.b
CROSS JOIN nn CROSS JOIN mm
WHERE nab.n_ab >= 5
"""


def _phrase_search_oracle() -> str:
    return """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS p FROM toks),
hits AS (SELECT x.doc_id AS doc_id
         FROM pos x JOIN pos y ON x.doc_id = y.doc_id AND y.p = x.p + 1
         WHERE x.w = 'table' AND y.w = 'part')
SELECT doc_id, count(*) AS n_hits FROM hits GROUP BY doc_id
"""


def _corpus_shuffle_oracle() -> str:
    return """
SELECT doc_id,
       row_number() OVER (ORDER BY md5('r4:' || doc_id::varchar)) - 1 AS shuffle_idx
FROM documents
"""


def _extract_articles_oracle() -> str:
    return f"""
SELECT {_SYNTH_URL} AS url,
       'Synthetic Web Archive Document ' || doc_id AS title,
       'Author ' || (doc_id % 7) AS byline,
       source AS site_name,
       lang,
       '2024-01-' || lpad(((doc_id % 28) + 1)::varchar, 2, '0') AS published,
       'Synthetic page for doc ' || doc_id AS excerpt,
       {_ORACLE_TEXT} AS text,
       {_ORACLE_LEN}::bigint AS length
FROM documents
"""


def _extract_prefilter_oracle() -> str:
    return f"""
SELECT {_SYNTH_URL} AS url,
       'Synthetic Web Archive Document ' || doc_id AS title,
       'Author ' || (doc_id % 7) AS byline,
       source AS site_name,
       lang,
       '2024-01-' || lpad(((doc_id % 28) + 1)::varchar, 2, '0') AS published,
       'Synthetic page for doc ' || doc_id AS excerpt,
       {_ORACLE_TEXT} AS text,
       {_ORACLE_LEN}::bigint AS length
FROM documents
WHERE n_chars > 140 AND {_REPEAT} * sqrt(n_chars - 140) > 20
"""


def _extract_metrics_oracle() -> str:
    return f"""
SELECT lang, count(*) AS n_docs, sum({_ORACLE_LEN})::bigint AS total_chars
FROM documents GROUP BY lang
"""


def _extract_length_histogram_oracle() -> str:
    return f"""
SELECT cast(floor({_ORACLE_LEN} / 500.0) as bigint) AS len_bucket, count(*) AS n
FROM documents GROUP BY 1
"""


def _url_canonical_dedup_oracle() -> str:
    return """
WITH base AS (
  SELECT doc_id,
         'http://' || lower(source) || '.example.com/doc/' || doc_id || '.html'
           || (CASE WHEN doc_id % 4 = 3 THEN '?id=' || doc_id ELSE '' END) AS canonical_url,
         'http://' || source || '.Example.com/doc/' || doc_id || '.html'
           || (CASE WHEN doc_id % 4 = 3 THEN '?id=' || doc_id ELSE '' END) AS plain_url,
         CASE
           WHEN doc_id % 4 = 0 THEN 'http://' || source || '.Example.com/doc/' || doc_id || '.html?utm_source=feed&utm_medium=rss'
           WHEN doc_id % 4 = 1 THEN 'http://' || source || '.Example.com/doc/' || doc_id || '.html#section-2'
           WHEN doc_id % 4 = 2 THEN 'HTTP://' || source || '.Example.com:80/doc/' || doc_id || '.html'
           ELSE 'http://' || source || '.Example.com/doc/' || doc_id || '.html?id=' || doc_id || '&utm_campaign=x'
         END AS variant_url
  FROM documents
)
SELECT canonical_url, 2::bigint AS n_variants, least(plain_url, variant_url) AS keep_url
FROM base
"""


def _domain_stats_oracle() -> str:
    return """
SELECT lower(source) || '.example.com' AS host, count(*) AS n_docs,
       sum(n_chars)::bigint AS total_chars
FROM documents GROUP BY 1
"""


def _readerable_pages_oracle() -> str:
    return f"""
SELECT {_SYNTH_URL} AS url,
       (CASE WHEN n_chars > 140 THEN {_REPEAT} * sqrt(n_chars - 140) > 20 ELSE false END) AS readerable
FROM documents
"""


def _tokenfinder_paths_oracle() -> str:
    return f"""
SELECT {_SYNTH_URL} AS url, '/div#doc[doc]' AS top_path FROM documents
"""


def _candidate_paths_oracle() -> str:
    return f"""
SELECT {_SYNTH_URL} AS url,
       '/div#doc[doc]' AS top_path,
       (5 + {_REPEAT} * (2 + least(length(text) // 100, 3)))::double AS top_score
FROM documents
"""


def _text_token_stats_oracle() -> str:
    return f"""
SELECT doc_id,
       len({_TOKS})::int AS n_tokens,
       length(text)::int AS n_chars,
       list_sum(list_transform({_TOKS}, w -> greatest(1, cast(ceil(length(w) / 4.0) as bigint))))::bigint AS n_subwords,
       {_r4(f"(length(text) - (len({_TOKS}) - 1)) / len({_TOKS})::double")} AS avg_word_len
FROM documents
"""


def _text_quality_oracle() -> str:
    return f"""
SELECT doc_id,
       len({_TOKS})::int AS n_tokens,
       {_r4(f"{_EN_HITS} / len({_TOKS})::double")} AS stopword_ratio,
       {_r4(f"(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) / length(text)::double")} AS punct_ratio,
       {_r4(f"len(list_distinct({_TOKS})) / len({_TOKS})::double")} AS distinct_ratio,
       {_r4(f"0.4::double * least(1.0::double, len({_TOKS}) / 64.0) + 0.3::double * least(1.0::double, ({_EN_HITS} / len({_TOKS})::double) * 4) + 0.3::double * (len(list_distinct({_TOKS})) / len({_TOKS})::double)")} AS quality
FROM documents
"""


def _text_lang_id_oracle() -> str:
    return f"""
SELECT doc_id, lang,
       {_EN_HITS}::int AS en_hits,
       {_ES_HITS}::int AS es_hits,
       CASE WHEN {_EN_HITS} >= {_ES_HITS} THEN 'en' ELSE 'es' END AS lang_pred
FROM documents
"""


def _text_fingerprints_oracle() -> str:
    return f"""
SELECT doc_id, md5(text) AS exact_fp,
       list_min(list_transform(generate_series(0, greatest(len({_TOKS}) - 3, 0)),
                i -> md5(array_to_string({_TOKS}[i+1:i+3], ' ')))) AS shingle_fp
FROM documents
"""


def _dedup_exact_groups_oracle() -> str:
    return f"""
WITH dup AS ({_DUP_DOCS})
SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS keep_id,
       array_to_string(list_sort(list(doc_id))[1:100], ',') AS dup_ids
FROM dup GROUP BY 1 HAVING count(*) > 1
"""


def _snapshot_diff_oracle() -> str:
    return """
WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 != 0),
n AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END) AS h
      FROM documents WHERE doc_id % 5 != 1)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h != n.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def _domain_top_k_oracle() -> str:
    return """
SELECT source AS host, doc_id, n_chars, rn::int AS rk FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents) WHERE rn <= 10
"""


def _pdf_extract_text_oracle() -> str:
    return """
SELECT doc_id, 1 AS n_pages,
       '(doc ' || doc_id || ')' || chr(10) ||
       CASE WHEN length(text) > 80
            THEN substr(text, 1, 80) || chr(10) || substr(text, 81)
            ELSE text END AS text
FROM documents
"""


def _dedup_incremental_new_oracle() -> str:
    return """
SELECT b.doc_id, b.lang FROM documents b
WHERE NOT EXISTS (
  SELECT 1 FROM documents h WHERE h.doc_id % 3 = 0 AND h.text = b.text
)
"""


def _page_outlinks_oracle() -> str:
    return """
SELECT 'http://synth.fakehost/doc/' || doc_id || '.html' AS url,
       'http://synth.fakehost' || l.path AS href,
       l.anchor
FROM documents,
     (VALUES ('/home', 'home'), ('/hot', 'hot'),
             ('/terms', 'terms'), ('/privacy', 'privacy')) AS l(path, anchor)
"""


def _host_link_graph_oracle() -> str:
    return """
SELECT 'synth.fakehost' AS src_host, 'synth.fakehost' AS dst_host,
       (4 * count(*))::bigint AS n_links
FROM documents
"""


def _suffix_array_ranks_oracle() -> str:
    return """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, generate_subscripts(t, 1) AS p1, t FROM toks),
sfx AS (SELECT doc_id, p1 - 1 AS p, array_to_string(t[p1:], ' ') AS s FROM pos)
SELECT doc_id, p, dense_rank() OVER (ORDER BY s) AS rank FROM sfx
"""


def _span_removal_oracle() -> str:
    return f"""
WITH dup AS ({_DUP_DOCS}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM dup),
win AS (SELECT doc_id, p1 - 1 AS p,
               md5(array_to_string(t[p1:p1+5], ' ')) AS wk
        FROM (SELECT doc_id, generate_subscripts(t, 1) AS p1, t FROM toks)
        WHERE p1 + 5 <= len(t)),
occ AS (SELECT doc_id, p,
               count(*) OVER (PARTITION BY wk) AS n,
               row_number() OVER (PARTITION BY wk ORDER BY doc_id, p) AS rn
        FROM win),
rem AS (SELECT doc_id, p FROM occ WHERE n >= 2 AND rn > 1),
rpos AS (SELECT DISTINCT doc_id, unnest(generate_series(p, p + 5)) AS pos
         FROM rem),
tok AS (SELECT doc_id, p1 - 1 AS pos, t[p1] AS tk
        FROM (SELECT doc_id, generate_subscripts(t, 1) AS p1, t FROM toks)),
kept AS (SELECT tok.doc_id, tok.pos, tok.tk FROM tok
         WHERE NOT EXISTS (SELECT 1 FROM rpos r
                           WHERE r.doc_id = tok.doc_id AND r.pos = tok.pos))
SELECT d.doc_id,
       coalesce(string_agg(k.tk, ' ' ORDER BY k.pos), '') AS text_clean,
       count(k.pos)::bigint AS n_tokens_kept,
       (any_value(len(d.t)) - count(k.pos))::bigint AS n_tokens_removed
FROM toks d LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id
"""


def _exact_duplicate_spans_oracle() -> str:
    return """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
win AS (SELECT doc_id, p1 - 1 AS p, array_to_string(t[p1:p1+5], ' ') AS w
        FROM (SELECT doc_id, generate_subscripts(t, 1) AS p1, t FROM toks)
        WHERE p1 + 5 <= len(t)),
dup AS (SELECT w FROM win GROUP BY w HAVING count(*) >= 2),
m AS (SELECT doc_id, p FROM win JOIN dup USING (w)),
isl AS (SELECT doc_id, p,
        p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g FROM m)
SELECT doc_id, min(p)::bigint AS span_start, (max(p) + 5)::bigint AS span_end,
       count(*) AS n_dup_windows
FROM isl GROUP BY doc_id, g
"""


def _media_metadata_oracle() -> str:
    return """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       (CASE WHEN doc_id % 3 = 0 THEN 73
             WHEN doc_id % 3 = 1 THEN 44 + 2 * (doc_id % 100 + 1)
             -- mp4: ftyp(28) + moov{mvhd(108) + trak/mdia/minf/stbl(32) +
             -- stts(24 one entry / 32 two entries)} + moov header(8)
             WHEN doc_id % 30 = 0 THEN 200
             ELSE 208 END)::bigint AS byte_len,
       (CASE WHEN doc_id % 3 = 0 THEN doc_id % 640 + 1 END)::int AS width,
       (CASE WHEN doc_id % 3 = 0 THEN doc_id % 480 + 1 END)::int AS height,
       (CASE WHEN doc_id % 3 = 1 THEN 8000 * (1 + (doc_id // 3) % 3) END)::int AS sample_rate,
       (CASE WHEN doc_id % 3 = 1 THEN doc_id % 100 + 1 END)::int AS n_samples,
       (CASE WHEN doc_id % 3 = 1
             THEN ((doc_id % 100 + 1) * 1000000) // (8000 * (1 + (doc_id // 3) % 3))
             -- mp4: mvhd duration = n_frames * 40 ticks at timescale 1000
             WHEN doc_id % 3 = 2 THEN (doc_id % 30 + 1) * 40000
        END)::bigint AS duration_us,
       (CASE WHEN doc_id % 3 = 2 THEN doc_id % 30 + 1 ELSE 1 END)::int AS n_frames,
       true AS ok
FROM documents
"""


def _user_sessions_oracle() -> str:
    return """
WITH o AS (
  SELECT user_id, ts, value,
         -- >= not >: Spark's session_window merges on the half-open
         -- [ts, ts+gap), so an event at exactly start+gap opens a NEW
         -- session; the oracle must break on the same boundary.
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
),
s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, value ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
"""


def _media_frame_samples_oracle() -> str:
    return """
SELECT doc_id, unnest(generate_series(0, (doc_id % 30 + 1) - 1, 5))::int AS frame_idx,
       (doc_id % 30 + 1)::int AS n_frames
FROM documents WHERE doc_id % 3 = 2
"""


def _windowed_event_counts_oracle() -> str:
    return """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def _training_corpus_select_oracle() -> str:
    return f"""
WITH dup AS ({_DUP_DOCS}),
keep AS (
  SELECT min(doc_id) AS doc_id FROM dup GROUP BY md5(text)
),
q AS (
  SELECT doc_id,
         {_r4(f"0.4::double * least(1.0::double, len(string_split(text, ' ')) / 64.0) + 0.3::double * least(1.0::double, ({_EN_HITS} / len(string_split(text, ' '))::double) * 4) + 0.3::double * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))::double)")} AS quality,
         CASE WHEN {_EN_HITS} >= {_ES_HITS} THEN 'en' ELSE 'es' END AS lang_pred
  FROM dup
)
SELECT k.doc_id, q.lang_pred, q.quality
FROM keep k JOIN q ON q.doc_id = k.doc_id
WHERE q.lang_pred = 'en' AND q.quality >= 0.5
"""


def _resume_pending_buckets_oracle() -> str:
    return """
SELECT doc_id % 32 AS bucket, count(*) AS n_pending
FROM documents WHERE doc_id % 32 >= 16 GROUP BY 1
"""


def _tpch_pricing_summary_oracle() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def _tpch_revenue_by_nation_oracle() -> str:
    return """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""


def _tpch_region_part_revenue_oracle() -> str:
    return """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items,
       count(DISTINCT s_suppkey) AS n_suppliers
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
"""


def _docs_rollup_stats_oracle() -> str:
    return """
SELECT lang, source, count(*) AS n_docs, sum(n_chars)::bigint AS total_chars
FROM documents GROUP BY ROLLUP (lang, source)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# One row per query: (name, Spark builder, zero-argument DuckDB oracle). A
# tuple, not a dict literal, so a repeated name is caught by a test instead
# of silently keeping the last row. Row order is the declaration order that
# _coverage_rotate breaks ties with.
_REGISTRY: tuple[
    tuple[str, Callable[[SparkSession, str], DataFrame], Callable[[], str]], ...
] = (
    ("extract_articles", _q_extract_articles, _extract_articles_oracle),
    ("webdataset_shards", _q_webdataset_shards, _webdataset_shards_oracle),
    ("webdataset_roundtrip", _q_webdataset_roundtrip, _webdataset_roundtrip_oracle),
    ("ann_int8_topk", _q_ann_int8, _ann_int8_oracle),
    ("ann_ivf_topk", _q_ann_ivf, _ann_ivf_oracle),
    ("semdedup", _q_semdedup, _semdedup_oracle),
    ("image_pixel_stats", _q_image_pixel_stats, _image_pixel_stats_oracle),
    ("image_resize_stats", _q_image_resize_stats, _image_resize_oracle),
    ("audio_sample_stats", _q_audio_sample_stats, _audio_sample_stats_oracle),
    ("audio_resample_stats", _q_audio_resample_stats, _audio_resample_oracle),
    ("duplicate_spans", _q_duplicate_spans, _duplicate_spans_oracle),
    ("corpus_mix", _q_corpus_mix, _corpus_mix_oracle),
    ("span_removal", _q_span_removal, _span_removal_oracle),
    ("h264_sps_dims", _q_h264_sps_dims, _h264_sps_dims_oracle),
    ("mp3_duration_stats", _q_mp3_duration_stats, _mp3_duration_stats_oracle),
    ("jpeg_pixel_stats", _q_jpeg_pixel_stats, _jpeg_pixel_stats_oracle),
    ("image_near_dup", _q_image_near_dup, _image_near_dup_oracle),
    ("audio_near_dup", _q_audio_near_dup, _audio_near_dup_oracle),
    ("multimodal_near_dup", _q_multimodal_near_dup, _multimodal_near_dup_oracle),
    ("image_dup_clusters", _q_image_dup_clusters, _image_dup_clusters_oracle),
    ("audio_dup_clusters", _q_audio_dup_clusters, _audio_dup_clusters_oracle),
    ("ann_pq_topk", _q_ann_pq, _ann_pq_oracle),
    ("label_propagation", _q_label_propagation, _label_propagation_oracle),
    ("event_bursts", _q_event_bursts, _event_bursts_oracle),
    ("doc_self_dedup", _q_doc_self_dedup, _doc_self_dedup_oracle),
    ("url_variant_fold", _q_url_variant_fold, _url_variant_fold_oracle),
    ("curriculum_order", _q_curriculum_order, _curriculum_order_oracle),
    ("crawl_trap_hosts", _q_crawl_trap_hosts, _crawl_trap_hosts_oracle),
    ("extract_boilerplate", _q_extract_boilerplate, _extract_boilerplate_oracle),
    ("extract_prefilter", _q_extract_prefilter, _extract_prefilter_oracle),
    ("trustrank_hosts", _q_trustrank_hosts, _trustrank_oracle),
    ("html_tables", _q_html_tables, _html_tables_oracle),
    ("mime_sniff", _q_mime_sniff, _mime_sniff_oracle),
    ("feed_entries", _q_feed_entries, _feed_entries_oracle),
    ("charset_report", _q_charset_report, _charset_report_oracle),
    ("html_outline", _q_html_outline, _html_outline_oracle),
    ("canonical_meta", _q_canonical_meta, _canonical_meta_oracle),
    ("redirect_resolve", _q_redirect_resolve, _redirect_resolve_oracle),
    ("jsonld_inventory", _q_jsonld_inventory, _jsonld_inventory_oracle),
    ("hreflang_clusters", _q_hreflang_clusters, _hreflang_clusters_oracle),
    ("pagination_chains", _q_pagination_chains, _pagination_chains_oracle),
    ("rare_ngram_risk", _q_rare_ngram_risk, _rare_ngram_oracle),
    ("cc_large_star", _q_cc_large_star, _cc_large_star_oracle),
    ("hll_shard_merge", _q_hll_shard_merge, _hll_shard_merge_oracle),
    ("dictionary_match", _q_dictionary_match, _dictionary_match_oracle),
    ("media_tags", _q_media_tags, _media_tags_oracle),
    ("lm_mixture_em", _q_lm_mixture_em, _lm_mixture_em_oracle),
    ("graph_2hop_sample", _q_graph_2hop_sample, _graph_2hop_oracle),
    ("cdc_chunk_dedup", _q_cdc_chunk_dedup, _cdc_chunk_oracle),
    ("url_dates", _q_url_dates, _url_dates_oracle),
    ("soft404_report", _q_soft404_report, _soft404_oracle),
    ("license_optout", _q_license_optout, _license_optout_oracle),
    ("reshard_plan", _q_reshard_plan, _reshard_plan_oracle),
    ("typosquat_hosts", _q_typosquat_hosts, _typosquat_oracle),
    ("classifier_calibration", _q_classifier_calibration, _classifier_calibration_oracle),
    ("weighted_sample", _q_weighted_sample, _weighted_sample_oracle),
    ("bitext_pairs", _q_bitext_pairs, _bitext_pairs_oracle),
    ("lsh_plan", _q_lsh_plan, _lsh_plan_oracle),
    ("char_entropy", _q_char_entropy, _char_entropy_oracle),
    ("encoding_damage", _q_encoding_damage, _encoding_damage_oracle),
    ("mojibake_repair", _q_mojibake_repair, _mojibake_repair_oracle),
    ("text_readability", _q_text_readability, _text_readability_oracle),
    ("filter_attrition", _q_filter_attrition, _filter_attrition_oracle),
    ("semantic_decontam", _q_semantic_decontam, _semantic_decontam_oracle),
    ("pii_cc_luhn", _q_pii_cc_luhn, _pii_cc_luhn_oracle),
    ("url_features", _q_url_features, _url_features_oracle),
    ("quality_calibrate", _q_quality_calibrate, _quality_calibrate_oracle),
    ("lm_ppl_adaptive", _q_lm_ppl_adaptive, _lm_adaptive_oracle),
    ("domain_mix_doremi", _q_domain_mix_doremi, _doremi_oracle),
    ("unimax_alloc", _q_unimax_alloc, _unimax_oracle),
    ("temperature_mix", _q_temperature_mix, _temperature_mix_oracle),
    ("quota_sample", _q_quota_sample, _quota_sample_oracle),
    ("ann_hard_negatives", _q_hard_negatives, _hard_negatives_oracle),
    ("ccnet_band_sample", _q_ccnet_band_sample, _ccnet_band_sample_oracle),
    ("dup_source_matrix", _q_dup_source_matrix, _dup_source_matrix_oracle),
    ("bpe_fertility", _q_bpe_fertility, _bpe_fertility_oracle),
    ("ann_lsh_multiprobe", _q_ann_lsh_multiprobe, _ann_lsh_multiprobe_oracle),
    ("pii_density", _q_pii_density, _pii_density_oracle),
    ("corpus_card", _q_corpus_card, _corpus_card_oracle),
    ("embedding_outliers", _q_embedding_outliers, _embedding_outliers_oracle),
    ("crawl_budget", _q_crawl_budget, _crawl_budget_oracle),
    ("lexical_diversity", _q_lexical_diversity, _lexical_diversity_oracle),
    ("compaction_plan", _q_compaction_plan, _compaction_plan_oracle),
    ("snapshot_triage", _q_snapshot_triage, _snapshot_triage_oracle),
    ("host_boilerplate", _q_host_boilerplate, _host_boilerplate_oracle),
    ("signal_correlation", _q_signal_correlation, _signal_correlation_oracle),
    ("domain_quality_prior", _q_domain_quality_prior, _domain_prior_oracle),
    ("split_dedup_safe", _q_split_dedup_safe, _split_oracle),
    ("dedup_soft_weights", _q_dedup_soft_weights, _soft_weights_oracle),
    ("dedup_keep_best", _q_dedup_keep_best, _keep_best_oracle),
    ("event_funnel", _q_event_funnel, _funnel_oracle),
    ("script_mix", _q_script_mix, _script_mix_oracle),
    ("vocab_growth", _q_vocab_growth, _vocab_growth_oracle),
    ("dedup_ngram_containment", _q_ngram_containment, _containment_oracle),
    ("quantile_histogram", _q_quantile_histogram, _quantile_hist_oracle),
    ("dedup_eval_recall", _q_dedup_eval, _dedup_eval_oracle),
    ("winnow_fingerprints", _q_winnow_fingerprints, _winnow_oracle),
    ("chunk_sliding", _q_chunk_sliding, _chunk_oracle),
    ("winnow_pairs", _q_winnow_pairs, _winnow_pairs_oracle),
    ("token_drift", _q_token_drift, _token_drift_oracle),
    ("key_skew_report", _q_key_skew, _key_skew_report_oracle),
    ("events_asof_join", _q_events_asof, _events_asof_join_oracle),
    ("events_interval_join", _q_events_interval, _events_interval_join_oracle),
    ("pmi_bigrams", _q_pmi_bigrams, _pmi_bigrams_oracle),
    ("link_hits", _q_link_hits, _hits_oracle),
    ("zorder_layout", _q_zorder_layout, _zorder_oracle),
    ("suffix_array_ranks", _q_suffix_array, _suffix_array_ranks_oracle),
    ("jl_projection", _q_jl_projection, _jl_projection_oracle),
    ("exact_duplicate_spans", _q_exact_duplicate_spans, _exact_duplicate_spans_oracle),
    ("windowed_distinct_users", _q_windowed_distinct_users, _hll_window_users_oracle),
    ("phrase_search", _q_phrase_search, _phrase_search_oracle),
    ("corpus_shuffle", _q_corpus_shuffle, _corpus_shuffle_oracle),
    ("bpe_vocab", _q_bpe_vocab, lambda: _bpe_vocab_oracle(num_merges=8)),
    ("bpe_segment", _q_bpe_segment, lambda: _bpe_segment_oracle(num_merges=8)),
    ("text_normalize", _q_text_normalize, _text_normalize_oracle),
    ("cdx_entries", _q_cdx_entries, _cdx_entries_oracle),
    ("hll_distinct_tokens", _q_hll_distinct_tokens, _hll_distinct_tokens_oracle),
    ("cms_heavy_hitters", _q_cms_heavy_hitters, _cms_heavy_hitters_oracle),
    ("kmv_source_overlap", _q_kmv_source_overlap, _kmv_source_overlap_oracle),
    ("dedup_simhash", _q_dedup_simhash, _simhash_oracle),
    ("dedup_simhash64", _q_simhash64, _simhash64_oracle),
    ("dedup_simhash64_near_pairs", _q_simhash64_near_pairs, _simhash64_pairs_oracle),
    ("dedup_ngram_jaccard", _q_dedup_ngram, _ngram_oracle),
    ("ann_cosine_topk", _q_ann_cosine, _ann_cosine_oracle),
    ("ann_lsh_topk", _q_ann_lsh, _ann_lsh_oracle),
    ("dedup_embedding_cosine", _q_embedding_near_dups, _embedding_near_dup_oracle),
    ("media_metadata", _q_media_metadata, _media_metadata_oracle),
    ("media_frame_samples", _q_media_frames, _media_frame_samples_oracle),
    ("windowed_event_counts", _q_windowed_events, _windowed_event_counts_oracle),
    ("user_sessions", _q_user_sessions, _user_sessions_oracle),
    ("training_corpus_select", _q_training_corpus, _training_corpus_select_oracle),
    ("resume_pending_buckets", _q_resume_pending, _resume_pending_buckets_oracle),
    ("tpch_pricing_summary", _q_tpch_pricing, _tpch_pricing_summary_oracle),
    ("tpch_revenue_by_nation", _q_tpch_revenue_by_nation, _tpch_revenue_by_nation_oracle),
    ("tpch_region_part_revenue", _q_tpch_region_part_revenue, _tpch_region_part_revenue_oracle),
    ("docs_rollup_stats", _q_docs_rollup, _docs_rollup_stats_oracle),
    ("extract_metrics", _q_extract_metrics, _extract_metrics_oracle),
    ("extract_length_histogram", _q_extract_length_histogram, _extract_length_histogram_oracle),
    ("readerable_pages", _q_readerable, _readerable_pages_oracle),
    ("candidate_paths", _q_candidate_paths, _candidate_paths_oracle),
    ("tokenfinder_paths", _q_tokenfinder_paths, _tokenfinder_paths_oracle),
    ("tokenfinder_real_paths", _q_tokenfinder_real_paths, _tokenfinder_real_oracle),
    ("url_canonical_dedup", _q_url_canonical_dedup, _url_canonical_dedup_oracle),
    ("domain_stats", _q_domain_stats, _domain_stats_oracle),
    ("text_token_stats", _q_token_stats, _text_token_stats_oracle),
    ("text_quality", _q_quality, _text_quality_oracle),
    ("text_lang_id", _q_lang_id, _text_lang_id_oracle),
    ("text_fingerprints", _q_fingerprints, _text_fingerprints_oracle),
    ("text_repetition", _q_repetition, _repetition_oracle),
    ("text_gopher_rules", _q_gopher_rules, _gopher_oracle),
    ("text_c4_clean", _q_c4_clean, _c4_clean_oracle),
    ("line_dedup", _q_line_dedup, _line_dedup_oracle),
    ("length_quantiles", _q_length_quantiles, _quantiles_oracle),
    ("url_blocklist", _q_url_blocklist, _blocklist_oracle),
    ("robots_filter", _q_robots_filter, _robots_oracle),
    ("snapshot_diff", _q_snapshot_diff, _snapshot_diff_oracle),
    ("corpus_build", _q_corpus_build, _corpus_build_oracle),
    ("domain_top_k", _q_domain_top_k, _domain_top_k_oracle),
    ("decontaminate", _q_decontaminate, _decontam_oracle),
    ("chunk_dedup", _q_chunk_dedup, _chunk_dedup_oracle),
    ("pii_scrub", _q_pii_scrub, _pii_oracle),
    ("corpus_sample", _q_corpus_sample, _corpus_sample_oracle),
    ("corpus_pack", _q_corpus_pack, _corpus_pack_oracle),
    ("corpus_sequence_pack", _q_sequence_pack, _sequence_pack_oracle),
    ("dsir_select", _q_dsir_select, _dsir_oracle),
    # binned variant returns the IDENTICAL set (see pipeline.py docstring),
    # so its oracle is the same greedy SQL over the lang grouping
    ("corpus_pack_binned", _q_corpus_pack_binned, lambda: _corpus_pack_oracle(budget=1500, group="lang")),
    ("warc_ingest", _q_warc_ingest, _warc_ingest_oracle),
    ("pdf_extract_text", _q_pdf_extract, _pdf_extract_text_oracle),
    ("page_outlinks", _q_page_outlinks, _page_outlinks_oracle),
    ("host_link_graph", _q_host_link_graph, _host_link_graph_oracle),
    ("link_pagerank", _q_link_pagerank, _pagerank_oracle),
    ("anchor_profile", _q_anchor_profile, _anchor_profile_oracle),
    ("bm25_topk", _q_bm25_topk, _bm25_oracle),
    ("tfidf_topk", _q_tfidf_topk, _tfidf_oracle),
    ("crawl_frontier", _q_frontier, _frontier_oracle),
    ("sitemap_entries", _q_sitemap_entries, _sitemap_entries_oracle),
    ("sitemap_recrawl", _q_sitemap_recrawl, _sitemap_recrawl_oracle),
    ("refetch_schedule", _q_refetch_schedule, _refetch_oracle),
    ("quality_classifier", _q_quality_classifier, _classifier_oracle),
    ("lm_perplexity", _q_lm_perplexity, lambda: _lm_perplexity_oracle(head_max=29.0, middle_max=30.5)),
    ("dedup_incremental_new", _q_incremental_new, _dedup_incremental_new_oracle),
    ("dedup_incremental_near", _q_dedup_incremental_near, _incremental_minhash_oracle),
    ("dedup_exact_groups", _q_dedup_exact, _dedup_exact_groups_oracle),
    ("dedup_minhash_lsh", _q_dedup_minhash, _minhash_oracle),
    ("dedup_clusters", _q_dedup_clusters, _clusters_oracle),
    ("jsonl_shards", _q_jsonl_shards, _jsonl_shards_oracle),
    ("jsonl_roundtrip", _q_jsonl_roundtrip, _jsonl_roundtrip_oracle),
    ("url_aligned_pairs", _q_url_aligned_pairs, _url_aligned_pairs_oracle),
    ("zipf_slope", _q_zipf_slope, _zipf_slope_oracle),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order = verification priority, computed — not maintained.

    ``_REGISTRY`` is declared in narrative (family) order; the returned
    dict is that registry rotated by :func:`_coverage_rotate` so the round
    driver's bounded 50-row oracle prefix always lands on the queries with
    the stalest (or no) driver-verified row, flagship first. With the
    registry far larger than 50 entries no prefix can cover everything, so
    the COMPLETE gate is tests/test_oracle_parity.py (every entry vs its DuckDB oracle at
    sf0.001, run by plain pytest) plus the committed sf0.01 full-registry
    sweep record (BENCH/SELFCHECK_r05.md).
    """
    return _coverage_rotate({name: builder for name, builder, _ in _REGISTRY})


def oracle_sql() -> dict[str, str]:
    """Each query's DuckDB oracle text, keyed like :func:`queries`."""
    return {name: oracle() for name, _, oracle in _REGISTRY}
