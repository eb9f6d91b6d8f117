"""Scale-out plumbing: salted repartition, checkpoint/resume, metrics.

What Catalyst gives for free stays declarative (scan pruning, pushdown, AQE);
this module adds only the pieces Catalyst cannot infer around the opaque
extraction UDF (SURVEY.md §4):

- **Shuffle placement** (see ``observed_extract``): by default extraction
  runs on the scan splits (data-local, byte-balanced by the source) and the
  single shuffle carries only the *extracted* rows to bucket-aligned output
  tasks — at 100 TB that's ~30x fewer shuffle bytes than repartitioning raw
  html. The opt-in **salted repartition** on ``pmod(xxhash64(url), P)``
  instead shuffles the raw pages before extraction, decorrelating work from
  input order for pathologically compute-skewed inputs (a split whose pages
  parse far slower per byte than their neighbors).
- **Bucketed checkpoint/resume**: every url belongs to a stable bucket
  ``pmod(xxhash64(url), n_buckets)``. Completed buckets are recorded in a
  manifest; a restarted job left-anti-joins the manifest and reprocesses only
  pending buckets. Output is partitioned by bucket so each bucket's files are
  replaced atomically (dynamic partition overwrite).
- **Metrics via ``observe``**: docs seen/ok, extracted bytes, boilerplate
  bytes stripped (input bytes minus the bytes the job keeps: article HTML,
  or text under ``include_html=False``) — collected on the driver without a
  second pass; plus an extracted-length histogram as a tiny aggregate.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

DEFAULT_BUCKETS = 256


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS, key: str = "url") -> DataFrame:
    """Stable work bucket for checkpointing: pmod(xxhash64(key), n)."""
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))

def salted_repartition(df: DataFrame, num_partitions: int, key: str = "url") -> DataFrame:
    """Defuse domain/size skew: repartition by url-hash, not input order."""
    return df.repartition(num_partitions, F.pmod(F.xxhash64(F.col(key)), F.lit(num_partitions)))


def release_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist every RDD block still held by the block manager and return
    how many RDDs were dropped.

    Harness hygiene between sequential queries: operators persist /
    ``localCheckpoint`` intermediates, and ``spark.catalog.clearCache()``
    drops only SQL-cached *relations* — RDD-level blocks (which is what
    ``localCheckpoint`` leaves behind) are reclaimed only when the JVM
    ContextCleaner notices the RDD became unreachable, which is
    asynchronous and JVM-GC-dependent. Across a 150+-query sweep the
    orphaned blocks accumulate until late queries measure block-manager
    memory pressure instead of their plan shape. Explicitly unpersisting
    is safe ONLY when no live DataFrame still depends on a checkpointed
    RDD (its lineage is truncated, so its blocks cannot be recomputed) —
    i.e. call this BETWEEN queries, after the previous query's results
    are fully collected and its DataFrames dropped.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    # snapshot first: unpersist mutates the context's persistent-RDD map,
    # and py4j's dict view would be iterating it concurrently
    rdds = list(jmap.values())
    for rdd in rdds:
        rdd.unpersist(False)
    return len(rdds)


def read_manifest(spark: SparkSession, manifest_path: str) -> Optional[DataFrame]:
    try:
        return spark.read.parquet(manifest_path)
    except Exception:
        return None


def pending_buckets(
    df_with_bucket: DataFrame, manifest: Optional[DataFrame]
) -> DataFrame:
    """Left anti-join against completed buckets (resume semantics)."""
    if manifest is None:
        return df_with_bucket
    done = manifest.select("bucket").distinct()
    return df_with_bucket.join(F.broadcast(done), "bucket", "left_anti")


def append_manifest(result: DataFrame, manifest_path: str) -> None:
    """Record completed buckets: (bucket, n_docs, n_ok, run_ts)."""
    (
        result.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
        )
        .withColumn("run_ts", F.current_timestamp())
        .write.mode("append")
        .parquet(manifest_path)
    )


def observed_extract(
    pages: DataFrame,
    options: Optional[dict] = None,
    include_html: bool = True,
    n_buckets: int = DEFAULT_BUCKETS,
    salt: bool = False,
):
    """extract() wrapped with bucket alignment and observe() metrics.

    Either way the plan has exactly ONE exchange; what `salt` chooses is
    *which bytes ride it*:

    - ``salt=False`` (default): extraction runs directly on the scan splits
      (data-local on a real cluster — no html byte crosses the network),
      and the single shuffle aligns the *extracted* rows to checkpoint
      buckets for the partitioned write. At 100 TB of input the shuffle
      carries only the ~3 TB of extracted text + metrics — ~30x fewer
      shuffle bytes than pre-extraction repartitioning, and measurably
      faster at 16 cores in the sandbox (78s vs 87s on the 30.9k-page
      bench corpus). Compute skew follows scan splits, which the source
      already byte-balances (`spark.sql.files.maxPartitionBytes`).
    - ``salt=True``: repartition the RAW pages on the url-hash bucket
      BEFORE extraction (pmod(xxhash64(url), n_buckets)). This pays a
      full-corpus shuffle to decorrelate work from input order — the
      escape hatch for pathologically compute-skewed inputs (e.g. one
      WARC split full of deep link-farm HTML that parses far slower per
      byte than its neighbors). Because the partition key IS the bucket,
      the write needs no second shuffle.

    Granularity is set by n_buckets: use >= 8 x total cores so the task
    tail amortizes (at 10^12 docs: ~64k buckets, SCALE.md).

    Returns (result_df, observation); observation.get is available after the
    first action on result_df.
    """
    from readability_spark.operators.batches import arrow_map
    from readability_spark.operators.extract import (
        ARTICLE_SCHEMA,
        _extract_one,
        extract_options,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    if salt:
        pages = salted_repartition(pages, n_buckets)

    # keep html size through the UDF boundary for the boilerplate metric
    schema = StructType(ARTICLE_SCHEMA.fields + [StructField("html_bytes", LongType(), True)])
    options = extract_options(options, include_html)

    def per_row(url, html):
        row = _extract_one(url, html, options, include_html)
        row["html_bytes"] = len(html) if html is not None else 0
        return (row,)

    result = arrow_map(pages, ["url", "html"], per_row, schema)
    result = with_bucket(result, n_buckets)
    if not salt:
        # the bucket-partitioned write needs alignment, or every task
        # writes into every bucket dir — a tasks x buckets small-file commit
        # storm. Align on the extracted output (one shuffle, post-UDF, small
        # rows) — this IS the default plan's only exchange.
        result = result.repartition(n_buckets, F.col("bucket"))

    # the bytes the job keeps: the article HTML, or its text under --no-html
    kept = F.octet_length("content_html" if include_html else "text")
    obs = Observation("extract_metrics")
    result = result.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("ok").cast("long")).alias("docs_ok"),
        F.sum("html_bytes").alias("html_bytes"),
        F.sum(F.coalesce(F.length("content_html"), F.lit(0))).alias("content_bytes"),
        F.sum(F.coalesce(F.col("length"), F.lit(0))).alias("text_chars"),
        (F.sum("html_bytes") - F.sum(F.coalesce(kept, F.lit(0)))).alias(
            "boilerplate_bytes_stripped"
        ),
    )
    return result, obs


def length_histogram(result: DataFrame, bucket_size: int = 500) -> DataFrame:
    """Extracted-length histogram (SURVEY.md §2.10 aggregation demo)."""
    return (
        result.withColumn(
            "len_bucket", (F.coalesce(F.col("length"), F.lit(0)) / bucket_size).cast("long")
        )
        .groupBy("len_bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("len_bucket")
    )


def select_training_corpus(
    docs: "DataFrame", min_quality: float = 0.5, lang: str = "en"
):
    """End-to-end training-data selection: language filter + quality floor
    + exact dedup (keep smallest doc_id per identical text), composed from
    the individual operators — the pipeline the per-operator queries exist
    to serve. All joins are slim (doc_id + a few scalars); one scan of the
    text column feeds each branch and Catalyst collapses shared subtrees.
    Returns (doc_id, lang_pred, quality)."""
    from readability_spark.operators.dedup import dedup_exact
    from readability_spark.operators.textstats import lang_id, quality_score

    q = quality_score(docs).select("doc_id", "quality")
    lid = lang_id(docs).select("doc_id", "lang_pred")
    keep = dedup_exact(docs).select("doc_id")
    return (
        keep.join(q, "doc_id")
        .join(lid, "doc_id")
        .filter((F.col("lang_pred") == lang) & (F.col("quality") >= min_quality))
        .select("doc_id", "lang_pred", "quality")
    )


def build_training_corpus(
    docs: "DataFrame",
    urls: "DataFrame",
    robots_rules: "DataFrame",
    blocked_domains: "DataFrame",
    blocked_path_regex: str = None,
    agent: str = "trainingbot",
    gopher_stopwords: tuple = None,
):
    """The full web-pipeline composite: a doc survives iff

    1. its url is robots-allowed for ``agent`` (RFC 9309 verdict);
    2. its url passes the domain/path blocklist;
    3. it passes the Gopher quality rules;
    4. it is not benchmark-contaminated (and is not itself eval data —
       ``decontaminate`` excludes the benchmark split from training);
    5. it is the keep-first representative of its exact-dup group.

    ``urls`` is (doc_id, url). Every verdict is computed independently and
    intersected through doc_id-only joins — each branch shuffles slim
    (id, scalar) rows, the url string appears in exactly two joins (the
    verdict→id mappings, where it is the natural crawl key), and Catalyst
    shares the docs scan across branches. Returns
    (doc_id, n_words, contamination_frac).
    """
    from readability_spark.operators.decontam import decontaminate
    from readability_spark.operators.dedup import dedup_exact
    from readability_spark.operators.textstats import gopher_rules
    from readability_spark.operators.urltools import blocklist_filter
    from readability_spark.sources.robots import robots_filter

    just_urls = urls.select("url")
    robots_ok = (
        robots_filter(just_urls, robots_rules, agent=agent)
        .filter("allowed")
        .join(urls, "url")
        .select("doc_id")
    )
    block_ok = (
        blocklist_filter(just_urls, blocked_domains, blocked_path_regex)
        .filter("keep")
        .join(urls, "url")
        .select("doc_id")
    )
    gkw = {"stopwords": gopher_stopwords} if gopher_stopwords else {}
    quality_ok = (
        gopher_rules(docs, **gkw).filter("gopher_pass").select("doc_id", "n_words")
    )
    decon_ok = (
        decontaminate(docs).filter("keep").select("doc_id", "contamination_frac")
    )
    dedup_ok = dedup_exact(docs).select("doc_id")
    return (
        dedup_ok.join(robots_ok, "doc_id")
        .join(block_ok, "doc_id")
        .join(quality_ok, "doc_id")
        .join(decon_ok, "doc_id")
        .select("doc_id", "n_words", "contamination_frac")
    )


def pack_by_token_budget(
    docs: "DataFrame", budget_tokens: int = 600, group_col: str = "source"
):
    """Greedy per-group corpus packing: within each group (source/domain),
    admit docs best-quality-first until the group's token budget is full.
    This is the mixture-weighting step of corpus construction — "at most B
    tokens per domain, prefer high quality" — made deterministic (quality
    ties break on doc_id).

    Returns (source, doc_id, quality, n_tokens, cum_tokens): the admitted
    docs with their running token total, so downstream stages can audit how
    full each group's budget ran.

    Scale shape: quality/token counts are codegen projections; the cumsum
    is one window sort per group, parallel across groups — the right plan
    when groups are domains (10^6+ of them at crawl scale, each modest).
    For a layout with FEW giant groups (e.g. budget-per-language), the sort
    becomes the straggler; the known fix is two-phase histogram packing
    (aggregate token sums per (group, quality-bin) — map-side combined —
    cumsum the tiny bin table, keep every doc strictly above the crossing
    bin, sort only the boundary bin), which trades the per-group sort for
    per-bin sorts: :func:`pack_by_token_budget_binned` below. The exact
    variant here is the right plan for the high-cardinality source/domain
    grouping.
    """
    from pyspark.sql.window import Window

    from readability_spark.operators.textstats import quality_score

    q = quality_score(docs).select("doc_id", "quality", "n_tokens")
    base = docs.select("doc_id", group_col).join(q, "doc_id")
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(group_col, "doc_id", "quality", "n_tokens", "cum_tokens")
    )


def pack_by_token_budget_binned(
    docs: "DataFrame",
    budget_tokens: int = 1500,
    group_col: str = "lang",
    bin_decimals: int = 2,
):
    """Two-phase histogram variant of :func:`pack_by_token_budget` for the
    FEW-GIANT-GROUPS layout (e.g. one budget per language over 10^11 docs),
    where a single window sort per group would be the straggler.

    Phase 1 aggregates token totals per (group, quality-bin) — map-side
    combined, so a billion-doc language contributes one partial per
    partition — and cumsums the tiny bin table (≤ ~10^2 bins/group,
    broadcast back). Bins whose budget is already exhausted are dropped
    BEFORE any doc-level work. Phase 2 windows only within (group, bin):
    every sort is bounded by a bin's population, not the group's.

    The admitted set (and the cum_tokens audit column) is IDENTICAL to the
    exact greedy variant: binning by round(quality, d) is monotone in
    quality, so global quality order = (bin desc, within-bin order), and
    full bins are order-insensitive for membership. Equality is pinned in
    tests/test_sampling.py.
    """
    from pyspark.sql.window import Window

    from readability_spark.operators.textstats import quality_score

    q = quality_score(docs).select("doc_id", "quality", "n_tokens")
    base = (
        docs.select("doc_id", group_col)
        .join(q, "doc_id")
        .withColumn("bin", F.round(F.col("quality"), bin_decimals))
    )
    totals = base.groupBy(group_col, "bin").agg(F.sum("n_tokens").alias("bin_tokens"))
    wb = (
        Window.partitionBy(group_col)
        .orderBy(F.desc("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        totals.withColumn("cum_through", F.sum("bin_tokens").over(wb))
        .withColumn("cum_before", F.col("cum_through") - F.col("bin_tokens"))
        .filter(F.col("cum_before") < budget_tokens)
        .select(group_col, "bin", "cum_before")
    )
    wd = (
        Window.partitionBy(group_col, "bin")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(F.broadcast(offsets), [group_col, "bin"])
        .withColumn("cum_tokens", F.col("cum_before") + F.sum("n_tokens").over(wd))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(group_col, "doc_id", "quality", "n_tokens", "cum_tokens")
    )


def pack_into_sequences(
    docs: "DataFrame", seq_len: int = 512, bucket_span: int = 32
):
    """Concatenate-and-cut sequence packing (the GPT/T5 training-prep step):
    lay every document's tokens end-to-end in deterministic ``doc_id`` order
    and cut fixed ``seq_len``-token training sequences; emit each doc's
    global token offset and the sequence ids it spans.

    Returns ``(doc_id, n_tokens, start_off, seq_first, seq_last, n_seqs)``.

    The naive plan is one running sum over the TOTAL document order — a
    single-partition window, the classic scale-killer. This computes the
    IDENTICAL integers as a two-phase distributed prefix sum:

    1. per-range-bucket token totals (``doc_id div bucket_span`` — a
       map-side-combined groupBy);
    2. bucket base offsets: running sum over the *totals table* (its row
       count is n_docs / bucket_span — the one unpartitioned window runs
       over that bounded table, never over docs; size bucket_span so this
       stays ~10^5-10^6 rows at any corpus);
    3. intra-bucket running sums, parallel across buckets, joined to the
       broadcast bucket offsets.

    Everything is integer arithmetic (``div``, ``%``) — exact at any scale,
    no float drift — so the two-phase result is bit-identical to the naive
    global window (pinned in tests/test_sampling.py) and to the SQL oracle.
    Docs are assumed non-empty (``n_tokens`` floored at 1).
    """
    from pyspark.sql.window import Window

    n_tok = F.greatest(F.size(F.split("text", " ")), F.lit(1))
    base = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.expr(f"doc_id div {int(bucket_span)}").alias("pbucket"),
    )
    totals = base.groupBy("pbucket").agg(F.sum("n_tokens").alias("btok"))
    wb = Window.orderBy("pbucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "pbucket", F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("boff")
    )
    wi = (
        Window.partitionBy("pbucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("boff") + F.coalesce(F.sum("n_tokens").over(wi), F.lit(0))
    out = (
        base.join(F.broadcast(offsets), "pbucket")
        .withColumn("start_off", start)
        .withColumn("seq_first", F.expr(f"start_off div {int(seq_len)}"))
        .withColumn(
            "seq_last",
            F.expr(f"(start_off + n_tokens - 1) div {int(seq_len)}"),
        )
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("start_off").cast("bigint").alias("start_off"),
        F.col("seq_first").cast("bigint").alias("seq_first"),
        F.col("seq_last").cast("bigint").alias("seq_last"),
        (F.col("seq_last") - F.col("seq_first") + 1).cast("int").alias("n_seqs"),
    )


def key_skew_report(df: DataFrame, key: str, top_k: int = 10) -> DataFrame:
    """Join-key skew diagnosis — the report to run BEFORE shuffling 100 TB
    on a key: the ``top_k`` hottest keys with their share of all rows,
    alongside the global key count and row count (the share of the single
    hottest key is the straggler predictor: one task receives that
    fraction of the table in a plain hash join).

    Scale shape: one map-side-combined groupBy(key) — the only shuffle —
    then a broadcast one-row totals aggregate and a TakeOrderedAndProject
    top-k (per-partition partial top-k; the hot-key table never exists in
    full anywhere). The counts table is lazily checkpointed: totals and
    top-k are two consumers and self-reference defeats ReuseExchange.

    Output: (key, n_rows, row_share, n_keys_total, rows_total), ordered by
    n_rows desc with key-string ties.
    """
    from readability_spark.operators.dedup import round4

    counts = (
        df.select(F.col(key).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("n_rows"))
        .localCheckpoint(eager=False)
    )
    totals = counts.agg(
        F.count("*").alias("n_keys_total"), F.sum("n_rows").alias("rows_total")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            round4(F.col("n_rows") / F.col("rows_total")).alias("row_share"),
            "n_keys_total",
            F.col("rows_total").cast("long").alias("rows_total"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(top_k)
    )
