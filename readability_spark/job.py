"""spark-submit entry point for the extraction pipeline.

Usage (packaged per SURVEY.md §3.4):

    spark-submit --py-files readability_spark.zip -m readability_spark.job \\
        --input  <parquet/iceberg path or 'synth:<sf_dir>'>  \\
        --output <parquet dir, partitioned by bucket>        \\
        --manifest <manifest parquet dir>                    \\
        [--buckets 256] [--pre-salt] [--no-html] [--limit N]

Resumable: completed buckets recorded in the manifest are skipped on restart
(left anti-join). Output partitioned by bucket with dynamic partition
overwrite, so re-running a bucket replaces its files atomically.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="readability-spark extraction job")
    p.add_argument("--input", required=True, help="input path, or synth:<sf_dir>")
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", default=None)
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument(
        "--pre-salt",
        action="store_true",
        help="repartition RAW pages on the url-hash bucket before extraction "
        "(full-corpus shuffle; escape hatch for compute-skewed inputs). "
        "Default extracts on scan splits and shuffles only extracted rows.",
    )
    p.add_argument("--no-html", action="store_true", help="drop content_html from output")
    p.add_argument("--limit", type=int, default=0)
    p.add_argument(
        "--max-html-bytes",
        type=int,
        default=0,
        help="drop pages larger than this before extraction (0 = no cap); "
        "uses a pushed-down scan filter when the input carries an html_len "
        "column, else a pre-UDF length() filter",
    )
    p.add_argument(
        "--langs",
        default=None,
        help="comma-separated lang allowlist (e.g. en,es); an IN predicate "
        "on the lang column, pushed into the scan (PushedFilters)",
    )
    p.add_argument("--char-threshold", type=int, default=None)
    p.add_argument(
        "--readerable-prefilter",
        action="store_true",
        help="skip full extraction for pages failing isProbablyReaderable",
    )
    p.add_argument(
        "--iceberg-warehouse",
        default=None,
        help="warehouse dir for a hadoop Iceberg catalog named 'local' "
        "(needs the iceberg-spark-runtime jar on the cluster); enables "
        "iceberg:<db.tbl> for --input/--output",
    )
    return p


def load_input(spark, spec: str):
    if spec.startswith("synth:"):
        from readability_spark.sources.pages import synthesize_pages

        return synthesize_pages(spark, spec[len("synth:") :])
    if spec.startswith("iceberg:"):
        from readability_spark.sources.iceberg import read_pages

        return read_pages(spark, spec[len("iceberg:") :])
    return spark.read.parquet(spec)


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("readability-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # cap Arrow batch bytes: rows x avg_page must fit worker memory —
        # the default 10k rows x ~100KB crawl pages is ~1 GB per in-flight
        # batch per worker (docs/SCALE.md); 512 keeps it ~50 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    if args.iceberg_warehouse:
        from readability_spark.sources.iceberg import apply_iceberg_conf

        builder = apply_iceberg_conf(builder, args.iceberg_warehouse)
    spark = builder.getOrCreate()

    from readability_spark.plans.pipeline import (
        append_manifest,
        length_histogram,
        observed_extract,
        pending_buckets,
        read_manifest,
        with_bucket,
    )

    from pyspark.sql import functions as F

    pages = load_input(spark, args.input)
    if args.limit:
        pages = pages.limit(args.limit)
    if args.max_html_bytes:
        # oversized pages (SURVEY §4 / reference maxElemsToParse analogue):
        # cap BEFORE the expensive per-doc UDF. When the table carries a
        # materialized html_len column (recommended for crawl tables — an
        # 8-byte column lets parquet/Iceberg prune at the scan via
        # PushedFilters + row-group stats), filter on it; otherwise fall
        # back to length(html), which still runs scan-side, before the
        # shuffle and the Python UDF.
        if "html_len" in pages.columns:
            pages = pages.filter(F.col("html_len") <= args.max_html_bytes)
        else:
            pages = pages.filter(F.length(F.col("html")) <= args.max_html_bytes)
    if args.langs:
        if "lang" in pages.columns:
            # plain column IN-list: reaches PushedFilters, prunes parquet row
            # groups / Iceberg files before any html byte is read
            pages = pages.filter(F.col("lang").isin(args.langs.split(",")))
        else:
            raise SystemExit(
                "--langs requested but the input table has no 'lang' column; "
                "refusing to silently process the full unfiltered corpus "
                "(drop --langs or add a lang column to the table)"
            )

    pages = with_bucket(pages, args.buckets)
    manifest = read_manifest(spark, args.manifest) if args.manifest else None
    pages = pending_buckets(pages, manifest)

    options = {}
    if args.char_threshold is not None:
        options["char_threshold"] = args.char_threshold
    if args.readerable_prefilter:
        options["readerable_prefilter"] = True

    t0 = time.time()
    # one shuffle total either way (see plans/pipeline.observed_extract):
    # default extracts on scan splits and aligns the small extracted rows to
    # bucket dirs; --pre-salt instead shuffles the raw pages first (skew
    # escape hatch). A misaligned plan would write tasks x buckets small
    # files whose serial driver-side commit kills scaling.
    result, obs = observed_extract(
        pages,
        options=options,
        include_html=not args.no_html,
        n_buckets=args.buckets,
        salt=args.pre_salt,
    )
    if args.output.startswith("iceberg:"):
        from readability_spark.sources.iceberg import write_result

        write_result(result, args.output[len("iceberg:") :])
    else:
        (
            result.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(args.output)
        )
    elapsed = time.time() - t0

    metrics = dict(obs.get)
    # an empty run has no rows to sum
    metrics["boilerplate_bytes_stripped"] = metrics.get("boilerplate_bytes_stripped") or 0
    metrics["wall_sec"] = round(elapsed, 3)
    metrics["docs_per_sec"] = round(metrics.get("docs", 0) / elapsed, 2) if elapsed else None

    if metrics.get("docs"):
        if args.output.startswith("iceberg:"):
            from readability_spark.sources.iceberg import qualify

            out_df = spark.read.format("iceberg").load(
                qualify(args.output[len("iceberg:") :])
            )
        else:
            out_df = spark.read.parquet(args.output)
        if args.manifest:
            append_manifest(out_df, args.manifest)
        metrics["length_histogram"] = [
            {"len_bucket": r["len_bucket"], "n": r["n"]}
            for r in length_histogram(out_df).collect()
        ]
    else:
        # fully-resumed run: every bucket already in the manifest, nothing
        # extracted, and the empty output dir has no schema to re-read
        metrics["docs"] = 0
        metrics["length_histogram"] = []

    print(json.dumps(metrics, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
