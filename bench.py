#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on the local session of readability_spark/session.py
(local[$SPARK_GRAFT_CPUS], driver memory $SPARK_GRAFT_DRIVER_MEM).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extract_docs_per_sec": ...}
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from readability_spark.session import build_spark, local_cpus

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = local_cpus()


TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
ALL_TRIALS: dict = {}


def timed(fn, name: "str | None" = None, trials: int = TRIALS) -> float:
    """Best-of-N wall time. Single-trial numbers on this hypervisor-noisy VM
    drift ±15% run-to-run (VERDICT r2: neither r1's nor r2's extract headline
    reproduced); the min over N trials is the stable, comparable statistic."""
    walls = []
    for _ in range(max(1, trials)):
        t0 = time.time()
        fn()
        walls.append(round(time.time() - t0, 3))
    if name is not None:
        ALL_TRIALS[name] = walls
    return min(walls)


def main() -> int:
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    spark = build_spark("readability-spark-bench")

    from readability_spark.operators.extract import extract
    from readability_spark.plans.pipeline import (
        release_persistent_rdds,
        salted_repartition,
    )
    from readability_spark.sources.pages import synthesize_pages

    queries: dict = {}

    # -- headline: full extraction throughput over the synthesized corpus
    # (replicated 10x so worker spin-up amortizes out of the steady-state rate)
    repl = int(os.environ.get("SPARK_GRAFT_BENCH_REPL", "10"))
    pages = synthesize_pages(spark, SF_DIR)
    reps = spark.range(repl).select(F.col("id").alias("rep"))
    pages = pages.crossJoin(reps).select(
        F.concat("url", F.lit("?r="), "rep").alias("url"), "html"
    )
    pages = salted_repartition(pages, CPUS * 2).persist()
    n_docs = pages.count()  # materialize input outside the timed section

    extracted_rows = {}

    def run_extract():
        out = extract(pages, include_html=False)
        extracted_rows["n"] = out.agg(
            F.count("*").alias("n"), F.sum("length").alias("chars")
        ).collect()[0]["n"]

    queries["extract_articles"] = timed(run_extract, "extract_articles")

    qmap = entrymod.queries()
    # Headline set: best-of-TRIALS — the round-over-round perf-tracked
    # queries (the VERDICT comparison table). Everything else runs ONE trial
    # for coverage; per-query driver time goes to verification first
    # (VERDICT r3 item 7). Override via SPARK_GRAFT_BENCH_TRIALS.
    headline = {
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "dedup_simhash64_near_pairs",
        "url_canonical_dedup",
        "tokenfinder_paths",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "dedup_clusters",
        "bm25_topk",
        "semdedup",
    }
    for name, fn in qmap.items():
        if name == "extract_articles":
            continue  # timed above over the replicated corpus
        n_tr = TRIALS if name in headline else 1
        queries[name] = timed(
            lambda fn=fn: fn(spark, SF_DIR).count(), name, trials=n_tr
        )
        # Block-manager hygiene between queries: operators persist /
        # localCheckpoint intermediates, and across 150 sequential queries
        # the orphaned blocks accumulate until late queries measure memory
        # pressure, not their plan (observed: bitext_pairs 24.8s
        # late-in-run vs 2.2s in a fresh session). clearCache alone was
        # NOT enough — it drops SQL-cached relations only, while
        # localCheckpoint blocks are RDD-level and wait on the async
        # ContextCleaner; release_persistent_rdds unpersists them
        # explicitly (safe here: the previous query's DataFrames are
        # dead once its count() returned).
        spark.catalog.clearCache()
        release_persistent_rdds(spark)
        gc.collect()

    total = round(sum(queries.values()), 3)
    # The final stdout line IS the contract, and the consumer tail-captures a
    # 2000-char buffer (measured: BENCH_r02's 927-char line parsed; r3's
    # longer line came back `parsed: null`, and even a compact dict of all
    # ~110 per-query walls is ~2.9 KB). So the LINE carries only the
    # extraction headline + the round-over-round perf-tracked query set;
    # every benched wall and the per-trial arrays go to
    # BENCH/TRIALS.json.
    line_queries = {
        k: v for k, v in queries.items() if k == "extract_articles" or k in headline
    }
    result = {
        "metric": "headline query wall time (extraction + dedup + ANN + stats) at sf dir",
        "value": total,
        "unit": "sec",
        "queries": line_queries,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "n_docs": n_docs,
        "extract_docs_per_sec": round(n_docs / queries["extract_articles"], 2)
        if queries["extract_articles"]
        else None,
        "bench_trials": TRIALS,
        "n_queries_benched": len(queries),
        "all_walls": "BENCH/TRIALS.json",
    }
    detail = dict(result, queries=queries, query_trials=ALL_TRIALS)
    try:
        # Diagnostic/smoke runs at other SFs set SPARK_GRAFT_TRIALS_PATH so
        # they don't clobber the committed round-artifact per-trial record.
        detail_path = os.environ.get("SPARK_GRAFT_TRIALS_PATH") or os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH", "TRIALS.json"
        )
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:
        print(f"bench: could not write TRIALS.json: {e}", file=sys.stderr)
    line = json.dumps(result)
    if len(line) > 1900:
        # Hard guard on the consumer's 2000-char tail buffer: if the headline
        # set ever grows the line past it, shed per-query walls (they live in
        # TRIALS.json anyway) rather than ship an unparseable artifact.
        result["queries"] = {"extract_articles": queries["extract_articles"]}
        result["queries_note"] = "line truncated to fit tail buffer; see all_walls"
        line = json.dumps(result)
        print("bench: headline line exceeded 1900B; shed walls", file=sys.stderr)
    print(line)
    sys.stdout.flush()
    # The JSON line above IS the contract. A large local[32] session was
    # observed hanging in shutdown for >10 min after printing it; don't let
    # a stuck spark.stop() stall the harness that invoked us. Exit nonzero
    # from the watchdog so a hung shutdown stays observable.
    import threading

    def _watchdog_fire():
        print(
            "bench: watchdog fired — spark.stop() hung >60s after the JSON "
            "line; hard-exiting 17",
            file=sys.stderr,
        )
        sys.stderr.flush()
        os._exit(17)

    watchdog = threading.Timer(60.0, _watchdog_fire)
    watchdog.daemon = True
    watchdog.start()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
