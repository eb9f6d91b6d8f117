"""Names and units of every metric the benchmark prints.

``--trace 0`` prints exactly ``END_TO_END``; ``--trace 1`` prints exactly
``PER_LAYER``. A per-layer metric of a layer the workload does not run
(the extraction layers on ``dedup_suite``, the dedup operators on the jobs)
reads 0 (``not_run``). ``BENCHMARK.json`` at the repository root declares
the same names and units; ``perfbench/tests`` holds the two in step.
"""

from __future__ import annotations

import json

MB = 1e6  # the MB of every metric

END_TO_END = {
    "docs_per_s": "1/s",
    "mb_per_s": "MB/s",
    "setup_s": "s",
    "ok_frac": "frac",
}

DEDUP_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash64_near_pairs",
    "dedup_ngram_jaccard",
)

PER_LAYER = {
    # in-process spans over the job's per-document call
    "dom.parser.decode_html_bytes.ms_per_doc": "ms",
    "dom.parser.parse_html.ms_per_doc": "ms",
    "dom.parser.parse_html.us_per_kb": "us/KB",
    "core.readability.parse.ms_per_doc": "ms",
    "core.readability.parse.retries_per_doc": "count",
    "core.text.canonical_text.ms_per_doc": "ms",
    "dom.serializer.inner_html.ms_per_doc": "ms",
    "extract.doc.self_ms_per_doc": "ms",
    "extract.doc_ms_p50": "ms",
    "extract.doc_ms_p99": "ms",
    "extract.doc_ms_max": "ms",
    "extract.cost_superlinearity": "ratio",
    # the ladder: in-process loop -> extract() + count -> the job path
    "ladder.inproc_docs_per_s": "1/s",
    "ladder.extract_count_docs_per_s": "1/s",
    "ladder.job_docs_per_s": "1/s",
    "operators.extract.overhead_ms_per_doc": "ms",
    "plans.pipeline.align_write_ms_per_doc": "ms",
    # Spark's status store, per job group
    "spark.extract_stage.run_s": "s",
    "spark.extract_stage.tasks": "count",
    "spark.extract_stage.failed_tasks": "count",
    "spark.extract_stage.task_skew": "ratio",
    "plans.pipeline.shuffle_write_mb": "MB",
    "job.output_files": "count",
    "worker_rss_mb": "MB",
    # the tracing's own cost
    "trace.untraced_docs_per_s": "1/s",
    "trace.traced_docs_per_s": "1/s",
    "trace.overhead_frac": "frac",
    "trace.inproc_selftime_ms_per_doc": "ms",
    "trace.inproc_selftime_coverage": "ratio",
}
for _q in DEDUP_QUERIES:
    PER_LAYER[f"operators.dedup.{_q}.wall_s"] = "s"
    PER_LAYER[f"operators.dedup.{_q}.shuffle_write_mb"] = "MB"
    PER_LAYER[f"operators.dedup.{_q}.peak_exec_mb"] = "MB"
    PER_LAYER[f"operators.dedup.{_q}.result_rows"] = "count"


# every workload measures its tracing overhead; the other layers belong to
# either the extraction jobs or the dedup operators
TRACE_OVERHEAD = ("trace.untraced_docs_per_s", "trace.traced_docs_per_s", "trace.overhead_frac")
DEDUP_LAYERS = tuple(n for n in PER_LAYER if n.startswith("operators.dedup."))
EXTRACTION_LAYERS = tuple(n for n in PER_LAYER if n not in DEDUP_LAYERS + TRACE_OVERHEAD)


def not_run(names) -> dict:
    """Zero readings for layers a workload does not run."""
    return dict.fromkeys(names, 0)


def result_line(values: dict, trace: bool, attempted: int, failed: int) -> str:
    """The JSON object the benchmark prints last; ``values`` must name
    exactly the metrics of the mode."""
    spec = PER_LAYER if trace else END_TO_END
    if set(values) != set(spec):
        raise ValueError(f"metric names differ from the spec: {sorted(set(values) ^ set(spec))}")
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in spec.items()},
        }
    )
