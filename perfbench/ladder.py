"""The extraction ladder and the in-process layer spans.

Rung 1 runs the job's per-document call (``operators.extract._extract_one``
with the job's options) in this process, one core. Rung 2 runs
``operators.extract.extract`` plus ``count()`` on Spark. Rung 3 is the job
path itself (``workloads.JobWorkload``). Each layer's cost is one
subtraction between rungs, in core-milliseconds per document.

Rung 1 runs each block of documents twice, untraced and traced, in
alternating order, so both see the same pages and the same drift of the
machine. A full collection before each run puts both on the same garbage
collector state. The traced runs record the spans named in ``targets``.
"""

from __future__ import annotations

import gc
import statistics
import time

from spans import DOC, END, NAME, START, Tracer, totals_by_name

BLOCK = 10


def targets() -> list:
    """(owner, attribute, span name): each public function the job's
    per-document call reaches, patched where its caller looks it up."""
    from readability_spark.core import readability, text
    from readability_spark.dom import parser

    return [
        (parser, "decode_html_bytes", "dom.parser.decode_html_bytes"),
        (parser, "parse_html", "dom.parser.parse_html"),
        (readability, "parse_html", "dom.parser.parse_html"),
        (readability.Readability, "parse", "core.readability.parse"),
        (readability, "inner_html", "dom.serializer.inner_html"),
        (text, "canonical_text", "core.text.canonical_text"),
    ]


def inproc(urls: list, htmls: list, include_html: bool) -> tuple:
    """(untraced ns over all docs, Tracer with the traced spans)."""
    from readability_spark.operators.extract import _extract_one

    opts: dict = {}
    tracer = Tracer()
    untraced_ns = 0
    for b, start in enumerate(range(0, len(urls), BLOCK)):
        block = range(start, min(start + BLOCK, len(urls)))
        for traced in (b % 2 == 1, b % 2 == 0):
            gc.collect()
            if traced:
                with tracer.patch(targets()):
                    one = tracer.wrap("extract.doc", _extract_one)
                    for i in block:
                        tracer.doc = i
                        one(urls[i], htmls[i], opts, include_html)
            else:
                t0 = time.perf_counter_ns()
                for i in block:
                    _extract_one(urls[i], htmls[i], opts, include_html)
                untraced_ns += time.perf_counter_ns() - t0
    return untraced_ns, tracer


def layer_metrics(untraced_ns: int, tracer: Tracer, sizes_kb: list) -> dict:
    """Per-layer figures from the in-process rung."""
    n = len(sizes_kb)
    totals = totals_by_name(tracer.spans)

    def ms_per_doc(name: str) -> float:
        return totals.get(name, (0, 0))[1] / 1e6 / n

    doc_ms = [0.0] * n
    for rec in tracer.spans:
        if rec[NAME] == "extract.doc":
            doc_ms[rec[DOC]] = (rec[END] - rec[START]) / 1e6
    order = sorted(range(n), key=lambda i: sizes_kb[i])
    dec = max(1, n // 10)
    mid = n // 2 - dec // 2  # the decile centred on the median

    def ms_per_kb(idx) -> float:
        return sum(doc_ms[i] for i in idx) / sum(sizes_kb[i] for i in idx)

    inproc_docs_per_s = n / (untraced_ns / 1e9)
    selftime_ms = sum(ms_per_doc(name) for name in totals)
    pct = statistics.quantiles(doc_ms, n=100, method="inclusive")
    return {
        "dom.parser.decode_html_bytes.ms_per_doc": ms_per_doc("dom.parser.decode_html_bytes"),
        "dom.parser.parse_html.ms_per_doc": ms_per_doc("dom.parser.parse_html"),
        "dom.parser.parse_html.us_per_kb": totals.get("dom.parser.parse_html", (0, 0))[1]
        / 1e3
        / sum(sizes_kb),
        "core.readability.parse.ms_per_doc": ms_per_doc("core.readability.parse"),
        "core.readability.parse.retries_per_doc": (
            totals.get("dom.parser.parse_html", (0, 0))[0] - n
        )
        / n,
        "core.text.canonical_text.ms_per_doc": ms_per_doc("core.text.canonical_text"),
        "dom.serializer.inner_html.ms_per_doc": ms_per_doc("dom.serializer.inner_html"),
        "extract.doc.self_ms_per_doc": ms_per_doc("extract.doc"),
        "extract.doc_ms_p50": pct[49],
        "extract.doc_ms_p99": pct[98],
        "extract.doc_ms_max": max(doc_ms),
        "extract.cost_superlinearity": ms_per_kb(order[-dec:]) / ms_per_kb(order[mid : mid + dec]),
        "ladder.inproc_docs_per_s": inproc_docs_per_s,
        "trace.inproc_selftime_ms_per_doc": selftime_ms,
        "trace.inproc_selftime_coverage": selftime_ms / (1000 / inproc_docs_per_s),
    }


def extract_count(spark, pages_path: str, include_html: bool) -> float:
    """Median docs/s of three ``extract()`` + ``count()`` passes over the
    job's input."""
    from readability_spark.job import load_input
    from readability_spark.operators.extract import extract

    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        n = extract(load_input(spark, pages_path), include_html=include_html).count()
        rates.append(n / (time.perf_counter() - t0))
    return statistics.median(rates)
