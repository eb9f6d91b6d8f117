"""Benchmark of the readability-spark engine.

    python3 perfbench/run.py --workload crawl_job --seed 1 --seconds 10 --trace 0

Runs one workload (``crawl_job``, ``dedup_suite`` or ``template_job``, see
``perfbench/README.md``) on Spark ``local[3]`` from the root of a checkout.
Set-up (session start, input materialisation and the warm-up passes) is
timed as ``setup_s``; then passes run back to back until ``--seconds`` of pass time
is measured, and each pass's output is checked outside its timed interval.
The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Scratch files live under ``.perfbench_work/`` in the checkout and are
removed at exit; a traced run leaves its spans in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

from metrics import MB
from workloads import WORKLOADS, DedupSuite

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 3
# passes in a traced window at least: two traced passes, each between two
# untraced ones, so the tracing overhead does not rest on one traced pass;
# seven would take a traced dedup_suite run close to its time limit
TRACE_PASSES = 5


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(work: str):
    from pyspark.sql import SparkSession

    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.sql.session.timeZone", "UTC")
        # job.main's session settings
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)."""
    import subprocess

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def worker_rss_mb() -> float:
    """Max VmHWM over the PySpark worker processes below this one."""
    parent, rss = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        rss[int(pid)] = int(line.split()[1]) * 1024 / MB
        except (FileNotFoundError, ProcessLookupError):
            continue
    me = os.getpid()

    def below_me(pid: int) -> bool:
        while pid > 1:
            pid = parent.get(pid, 0)
            if pid == me:
                return True
        return False

    return max((v for p, v in rss.items() if below_me(p)), default=0.0)


def measure(wl, spark, seconds: float, reader=None) -> tuple:
    """Passes until ``seconds`` of pass time and ``wl.min_passes`` passes;
    with a ``reader`` the passes alternate untraced and traced, and at
    least ``TRACE_PASSES`` run."""
    passes, ok, units, k = [], 0, 0, 0
    need = max(wl.min_passes, TRACE_PASSES if reader else 1)
    while sum(p.wall_s for p in passes) < seconds or len(passes) < need:
        traced = reader is not None and k % 2 == 1
        p = wl.run_pass(spark, k, reader if traced else None)
        p.detail["traced"] = traced
        n, good = wl.check(k)
        wl.cleanup(k)
        print(
            f"pass {k}{' traced' if traced else ''}: {p.wall_s:.3f} s, "
            f"{p.units / p.wall_s:.1f} units/s, {good}/{n} ok",
            file=sys.stderr,
        )
        passes.append(p)
        units += n
        ok += good
        k += 1
    return passes, units, ok


def median_rate(passes, attr: str = "units") -> float:
    return statistics.median(getattr(p, attr) / p.wall_s for p in passes)


def trace_overhead(passes) -> float:
    """Median over the traced passes of 1 - traced rate / the mean rate of
    the untraced passes on either side; the mean of the two neighbours
    cancels the machine's drift when it runs steadily up or down."""
    rate = [p.units / p.wall_s for p in passes]
    return statistics.median(
        1 - rate[k] / ((rate[k - 1] + rate[k + 1]) / 2) for k in range(1, len(rate) - 1, 2)
    )


def job_layers(wl, spark, passes, trace_dir: str, label: str) -> dict:
    import ladder
    from metrics import DEDUP_LAYERS, not_run

    traced = [p for p in passes if p.detail["traced"]]
    urls, htmls = wl.sample(1000)
    untraced_ns, tracer = ladder.inproc(urls, htmls, wl.include_html)
    tracer.write(f"{trace_dir}/{label}.spans.jsonl")
    out = ladder.layer_metrics(untraced_ns, tracer, [len(h) / 1024 for h in htmls])
    job = median_rate([p for p in passes if not p.detail["traced"]])
    count = ladder.extract_count(spark, wl.pages_path, wl.include_html)
    per_doc = 1000 / out["ladder.inproc_docs_per_s"]
    out.update(
        {
            "ladder.extract_count_docs_per_s": count,
            "ladder.job_docs_per_s": job,
            "operators.extract.overhead_ms_per_doc": CORES * 1000 / count - per_doc,
            "plans.pipeline.align_write_ms_per_doc": CORES * 1000 / job - CORES * 1000 / count,
            "spark.extract_stage.run_s": statistics.median(p.detail["wall_s"] for p in traced),
            "spark.extract_stage.tasks": traced[-1].detail["tasks"],
            "spark.extract_stage.failed_tasks": sum(p.detail["failed_tasks"] for p in traced),
            "spark.extract_stage.task_skew": statistics.median(
                p.detail["task_skew"] for p in traced
            ),
            "plans.pipeline.shuffle_write_mb": traced[-1].detail["shuffle_write_mb"],
            "job.output_files": traced[-1].detail["output_files"],
            "worker_rss_mb": worker_rss_mb(),
        }
    )
    out.update(not_run(DEDUP_LAYERS))
    return out


def dedup_layers(passes) -> dict:
    from metrics import DEDUP_QUERIES, EXTRACTION_LAYERS, not_run

    traced = [p for p in passes if p.detail["traced"]]
    out = not_run(EXTRACTION_LAYERS)
    for q in DEDUP_QUERIES:
        runs = [p.detail[q] for p in traced]
        stages = runs[-1]["stages"]
        out[f"operators.dedup.{q}.wall_s"] = statistics.median(r["wall_s"] for r in runs)
        out[f"operators.dedup.{q}.shuffle_write_mb"] = sum(s["shuffle_write_mb"] for s in stages)
        out[f"operators.dedup.{q}.peak_exec_mb"] = max(s["peak_exec_mb"] for s in stages)
        out[f"operators.dedup.{q}.result_rows"] = runs[-1]["rows"]
    return out


def run(args) -> str:
    from metrics import result_line
    from stages import StageReader

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    trace_dir = os.path.join(base, "traces")
    os.makedirs(work)
    if args.trace:
        os.makedirs(trace_dir, exist_ok=True)
    # Python workers import the engine from the checkout and keep their
    # temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    spark = None
    try:
        spark = start_session(work)
        wl = WORKLOADS[args.workload](args.seed, work)
        wl.materialise(spark)
        walls = wl.warm_up(spark)
        setup_s = process_age_s()
        print(f"setup {setup_s:.3f} s, warm-up passes {walls}", file=sys.stderr)

        reader = StageReader(spark) if args.trace else None
        passes, units, ok = measure(wl, spark, args.seconds, reader)
        if args.trace:
            label = f"{args.workload}-seed{args.seed}"
            if isinstance(wl, DedupSuite):
                values = dedup_layers(passes)
            else:
                values = job_layers(wl, spark, passes, trace_dir, label)
            untraced = median_rate([p for p in passes if not p.detail["traced"]])
            traced = median_rate([p for p in passes if p.detail["traced"]])
            values.update(
                {
                    "trace.untraced_docs_per_s": untraced,
                    "trace.traced_docs_per_s": traced,
                    "trace.overhead_frac": trace_overhead(passes),
                }
            )
        else:
            values = {
                "docs_per_s": median_rate(passes),
                "mb_per_s": median_rate(passes, "mb"),
                "setup_s": setup_s,
                "ok_frac": ok / units,
            }
        return result_line(values, bool(args.trace), units, units - ok)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="readability-spark benchmark")
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "readability_spark")):
        print(f"no readability_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    print(run(args))
    return 0


if __name__ == "__main__":
    sys.exit(main())
