"""Run the benchmark several times per workload and report its spread.

    python3 perfbench/steady.py --runs 10 [--workloads crawl_job] [--first-seed 11]

Each run uses another seed, counting up from ``--first-seed``. For every
metric the report gives the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the quartile spread as a share
of the median, next to the metric's bound in ``BENCHMARK.json``. Raw results are appended to
``.perfbench_work/steady.jsonl``, one line per run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.perf_counter() - t0
    res["workload"], res["seed"] = workload, seed
    return res


def spread(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = os.path.join(ROOT, ".perfbench_work", "steady.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for w in args.workloads.split(","):
        results = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = run_once(w, seed, spec["run_seconds"])
            results.append(r)
            with open(log, "a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s wall, ok={r['correct']}", file=sys.stderr)
        print(f"\n{w}: {len(results)} runs, mean wall {statistics.mean(r['wall_s'] for r in results):.1f} s")
        print("| metric | unit | median | q1 | q3 | (q3-q1)/median | bound |")
        print("|---|---|---|---|---|---|---|")
        for name, m in results[0]["metrics"].items():
            med, q1, q3, rel = spread([r["metrics"][name]["value"] for r in results])
            print(f"| {name} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} | {rel:.3f} | {bounds.get(name, '')} |")
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
