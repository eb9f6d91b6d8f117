#!/usr/bin/env python
"""Generate docs/OPERATORS.md — the auditable index of every registry query
and the readability_spark modules that implement it. Regenerate after
registry changes:

    python scripts/gen_operator_index.py
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# Operator index (auto-generated — scripts/gen_operator_index.py)

One row per `queries()` entry in `__spark_entry__.py`. Each query is
declared once, as a `_REGISTRY` row holding its Spark builder and its
exact DuckDB oracle; the driver, `tests/test_oracle_parity.py` and
`scripts/verify_queries.py` compare the two (row count, column set,
order-insensitive value hash, and an empty result fails). `bench.py`
times every entry at sf0.1 (walls in `BENCH/TRIALS.json`). The first line
of each query's docstring describes what it computes; scale analyses live
in `docs/SCALE.md` and `BENCH/CARDINALITY.md`.

Shared-worker note: every per-row Arrow operator (extraction and its DOM
side channels, the media codecs, the shard and WARC readers) runs through
`operators/batches.arrow_map`. The runner raises the Python GC thresholds
process-wide in reused PySpark workers (gen0 700 → 200k, never restored)
and runs one `gc.collect()` per Arrow batch, so floating cyclic garbage is
bounded by one batch. A new per-row operator gets both by using the runner;
a hand-written `mapInPandas` loop would run under the raised thresholds
without the per-batch collect.
"""


def main() -> int:
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    lines = [HEADER]
    lines.append("| # | query | modules | summary |")
    lines.append("|---|---|---|---|")
    for i, (name, fn) in enumerate(q.items(), 1):
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = ""
        mods = sorted(
            set(re.findall(r"from (readability_spark\.[a-z_.0-9]+) import", src))
        )
        mod_s = "<br>".join(m.replace("readability_spark.", "") for m in mods) or "—"
        doc = " ".join((inspect.getdoc(fn) or "").split())
        if not doc and src:
            # wrapper without a docstring: fall back to the docstring of the
            # operator it calls — prefer names appearing in the return line
            imported = []
            for mod_name, names in re.findall(
                r"from (readability_spark\.[a-z_.0-9]+) import \(?([^)\n]*(?:\n[^)]*)?)",
                src,
            ):
                for nm in re.findall(r"[a-z_0-9]+", names):
                    imported.append((mod_name, nm))
            ret = src[src.rfind("return") :]
            ranked = [t for t in imported if t[1] in ret] + imported
            import importlib

            for mod_name, nm in ranked:
                try:
                    obj = getattr(importlib.import_module(mod_name), nm, None)
                except ImportError:
                    continue
                d = inspect.getdoc(obj) if callable(obj) else None
                if d:
                    doc = " ".join(d.split())
                    break
        cut = doc.find(". ")
        doc = doc[: cut + 1] if 0 <= cut < 160 else doc[:160]
        doc = doc.replace("|", "\\|") or "—"
        lines.append(f"| {i} | `{name}` | {mod_s} | {doc} |")

    lines.append("")
    lines.append(f"**Totals: {len(q)} queries, each with an exact DuckDB oracle.**")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "docs", "OPERATORS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(q)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
