"""Aho–Corasick dictionary matching — large term lists in one text pass.

The regex-alternation blocklist (cleaning.c4_clean) is right for tens of
terms; at 10⁴–10⁵ dictionary entries (multilingual badword lists, PII
vocabularies, brand/entity gazetteers) the alternation blows up the
regex engine, while Aho–Corasick (1975) matches ALL patterns in one
O(text + hits) scan regardless of dictionary size.

Spark shape: the automaton is built ONCE on the driver and ships inside the
per-row closure (serialized with the function), then each Arrow batch
streams through it. Zero shuffles; one map-side-combined agg if the caller
rolls up. Per-doc failure isolation as usual.

Counting semantics: every (pattern, end-position) match counts — for
border-free patterns (no proper prefix == suffix) this equals the
non-overlapping count, which is what the SQL oracle mirrors via
length-difference arithmetic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from readability_spark.operators.batches import arrow_map

MATCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("n_hits", LongType(), False),
        StructField("n_patterns", IntegerType(), False),
    ]
)


def build_automaton(patterns: Sequence[str]):
    """Classic Aho–Corasick: goto trie + BFS failure links + output sets.
    Returns (goto: list[dict], fail: list[int], out: list[list[int]])."""
    goto = [{}]
    out: list = [[]]
    for pi, pat in enumerate(patterns):
        node = 0
        for ch in pat:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].append(pi)
    fail = [0] * len(goto)
    from collections import deque

    q = deque()
    for ch, nxt in goto[0].items():
        q.append(nxt)
    while q:
        u = q.popleft()
        for ch, v in goto[u].items():
            q.append(v)
            f = fail[u]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[v] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != v else 0
            out[v] = out[v] + out[fail[v]]
    return goto, fail, out


def _scan(text: str, goto, fail, out, n_patterns: int):
    counts = [0] * n_patterns
    node = 0
    for ch in text:
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        for pi in out[node]:
            counts[pi] += 1
    return counts


def dictionary_match(
    docs: DataFrame, patterns: Sequence[str], text_col: str = "text"
) -> DataFrame:
    """documents → (doc_id, n_hits, n_patterns): total dictionary hits and
    distinct patterns present per doc, one Aho–Corasick pass per doc."""
    patterns = list(patterns)
    n_patterns = len(patterns)
    goto, fail, out = build_automaton(patterns)

    def per_row(did, text):
        try:
            counts = _scan(text or "", goto, fail, out, n_patterns)
        except Exception:  # noqa: BLE001 — per-doc isolation
            counts = [0] * n_patterns
        return ((did, sum(counts), sum(1 for c in counts if c)),)

    return arrow_map(docs, ["doc_id", text_col], per_row, MATCH_SCHEMA)
