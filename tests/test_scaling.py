"""Per-page extraction cost grows near-linearly with page size.

Each hostile page shape of ``tests/crawl_goldens.py`` must cost at most
2.5x more per doubling of its size. The cost of the job's per-document call
is measured at n and 4n (two doublings), and the per-doubling factor is the
square root of their ratio: on a shared machine whose speed swings from one
second to the next, the wider span halves the relative noise of the
estimate. Before the linear-time engine the six shapes cost 3.3-6.5x more
per doubling at these sizes.
"""

import gc
import time

import pytest

from readability_spark.operators.extract import _extract_one
from tests import crawl_goldens as G

MAX_RATIO = 2.5
# n per shape: large enough that a page of size n takes tens of
# milliseconds, against the timer and scheduler noise
SIZES = {
    "nested_labelled_divs": 800,
    "nested_empty_divs": 1600,
    "nested_tables": 800,
    "sibling_anchors": 2000,
    "br_runs": 1000,
    "li_runs": 2000,
}


def _cost(html: bytes) -> float:
    gc.collect()
    t0 = time.thread_time()
    _extract_one("https://hostile.example/page", html, {}, True)
    return time.thread_time() - t0


def per_doubling(small: bytes, large: bytes, rounds: int = 5) -> float:
    """Median over rounds of (cost(large) / cost(small)) ** 0.5, for a
    ``large`` page two doublings bigger than ``small``. Each round times the
    small page before and after the large one, so a change of the machine's
    speed during the round cancels to first order."""
    factors = []
    for _ in range(rounds):
        before = _cost(small)
        middle = _cost(large)
        after = _cost(small)
        factors.append((2 * middle / (before + after)) ** 0.5)
    factors.sort()
    return factors[len(factors) // 2]


@pytest.mark.parametrize("shape", sorted(SIZES))
def test_cost_per_doubling(shape):
    build, _ = G.HOSTILE_SHAPES[shape]
    n = SIZES[shape]
    factor = per_doubling(build(n).encode(), build(4 * n).encode())
    assert factor <= MAX_RATIO, f"{shape}: {factor:.2f}x per doubling"
