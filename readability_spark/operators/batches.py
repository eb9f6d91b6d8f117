"""The one Arrow batch runner behind every per-row Python operator.

Every operator that maps Python over rows — html extraction and its DOM side
channels, the media codecs, the shard and WARC readers — hands
:func:`arrow_map` a ``per_row`` function and an output schema. The runner
owns the steps they share:

- the column-pruning ``select`` (only ``cols`` cross the JVM boundary);
- numpy iteration over the input columns (``Series.__iter__`` boxes per
  element);
- worker GC tuning, plus one ``gc.collect()`` per Arrow batch;
- flattening: ``per_row(*values)`` returns an iterable of output rows, so a
  row can yield none, one or many;
- building the frame in schema order.

It catches nothing: each ``per_row`` keeps its own failure isolation and its
own failed-row shape, because a catch-all here would turn decoder bugs into
quiet ``ok=False`` rows.

GC policy. A parsed DOM or a pure-Python codec loop allocates tens of
thousands of GC-tracked containers per row, and CPython's default gen0
threshold (700) fires dozens of young-generation scans per document over
objects that all survive until the row completes (about 10% of per-document
wall on the extraction corpus). Python workers are reused across tasks, so
the thresholds are raised once per worker process. The delayed scans let
cyclic garbage (a DOM's parent/child links) float, so one explicit collect
per Arrow batch bounds it.
"""

from __future__ import annotations

import gc
from typing import Callable, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

_GC_TUNED = False


def _tune_gc() -> None:
    global _GC_TUNED
    if not _GC_TUNED:
        gc.set_threshold(200_000, 50, 50)
        _GC_TUNED = True


def batch_function(
    per_row: Callable[..., Iterable], names: Sequence[str]
) -> Callable[[Iterator], Iterator]:
    """The ``mapInPandas`` function of :func:`arrow_map`: for each pandas
    batch, call ``per_row`` with one value per input column (in column
    order) and build a frame with columns ``names`` from the rows it
    returns. Rows are dicts keyed by name or tuples in ``names`` order."""
    names = list(names)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        _tune_gc()
        for pdf in batches:
            columns = [s.to_numpy() for _, s in pdf.items()]
            rows = [row for values in zip(*columns) for row in per_row(*values)]
            gc.collect()
            yield pd.DataFrame(rows, columns=names)

    return run


def arrow_map(
    df: DataFrame,
    cols: Sequence,
    per_row: Callable[..., Iterable],
    schema: StructType,
) -> DataFrame:
    """``df.select(*cols)`` mapped row by row through ``per_row`` in Arrow
    batches; the result has ``schema``. ``per_row`` runs on the worker, so
    any set-up it needs (an automaton, an options dict) belongs in its
    closure, built once on the driver."""
    return df.select(*cols).mapInPandas(
        batch_function(per_row, schema.fieldNames()), schema
    )
