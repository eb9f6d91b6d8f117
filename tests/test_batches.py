"""The Arrow batch runner's batch function, driven in-process over
hand-made pandas frames (no Spark)."""

import gc
import weakref

import pandas as pd
import pytest

from readability_spark.operators import batches


@pytest.fixture
def fresh_gc(monkeypatch):
    """Run with the process's default thresholds and an untuned runner;
    restore both afterwards (the thresholds are process-wide)."""
    saved = gc.get_threshold()
    gc.set_threshold(700, 10, 10)
    monkeypatch.setattr(batches, "_GC_TUNED", False)
    yield
    gc.set_threshold(*saved)


def run(per_row, names, frames):
    return list(batches.batch_function(per_row, names)(iter(frames)))


def test_columns_follow_schema_order(fresh_gc):
    frame = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    (out,) = run(lambda a, b: ({"b": b, "n": a * 10, "a": a},), ["a", "n", "b"], [frame])
    assert list(out.columns) == ["a", "n", "b"]
    assert out.to_dict("records") == [
        {"a": 1, "n": 10, "b": "x"},
        {"a": 2, "n": 20, "b": "y"},
    ]


def test_tuple_rows_are_positional(fresh_gc):
    frame = pd.DataFrame({"a": [3]})
    (out,) = run(lambda a: ((a, a + 1),), ["a", "b"], [frame])
    assert out.to_dict("records") == [{"a": 3, "b": 4}]


def test_per_row_sees_numpy_values_in_column_order(fresh_gc):
    frame = pd.DataFrame({"u": ["p", "q"], "h": [b"1", None]})
    seen = []
    run(lambda u, h: seen.append((u, h)) or (), ["u"], [frame])
    assert seen == [("p", b"1"), ("q", None)]


def test_rows_flatten_from_any_iterable(fresh_gc):
    frame = pd.DataFrame({"k": [0, 1, 2, 3]})

    def per_row(k):
        # no rows, one row, a generator of many
        if k == 0:
            return []
        if k == 1:
            return ((1, 0),)
        return ((int(k), j) for j in range(k))

    (out,) = run(per_row, ["k", "j"], [frame])
    assert list(map(tuple, out.itertuples(index=False))) == [
        (1, 0), (2, 0), (2, 1), (3, 0), (3, 1), (3, 2)
    ]


def test_empty_batch_keeps_the_schema(fresh_gc):
    empty = pd.DataFrame({"a": pd.Series([], dtype="int64")})
    calls = []
    (out,) = run(lambda a: calls.append(a) or ((a,),), ["a", "b"], [empty])
    assert calls == []
    assert list(out.columns) == ["a", "b"] and len(out) == 0


def test_one_output_frame_per_batch(fresh_gc):
    frames = [pd.DataFrame({"a": [i, i]}) for i in range(3)]
    outs = run(lambda a: ((a,),), ["a"], frames)
    assert [o["a"].tolist() for o in outs] == [[0, 0], [1, 1], [2, 2]]


def test_gc_thresholds_raised_after_first_batch(fresh_gc):
    it = batches.batch_function(lambda a: ((a,),), ["a"])(iter([pd.DataFrame({"a": [1]})]))
    assert gc.get_threshold() == (700, 10, 10)
    next(it)
    assert gc.get_threshold()[0] == 200_000
    assert batches._GC_TUNED


def test_reference_cycle_freed_by_end_of_batch(fresh_gc):
    class Node:
        pass

    refs = []

    def per_row(a):
        n = Node()
        n.self = n  # a cycle: refcounting alone never frees it
        refs.append(weakref.ref(n))
        return ((a,),)

    it = batches.batch_function(per_row, ["a"])(iter([pd.DataFrame({"a": [1, 2, 3]})]))
    gc.disable()  # no automatic collection may stand in for the runner's
    try:
        next(it)
        assert len(refs) == 3 and all(r() is None for r in refs)
    finally:
        gc.enable()


def test_per_row_exceptions_propagate(fresh_gc):
    def per_row(a):
        raise KeyError("decoder bug")

    with pytest.raises(KeyError):
        run(per_row, ["a"], [pd.DataFrame({"a": [1]})])
