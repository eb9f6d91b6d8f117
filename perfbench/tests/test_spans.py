"""Self-time arithmetic on spans."""

import types

from spans import Tracer, self_times, totals_by_name


def test_self_times_of_a_hand_built_tree():
    # doc [0, 100] holds parse [10, 70] and text [75, 95];
    # parse holds html [20, 50], which holds decode [20, 25]
    spans = [
        ["doc", 0, 100, -1, 0],
        ["parse", 10, 70, 0, 0],
        ["html", 20, 50, 1, 0],
        ["decode", 20, 25, 2, 0],
        ["text", 75, 95, 0, 0],
    ]
    assert self_times(spans) == [20, 30, 25, 5, 20]
    assert sum(self_times(spans)) == 100
    assert totals_by_name(spans)["parse"] == (1, 30)


def test_totals_sum_calls_and_self_time_per_name():
    spans = [
        ["doc", 0, 10, -1, 0],
        ["html", 2, 6, 0, 0],
        ["doc", 10, 30, -1, 1],
        ["html", 12, 14, 2, 1],
        ["html", 20, 25, 2, 1],
    ]
    totals = totals_by_name(spans)
    assert totals["html"] == (3, 11)
    assert totals["doc"] == (2, 19)


def test_tracer_records_nesting_and_restores_patched_functions():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    original = mod.inner
    tracer = Tracer()
    with tracer.patch([(mod, "inner", "inner")]):
        outer = tracer.wrap("outer", lambda x: mod.inner(x) * 2)
        tracer.doc = 7
        assert outer(1) == 4
    assert mod.inner is original
    (o_name, o_start, o_end, o_parent, o_doc), (i_name, i_start, i_end, i_parent, _) = tracer.spans
    assert (o_name, o_parent, o_doc, i_name, i_parent) == ("outer", -1, 7, "inner", 0)
    assert o_start <= i_start <= i_end <= o_end
