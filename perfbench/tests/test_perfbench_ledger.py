"""Pure-Python checks: self-time arithmetic, the tail rule, run stamps."""

import pytest

import stamp
from ledger import Span, layer_of_source_call, self_times
from run import slowest_query


def _span(i, parent, start, end, name="f", layer="operators"):
    return Span(i, name, layer, parent, "q#0", start, end)


def test_self_time_subtracts_children_and_overlaps_once():
    spans = [
        _span(0, None, 0.0, 10.0, "construct", "phase"),
        _span(1, 0, 1.0, 4.0),  # child: 3 s
        _span(2, 1, 2.0, 3.0),  # grandchild: counts against 1, not 0
        _span(3, 0, 3.5, 6.0),  # overlaps child 1 by 0.5 s
        _span(4, 0, 9.0, 12.0),  # runs past the parent's end: 1 s inside
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(2.5)
    assert st[4] == pytest.approx(3.0)


def test_self_times_add_up_to_the_root():
    spans = [
        _span(0, None, 0.0, 8.0, "action", "phase"),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 4.0, 7.0),
        _span(3, 2, 5.0, 6.0),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_tail_is_the_slowest_query_median():
    # b has the highest single run, but a the highest median
    runs = {"a": [2.0, 2.1, 1.9, 2.2], "b": [1.0, 5.0, 1.1, 0.9]}
    assert slowest_query(runs) == ("a", pytest.approx(2.05))


def test_sources_calls_split_by_name():
    assert layer_of_source_call("sources.catalog.load_table") == "load"
    assert layer_of_source_call("sources.buckets.write_bucketed") == "write"
    assert layer_of_source_call("sources.catalog.insert_overwrite_partitions") == "write"
    assert layer_of_source_call("sources.layout.zorder_by") is None


def test_stamps_refuse_mixed_core_counts():
    a = {k: "x" for k in stamp.MERGE_KEYS} | {"seed": 1}
    b = dict(a, seed=2)
    stamp.check_mergeable([a, b])  # seeds may differ
    with pytest.raises(ValueError, match="cores"):
        stamp.check_mergeable([a, dict(a, cores="8")])
    stamp.check_comparable([a, dict(a, git_head="other")])  # A/B across code
    with pytest.raises(ValueError, match="git_head"):
        stamp.check_mergeable([a, dict(a, git_head="other")])
