"""Tests of the benchmark's arithmetic.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from sparkprobe import parse_metric  # noqa: E402
from stats import check_metric_name, paired_overheads, self_times, tail  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_of_the_smallest_sample_that_supports_one():
    value, pct, n = tail([5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0])
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_the_union_of_children_inside_the_parent():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 5.0, 1),  # overlaps span 2: 1..5 is covered once
        _span(4, 8.0, 12.0, 1),  # only 8..10 lies inside the parent
        _span(5, 2.5, 3.0, 3),  # a grandchild counts against its own parent only
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(0.5)


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([_span(1, 1.0, 1.25)]) == {1: pytest.approx(0.25)}


@pytest.mark.parametrize("name", sorted(run.END_TO_END) + sorted(run.PER_LAYER))
def test_every_reported_metric_name_is_well_formed(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_lead", "a b", "a/b", "x" * 65, "é"])
def test_bad_metric_names_are_refused(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_status_store_metric_strings():
    timing = "total (min, med, max (stageId: taskId))\n8.2 s (780 ms, 1.0 s, 1.3 s (stage 8.0: task 13))"
    assert parse_metric("timing", timing) == pytest.approx(8200.0)
    size = "total (min, med, max (stageId: taskId))\n108.9 KiB (22.0 KiB, 42.9 KiB, 44.0 KiB (stage 8.0: task 13))"
    assert parse_metric("size", size) == pytest.approx(108.9 * 1024)
    assert parse_metric("timing", "0 ms") == 0.0
    assert parse_metric("sum", "1,195") == 1195.0


def test_overhead_pairs_adjacent_passes_in_either_order():
    passes = [(False, 10.0), (True, 10.5), (True, 11.0), (False, 10.25)]
    assert paired_overheads(passes) == pytest.approx([0.5, 0.75])
    with pytest.raises(ValueError):
        paired_overheads([(True, 1.0), (True, 2.0)])


def test_every_table_the_engine_reads_is_in_the_data_directory():
    from flink_release_1_16_0_spark.catalog import TABLES

    assert sorted(f"{t}.parquet" for t in TABLES) == sorted(os.listdir(run.DATA))


def test_pass_count_depends_on_the_arguments_only():
    for w in WORKLOADS.values():
        assert w.passes(1) == w.min_passes
        assert w.passes(10 * w.pass_s) >= 10
