"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

from datagen import IngestGenerator, Scale, events_table  # noqa: E402
from spans import parse_count, parse_size  # noqa: E402
from stats import (  # noqa: E402
    Checker,
    latency_summary,
    median,
    percentile,
    self_time_by_name,
    self_times,
    supported_percentile,
    trace_overhead,
)


def _span(id_, name, start, end, parent=None):
    return {"id": id_, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "construct", 1.0, 3.0, parent=1),
        _span(3, "execute", 4.0, 9.0, parent=1),
        _span(4, "inner", 5.0, 6.0, parent=3),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 2 - 5)
    assert own[2] == pytest.approx(2)
    assert own[3] == pytest.approx(5 - 1)
    assert own[4] == pytest.approx(1)
    # self times of a tree add up to the root's duration
    assert sum(own.values()) == pytest.approx(10)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "a", 1.0, 5.0, parent=1),
        _span(3, "b", 3.0, 7.0, parent=1),
        _span(4, "c", 9.0, 12.0, parent=1),  # runs past its parent
    ]
    assert self_times(spans)[1] == pytest.approx(10 - 6 - 1)


def test_self_time_by_name_sums_spans_of_one_name():
    spans = [
        _span(1, "op", 0.0, 4.0),
        _span(2, "plan", 0.0, 1.0, parent=1),
        _span(3, "op", 4.0, 6.0),
        _span(4, "plan", 4.0, 4.5, parent=3),
    ]
    by = self_time_by_name(spans)
    assert by == pytest.approx({"op": 3.0 + 1.5, "plan": 1.5})


def _op(name, latency, traced):
    return {"name": name, "latency": latency, "traced": traced}


def test_trace_overhead_compares_with_untraced_neighbours():
    # a log that grows 1 s per tick: the traced tick is 0.2 s slower
    # than the mean of its untraced neighbours, not 1.2 s slower than
    # the tick before it
    ops = [_op("tick", 3.0, False), _op("tick", 4.2, True), _op("tick", 5.0, False)]
    assert trace_overhead(ops) == pytest.approx(0.2)
    # names are compared only with themselves, whatever the order
    ops = [
        _op("a", 1.0, False), _op("b", 5.0, False),
        _op("b", 5.5, True), _op("a", 1.1, True),
        _op("a", 1.0, False), _op("b", 5.0, False),
    ]
    assert trace_overhead(ops) == pytest.approx(0.3)
    # a traced run at the end has only the neighbour before it
    assert trace_overhead([_op("t", 2.0, False), _op("t", 2.5, True)]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        trace_overhead([_op("t", 2.0, True)])


def test_percentile_and_median():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert median(xs) == 3.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(list(range(1, 101)), 90) == 90


def test_p90_needs_a_hundred_samples():
    assert supported_percentile(100) == 90
    assert supported_percentile(99) < 90
    assert supported_percentile(20) == 50
    assert supported_percentile(19) == 0
    assert latency_summary([1.0] * 99)["p90"] is None
    summary = latency_summary([float(i) for i in range(1, 101)])
    assert summary["p90"] == 90.0 and summary["n"] == 100


def test_failed_operation_misses_every_latency_limit():
    summary = latency_summary([1.0, 1.0, math.inf])
    assert summary["p50"] == 1.0
    assert latency_summary([1.0, math.inf, math.inf])["p50"] == math.inf


def test_checker_counts_a_deliberately_wrong_answer():
    c = Checker()
    want = {("2024-01-01", "click"): (3, 1.5), ("2024-01-01", "view"): (1, 0.25)}
    assert c.cells("right", dict(want), want)
    # summation order may move the last bits of a sum, never a count
    assert c.cells("reordered", {k: (n, s + 1e-13) for k, (n, s) in want.items()}, want)
    assert c.check_failures == 0
    wrong = dict(want)
    wrong[("2024-01-01", "click")] = (4, 1.5)
    assert not c.cells("wrong count", wrong, want)
    assert not c.cells("missing cell", {("2024-01-01", "click"): (3, 1.5)}, want)
    assert not c.rows("wrong row", {7: (1.0, "pro", 2)}, {7: (1.0, "pro", 3)})
    assert c.check_failures == 3
    assert c.checks == 5
    assert "wrong count" in c.failures[0]


def test_wrong_query_answer_fails_the_oracle_comparison():
    """The read workloads check through the repo's oracle comparison;
    a result with one wrong value must count as a check failure."""
    duckdb = pytest.importorskip("duckdb")
    from tests.oracle_check import compare_query

    class Result:
        columns = ["event_type", "n"]

        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES ('click', 2::BIGINT), ('view', 1::BIGINT)) t(event_type, n)"
    c = Checker()
    c.record("right", *compare_query(Result([("view", 1), ("click", 2)]), con, sql))
    c.record("wrong", *compare_query(Result([("view", 1), ("click", 3)]), con, sql))
    assert c.check_failures == 1 and c.failures[0].startswith("wrong")


def test_inputs_follow_the_seed():
    scale = Scale(events=500)
    assert events_table(1, scale).equals(events_table(1, scale))
    assert not events_table(1, scale).equals(events_table(2, scale))
    a, b = IngestGenerator(3), IngestGenerator(3)
    assert a.frames(100).equals(b.frames(100))
    assert a.changes(10, 1).equals(b.changes(10, 1))
    assert a.truth == b.truth


def test_ingest_truth_tracks_frames_and_changes():
    gen = IngestGenerator(5)
    frames = gen.frames(1_000)
    assert sum(n for n, _ in gen.truth.cells.values()) == 1_000
    assert frames.column("offset").to_pylist() == list(range(1_000))
    gen.frames(10)
    assert sum(n for n, _ in gen.truth.cells.values()) == 1_010
    changes = gen.changes(50, tick=1).to_pylist()
    assert len({r["user_id"] for r in changes}) == 50  # unique per key
    for r in changes:
        if r["_deleted"]:
            assert r["user_id"] not in gen.truth.rows
        else:
            assert gen.truth.rows[r["user_id"]] == (r["balance"], r["tier"], 1)


def test_formatted_metric_parsing():
    text = "total (min, med, max (stageId: taskId))\n3.7 KiB (0.0 B, 1248.0 B, 1248.0 B (driver))"
    assert parse_size(text) == pytest.approx(3.7 * 1024)
    assert parse_size("") == 0.0
    assert parse_count("1,234") == 1234
    assert parse_count("total (min, med, max)\n10 (1, 2, 3)") == 10
