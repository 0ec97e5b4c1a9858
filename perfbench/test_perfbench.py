"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, run  # noqa: E402
from perfbench.stats import Op, outcome, percentile, result_line, throughput  # noqa: E402
from perfbench.trace import Tracer, busy_seconds, metric_values, parse_metric_value  # noqa: E402
from perfbench.workloads import TpchOlap, WriteMix, norm_rows  # noqa: E402


def ctx(seed: int) -> SimpleNamespace:
    return SimpleNamespace(seed=seed, seconds=1.0, data="", tmp="")


# ---- percentile ----------------------------------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)


def test_percentile_single_sample_and_errors():
    assert percentile([0.25], 90) == 0.25
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


# ---- failure counting ----------------------------------------------------

def test_failures_are_counted_and_kept_out_of_latencies():
    ops = [
        Op("q1", 0.5),
        Op("q2", 0.1, error="boom"),
        Op("q3", 0.2, mismatch="empty result where the oracle has rows"),
        Op("q4", 1.5),
    ]
    o = outcome(ops)
    assert o["attempted"] == 4
    assert o["failed"] == 2
    assert o["failed_frac"] == 0.5
    assert o["latencies"] == [0.5, 1.5]
    line = result_line(
        ops, {"x": 1.0}, {"x": "s"}
    )
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (4, 2)


def test_failures_lower_throughput_never_raise_it():
    good = [Op("q", 1.0) for _ in range(4)]
    bad = good[:2] + [Op("q", 0.0, error="x") for _ in range(2)]
    wall = 4.0
    t_good = throughput(outcome(good)["latencies"], wall)
    t_bad = throughput(outcome(bad)["latencies"], wall)
    assert t_bad < t_good


def test_no_successful_op_is_an_error_not_a_zero():
    with pytest.raises(ValueError):
        throughput([], 1.0)


def test_a_wrong_answer_outside_the_ops_makes_the_run_incorrect():
    ops = [Op("q", 1.0)]
    assert result_line(ops, {}, {})["correct"] is True
    line = result_line(ops, {}, {}, ["stale read returned wrong rows"])
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (1, 0)


def test_result_line_requires_every_metric():
    with pytest.raises(ValueError):
        result_line([Op("q", 1.0)], {"a": 1.0}, {"a": "s", "b": "s"})
    line = result_line([Op("q", 1.0)], {"a": 2, "extra": 3}, {"a": "s"})
    assert line == {
        "correct": True, "attempted": 1, "failed": 0,
        "metrics": {"a": {"value": 2.0, "unit": "s"}},
    }


# ---- seed determinism ----------------------------------------------------

def test_query_order_comes_from_the_seed():
    def order(seed):
        names = list(TpchOlap.names)
        TpchOlap(ctx(seed)).rng.shuffle(names)
        return names

    assert order(7) == order(7)
    assert order(7) != order(8)
    assert sorted(order(7)) == sorted(TpchOlap.names)


def test_write_key_ranges_come_from_the_seed():
    def cycle(seed):
        return WriteMix.draw(WriteMix(ctx(seed)).rng, 15_000, 15_000)

    assert cycle(5) == cycle(5) != cycle(6)
    assert [r[0] for r in cycle(5).rows][20:] == list(range(15_000, 15_010))


def test_generated_tables_are_deterministic():
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000


# ---- result normalisation and store parsing ------------------------------

def test_wire_text_and_typed_rows_compare_equal():
    wire = [["B", "3", "120.0"], ["A", "1", None]]
    typed = [("A", 1, None), ("B", 3, 120.0)]
    assert norm_rows(wire) == norm_rows(typed)
    assert norm_rows([["A", "2"]]) != norm_rows([("A", 1)])


def test_parse_sql_store_metric_values():
    assert parse_metric_value("10,000") == 10_000
    summary = "total (min, med, max (stageId: taskId))\n81.3 KiB (20.3 KiB, ...)"
    assert parse_metric_value(summary) == pytest.approx(81.3 * 1024)
    assert parse_metric_value("total (min, med, max)\n5.1 s (1.3 s)") == 5.1
    assert parse_metric_value("total (min, med, max)\n295 ms (1 ms)") == pytest.approx(0.295)
    text = "HashMap(853 -> total (a, b)\n2.0 s (x, y), 847 -> 7, 848 -> 1.0 KiB)"
    assert metric_values(text, ["847", "853", "848", "9"]) == {
        "847": "7", "853": "total (a, b)\n2.0 s (x, y)", "848": "1.0 KiB",
    }


def test_busy_seconds_is_the_union_of_intervals():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert busy_seconds(iv, 0.0, 10.0) == 4.0
    assert busy_seconds(iv, 1.5, 5.5) == 2.0
    assert busy_seconds([], 0.0, 1.0) == 0.0


def test_untimed_work_is_kept_out_of_the_counters():
    t = Tracer(True)
    t._spark = object()
    pending = []

    def poll():
        for key in pending:
            t.counts[key] += 1
        pending.clear()
        return 0

    t.poll = poll
    pending.append("jobs")  # an op's job, finished but not yet folded
    with t.discard():
        pending.append("jobs")  # the untimed probe's job
        t.counts["catalyst_ms"] += 5  # a listener event during the probe
        with t.span("engine.sql"):
            pass
    assert t.counts["jobs"] == 1
    assert t.counts["catalyst_ms"] == 0
    assert t.spans == []


def test_benchmark_json_lists_the_metrics_the_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for key, printed in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == printed, key
