"""Tests of the benchmark's own math: percentiles, quartile spreads,
span self-times and the source checksum.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random
import statistics
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import percentile, quartile_spread, worse_by  # noqa: E402
from perfbench.trace import Tracer, self_time_by_name, self_times  # noqa: E402


@pytest.mark.parametrize("n", [1, 2, 3, 4, 7, 40])
@pytest.mark.parametrize("q", [0, 25, 50, 75, 90, 100])
def test_percentile_matches_numpy_linear(n, q):
    rng = random.Random(n * 101 + q)
    xs = [rng.uniform(0, 10) for _ in range(n)]
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.5, 12.0, 8.0, 10.2, 9.9, 10.1, 11.3]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    got = quartile_spread(xs)
    assert (got["q1"], got["median"], got["q3"]) == (q1, med, q3)
    assert got["spread"] == pytest.approx((q3 - q1) / med)


def test_worse_by_respects_direction():
    assert worse_by(10.0, 12.0, "lower") == pytest.approx(0.2)
    assert worse_by(10.0, 12.0, "higher") == pytest.approx(-0.2)
    assert worse_by(10.0, 8.0, "higher") == pytest.approx(0.2)


def _steady_records(values_by_set, counters=None):
    recs = []
    for s, values in enumerate(values_by_set):
        for i, v in enumerate(values):
            recs.append({
                "workload": "w", "seed": 10 * s + i, "set": s, "rc": 0, "wall_s": 1.0,
                "facts": {"counters": dict(counters(s, i) if counters else {"jobs.x": [3]})},
                "result": {"correct": True, "metrics": {"t_s": {"value": v}}},
            })
    return recs


def test_steady_flags_a_gap_either_way_and_varying_counters(capsys):
    from perfbench.steady import analyze

    bench = {"end_to_end": [{"name": "t_s", "better": "lower", "bound": 0.25}]}
    steady = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8]
    assert analyze(_steady_records([steady, steady]), bench)
    faster = [v * 0.6 for v in steady]  # the second set 40% better
    assert not analyze(_steady_records([steady, faster]), bench)
    assert not analyze(_steady_records([faster, steady]), bench)
    # a counter that one run lacks varies too
    assert not analyze(_steady_records(
        [steady, steady],
        lambda s, i: {"jobs.x": [3]} if (s, i) != (1, 2) else {}), bench)
    capsys.readouterr()


def _span(sid, parent, start, end, name="s"):
    return {"id": sid, "name": name, "op": "o", "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 3.0, "a"),
        _span(2, 0, 5.0, 6.0, "b"),
        _span(3, 1, 1.5, 2.0, "c"),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(7.0)  # 10 - (2 + 1)
    assert own[1] == pytest.approx(1.5)  # 2 - 0.5 of its own child
    assert own[2] == pytest.approx(1.0)
    assert own[3] == pytest.approx(0.5)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),    # overlaps the first child on [4, 6]
        _span(3, 0, 9.0, 12.0),   # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_records_nesting_and_sums_by_name():
    t = Tracer(True)
    with t.span("op", op="op-1"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0, 0]
    assert {s["op"] for s in t.spans} == {"op-1"}
    by_name = self_time_by_name(t.spans)
    total = t.spans[0]["end"] - t.spans[0]["start"]
    assert by_name["op"] + by_name["inner"] == pytest.approx(total)
    off = Tracer(False)
    with off.span("op", op="x"):
        pass
    assert off.spans == []


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_checksum_is_order_independent_and_sees_every_cell(spark):
    from perfbench.workloads import checksum

    rows = [(i, f"s{i}", {"k": str(i)} if i % 3 else {}, None if i % 5 == 0 else i * 0.5)
            for i in range(50)]
    schema = "id long, s string, m map<string,string>, f double"
    base = checksum(spark.createDataFrame(rows, schema))
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert checksum(spark.createDataFrame(shuffled, schema).repartition(3)) == base
    assert base[0] == 50
    for changed in (
        rows[:-1],                                   # a row missing
        rows + [rows[0]],                            # a row duplicated
        [(0, "s0", {"k": "x"}, None)] + rows[1:],    # one map value changed
        [(0, "s0", {}, 1.0)] + rows[1:],             # a null became a value
    ):
        assert checksum(spark.createDataFrame(changed, schema)) != base
