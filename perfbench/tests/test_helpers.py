"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from benchlib import plan_guard, stats  # noqa: E402
from benchlib.spans import Span, Tracer, self_time  # noqa: E402


# ------------------------------------------------------------ tail rule


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) is None
    value, pct, n = stats.tail([float(x) for x in range(11)])
    # 11 samples: the smallest is the only one with 10 samples above it
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(x) for x in range(100)]
    value, pct, n = stats.tail(xs)
    assert value == 89.0  # 90..99 are the ten samples beyond it
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(90.0)
    assert n == 100


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert stats.tail(xs)[0] == 1.0


# ------------------------------------------------------------ self time


def _span(sid, start, end, parent=None):
    return Span(sid=sid, name=f"s{sid}", op_id=0, parent=parent, start=start, end=end)


def test_self_time_with_overlapping_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0), _span(3, 8.0, 9.0, 0)]
    # children cover [1, 6] and [8, 9]: 6 of the 10 seconds
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 2.0, 5.0)
    assert self_time(parent, [_span(1, 0.0, 3.0, 0), _span(2, 4.5, 7.0, 0)]) == pytest.approx(1.5)
    assert self_time(parent, []) == pytest.approx(3.0)


def test_interval_union_merges_overlaps_and_clips():
    intervals = [(1.0, 2.0), (1.5, 3.0), (4.0, 4.5), (9.0, 12.0)]
    assert stats.interval_union(intervals, 0.0, 10.0) == pytest.approx(3.5)
    assert stats.interval_union([], 0.0, 10.0) == 0.0


def test_tracer_records_parents_and_is_a_noop_when_off():
    off = Tracer(enabled=False)
    with off.span("op", 0) as sp:
        assert sp is None
    assert off.spans == [] and off.overhead_s == 0.0
    on = Tracer(enabled=True)
    with on.span("op", 7):
        with on.span("child", 7):
            pass
    op, child = on.spans
    assert child.parent == op.sid and op.parent is None
    assert op.start <= child.start <= child.end <= op.end
    assert on.subtree(op) == [op, child]
    assert on.overhead_s > 0.0


# ------------------------------------------------------------ metric names


@pytest.mark.parametrize("name", ["setup_s", "op_s_p50", "tiers.materialize_s.1m", "a-b.c_9"])
def test_valid_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "op s", "op/s", "_lead", ".lead", "x" * 65, "é"])
def test_invalid_names(name):
    assert not stats.valid_name(name)


def test_benchmark_json_names_are_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert all(stats.valid_name(n) for n in names)
    assert len(set(names)) == len(names)


# ------------------------------------------------------------ pruning guard

_AQE_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   * HashAggregate (4)
   +- ShuffleQueryStage (3)
      +- Exchange (2)
         +- * Range (1)
+- == Initial Plan ==
   SortAggregate (8)
   +- Exchange (7)
      +- Window (6)
         +- Range (5)


(1) Range
Output [1]: [id#0L]

(2) Exchange
Input [1]: [id#0L]

(3) ShuffleQueryStage
Output [1]: [id#0L]

(4) HashAggregate [codegen id : 2]
Keys [1]: [id#0L]
Functions [3]: [sum(id#0L), min(id#0L), max(id#0L)]

(5) Range
Output [1]: [id#0L]

(6) Window
Input [1]: [id#0L]

(7) Exchange
Input [1]: [id#0L]

(8) SortAggregate
Keys [1]: [id#0L]
Functions [5]: [sum(id#0L), min(id#0L), max(id#0L), avg(id#0L), count(id#0L)]

(9) AdaptiveSparkPlan
Output [1]: [id#0L]
"""


def test_guard_reads_only_the_final_adaptive_plan():
    assert plan_guard.executed_ids(_AQE_PLAN) == {1, 2, 3, 4, 9}
    names = [n for n, _ in plan_guard.plan_sections(_AQE_PLAN)]
    assert "Window" not in names and "SortAggregate" not in names
    assert "HashAggregate" in names


def test_aggregate_functions_counts_the_executed_plan_only():
    from benchlib.spark_status import Execution

    assert plan_guard.aggregate_functions([Execution(0, _AQE_PLAN), Execution(1, _AQE_PLAN)]) == 6


# ------------------------------------------------------------ job-group attribution


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from timeseriesflattener_spark import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "1g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    from run import stop_spark

    stop_spark()


def test_jit_ticks_are_part_of_the_jvm_cpu(spark):
    from benchlib import host

    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    spark.range(200_000).selectExpr("sum(id * 2)").collect()
    # starting a JVM and running a query always compiles something
    assert 0 < host._jit_ticks_of(pid) <= host._cpu_ticks_of(pid)


def test_job_group_stage_attribution(spark):
    from pyspark.sql import functions as F

    from benchlib.spark_status import SparkStatus

    status = SparkStatus(spark)
    tracer = Tracer(spark.sparkContext, enabled=True, run_tag="t")
    df = spark.range(0, 20_000, 1, 4).withColumn("k", F.col("id") % 7)
    with tracer.span("op", 0) as op:
        with tracer.span("agg", 0) as agg:
            rows = df.groupBy("k").agg(F.sum("id").alias("s")).collect()
        spark.range(10).collect()  # a job of the parent span itself
    assert len(rows) == 7
    n_agg, agg_stages = status.stages_for_group(agg.group)
    n_op, op_stages = status.stages_for_group(op.group)
    assert n_agg >= 1 and n_op >= 1
    # the groupBy shuffles: at least a map stage and a reduce stage
    assert len(agg_stages) >= 2
    assert not {s.stage_id for s in agg_stages} & {s.stage_id for s in op_stages}
    for s in agg_stages:
        assert agg.start - 0.005 <= s.start <= s.end <= agg.end + 0.005
        assert s.run_s >= 0 and s.cpu_s >= 0
    assert any("Exchange" in s.operators for s in agg_stages)
    # outside any span, jobs carry no benchmark group
    spark.range(5).collect()
    assert status.stages_for_group("t-unused")[0] == 0
