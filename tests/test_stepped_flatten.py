"""``step_size`` flattening: one plan for every step size, value for
value equal to the per-chunk union it replaced (``stepped_reference``).

Values are small multiples of 0.25, so every sum and mean is exact in
any addition order and the two plans can be compared bit for bit."""

from __future__ import annotations

import datetime as dt
import math
import random

import pandas as pd
import pytest
from pyspark.sql.types import StructField, StructType

from timeseriesflattener_spark import (
    Flattener,
    OutcomeSpec,
    PredictionTimeFrame,
    PredictorSpec,
    StaticFrame,
    StaticSpec,
    TimeDeltaSpec,
    TimestampValueFrame,
    ValueFrame,
    strings_to_aggregators,
)
from timeseriesflattener_spark.operators.timedelta import timedelta_feature_name
from timeseriesflattener_spark.testing import jobs_started

from .stepped_reference import stepped_reference

NAN = math.nan
BASE = dt.datetime(2021, 3, 1)


def _local(spark, rows: list[tuple], schema: str):
    """A frame over ``rows`` that Spark plans as a local relation, so the
    per-chunk reference stays cheap to scan."""
    names = [field.split()[0] for field in schema.split(", ")]
    pdf = pd.DataFrame(rows, columns=names)
    for name in names:
        if "timestamp" in name:
            pdf[name] = pd.to_datetime(pdf[name])
    return spark.createDataFrame(pdf, schema)


def _ts(rng: random.Random, lo_days: int, hi_days: int) -> dt.datetime:
    """Half on whole days (so chunk edges and window edges coincide with
    rows), half at an odd minute."""
    day = BASE + dt.timedelta(days=rng.randint(lo_days, hi_days))
    return day if rng.random() < 0.5 else day + dt.timedelta(minutes=rng.randint(1, 1439))


@pytest.fixture(scope="module")
def frames(spark):
    rng = random.Random(7)
    preds = sorted({(rng.randint(1, 5), _ts(rng, 0, 36)) for _ in range(40)})
    preds.append((3, None))  # no chunk holds it: dropped when stepped
    pred = _local(spark, preds, "entity_id long, pred_timestamp timestamp")

    def value(p_null: float):
        return None if rng.random() < p_null else rng.randint(-8, 8) * 0.25

    ordered = []
    for i in range(120):
        ts = _ts(rng, -25, 50)
        ordered.append((rng.randint(1, 6), ts, i % 3, value(0.15), value(0.1)))
        if rng.random() < 0.2:  # a tie on ts, broken by the order column
            ordered.append((ordered[-1][0], ts, i % 3 + 1, value(0.15), value(0.1)))
    ordered += [(1, None, 0, 1.0, 2.0), (2, None, 1, None, 3.0)]
    ordered_df = _local(
        spark,
        ordered,
        "entity_id long, timestamp timestamp, ord int, x double, y double",
    )
    # distinct timestamps: earliest/latest without an order column break
    # ties arbitrarily
    plain = [
        (rng.randint(1, 6), BASE + dt.timedelta(days=-40, minutes=97 * i), value(0.2))
        for i in range(1500)
        if rng.random() < 0.06
    ]
    plain.append((4, None, 1.5))
    plain_df = _local(spark, plain, "entity_id long, timestamp timestamp, z double")
    plain_df_2 = plain_df.withColumnRenamed("z", "u")  # a second frame over the same rows
    static_df = _local(spark, [(e, e % 2) for e in range(1, 5)], "entity_id long, sex long")
    birth_df = _local(
        spark,
        [(e, dt.datetime(1950 + 7 * e, 1 + e, 3)) for e in range(1, 5)],
        "entity_id long, timestamp timestamp",
    )
    return pred, ordered_df, plain_df, plain_df_2, static_df, birth_df


def _specs(frames, order: bool = True):
    """unique_count_with_null with other specs on the ordered frame (no
    range pushdown there) and alone on ``plain_df``; v1 and v2, behind
    and ahead, point and interval lookperiods; static and timedelta."""
    _, ordered_df, plain_df, plain_df_2, static_df, birth_df = frames
    order_col = "ord" if order else None
    # ordered_df has timestamp ties, which only the order column breaks
    by_ts = ["latest", "earliest"] if order else []
    return [
        PredictorSpec(
            value_frame=ValueFrame(df=ordered_df, order_col_name=order_col, value_cols=["x"]),
            lookbehind_distances=[dt.timedelta(days=7), (dt.timedelta(days=2), dt.timedelta(days=20))],
            aggregators=strings_to_aggregators(
                ["mean", "max", "count", *by_ts, "unique_count_with_null"]
            ),
            fallback=NAN,
        ),
        OutcomeSpec(
            value_frame=ValueFrame(df=ordered_df, order_col_name=order_col, value_cols=["y"]),
            lookahead_distances=[dt.timedelta(days=5), (dt.timedelta(days=1), dt.timedelta(days=12))],
            aggregators=strings_to_aggregators(["sum", "min", *by_ts[1:], "unique_count"]),
            fallback=-1,
            boundary="v1",
        ),
        PredictorSpec(
            value_frame=ValueFrame(df=plain_df),
            lookbehind_distances=[(dt.timedelta(days=1), dt.timedelta(days=10))],
            aggregators=strings_to_aggregators(["unique_count_with_null"]),
            fallback=0,
            boundary="v1",
            column_prefix="pred_alone",
        ),
        PredictorSpec(
            value_frame=ValueFrame(df=plain_df_2),
            lookbehind_distances=[dt.timedelta(days=30)],
            aggregators=strings_to_aggregators(["latest", "mean", "sum"]),
            fallback=-0.0,
            column_prefix="pred_plain",
        ),
        OutcomeSpec(
            value_frame=ValueFrame(df=plain_df.withColumnRenamed("z", "w")),
            lookahead_distances=[(dt.timedelta(days=3), dt.timedelta(days=14))],
            aggregators=strings_to_aggregators(["count", "max", "earliest"]),
            fallback=NAN,
        ),
        StaticSpec(
            value_frame=StaticFrame(df=static_df), column_prefix="pred", fallback=0
        ),
        TimeDeltaSpec(
            init_frame=TimestampValueFrame(df=birth_df),
            fallback=NAN,
            output_name="age",
            time_format="years",
        ),
    ]


def _rows(df) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of ``repr`` — exact, NaN-aware, and telling
    ``-0.0`` from ``0.0``."""
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def _assert_identical(got, want, specs=()) -> None:
    """``want`` built by the per-chunk reference from ``specs``. There a
    ``TimeDeltaSpec`` feature with a non-null fallback is nullable only
    through the uuid outer join of its side frame; coalesced on the
    prediction frame it is non-nullable, and is expected so."""
    coalesced = {
        timedelta_feature_name(s)
        for s in specs
        if isinstance(s, TimeDeltaSpec) and s.fallback is not None
    }
    schema = StructType(
        [
            StructField(f.name, f.dataType, f.nullable and f.name not in coalesced, f.metadata)
            for f in want.schema
        ]
    )
    assert got.schema == schema  # names, types, nullability
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize("order", [True, False], ids=["order_col", "no_order_col"])
@pytest.mark.parametrize("step_days", [3, 8, 1000])
def test_stepped_flatten_equals_per_chunk_reference(spark, frames, step_days, order):
    specs = _specs(frames, order)
    fl = Flattener(predictiontime_frame=PredictionTimeFrame(df=frames[0]))
    step = dt.timedelta(days=step_days)
    got = fl.aggregate_timeseries(specs, step_size=step).df
    _assert_identical(got, stepped_reference(fl, specs, step), specs)
    if step_days == 3:
        # the chunk reaches the output: unique_count_with_null counts
        # the null bucket of rows outside every window but inside the chunk
        assert _rows(got) != _rows(
            fl.aggregate_timeseries(specs, step_size=dt.timedelta(days=1000)).df
        )


def test_stepped_flatten_at_an_odd_step_and_pre_epoch_start(spark):
    """A step that is no whole number of days, over prediction times
    before 1970 (negative microseconds). Entity 2's chunk ends 3 hours
    after its prediction time, so it drops the 1970-01-20 value that
    the unstepped plan joins into unique_count_with_null's null bucket."""
    pred = _local(
        spark,
        [(1, dt.datetime(1969, 12, 20, 5)), (1, dt.datetime(1969, 12, 31, 23)), (2, dt.datetime(1970, 1, 2))],
        "entity_id long, pred_timestamp timestamp",
    )
    values = _local(
        spark,
        [
            (1, dt.datetime(1969, 12, 10) + dt.timedelta(hours=13 * i), float(i % 4 - 1) if i % 5 else None)
            for i in range(50)
        ]
        + [(2, dt.datetime(1969, 12, 30), 1.0), (2, dt.datetime(1970, 1, 1), 2.0), (2, dt.datetime(1970, 1, 20), 3.0)],
        "entity_id long, timestamp timestamp, value double",
    )
    specs = [
        PredictorSpec(
            value_frame=ValueFrame(df=values),
            lookbehind_distances=[dt.timedelta(days=3)],
            aggregators=strings_to_aggregators(["unique_count_with_null", "sum"]),
            fallback=0,
        )
    ]
    fl = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred))
    step = dt.timedelta(hours=31, microseconds=7)
    got = fl.aggregate_timeseries(specs, step_size=step).df
    _assert_identical(got, stepped_reference(fl, specs, step), specs)
    assert _rows(got) != _rows(fl.aggregate_timeseries(specs).df)


@pytest.mark.parametrize("rows", [[], [(1, None), (2, None)]], ids=["empty", "all_null_ts"])
def test_no_prediction_timestamp_uses_the_unstepped_plan(spark, frames, rows):
    pred = _local(spark, rows, "entity_id long, pred_timestamp timestamp")
    specs = _specs(frames)
    fl = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred))
    step = dt.timedelta(days=3)
    got = fl.aggregate_timeseries(specs, step_size=step).df
    _assert_identical(got, stepped_reference(fl, specs, step), specs)
    _assert_identical(got, fl.aggregate_timeseries(specs).df)


@pytest.mark.parametrize("step", [dt.timedelta(days=-1), dt.timedelta(0)], ids=["negative", "zero"])
def test_non_positive_step_size_is_rejected_before_any_job(spark, step):
    pred = _local(spark, [(1, BASE), (2, BASE)], "entity_id long, pred_timestamp timestamp")
    values = _local(spark, [(1, BASE, 1.0)], "entity_id long, timestamp timestamp, v double")
    spec = PredictorSpec(
        value_frame=ValueFrame(df=values),
        lookbehind_distances=[dt.timedelta(days=1)],
        aggregators=strings_to_aggregators(["count"]),
        fallback=0,
    )
    fl = Flattener(
        predictiontime_frame=PredictionTimeFrame(df=pred), validate_unique_prediction_times=True
    )

    def build():
        with pytest.raises(ValueError, match="step_size must be positive"):
            fl.aggregate_timeseries([spec], step_size=step)

    _, jobs = jobs_started(spark, build)
    assert jobs == []


def _shape(df) -> tuple[int, int]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("Join"), plan.count("Aggregate")


def test_stepped_plan_and_jobs_do_not_grow_with_the_chunk_count(spark, frames):
    """49 days of prediction times: 2 chunks at a 25-day step, 50 at a
    1-day step. Both build the unstepped plan's joins and aggregates,
    and start the same Spark jobs (the TimeDeltaSpec check runs once,
    not once per chunk)."""
    pred = _local(
        spark,
        [(1 + d % 4, BASE + dt.timedelta(days=d)) for d in range(50)],
        "entity_id long, pred_timestamp timestamp",
    )
    specs = _specs(frames)
    fl = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred))
    unstepped = _shape(fl.aggregate_timeseries(specs).df)
    built = {
        days: jobs_started(spark, lambda d=days: fl.aggregate_timeseries(specs, step_size=dt.timedelta(days=d)).df)
        for days in (25, 1)
    }
    for df, _ in built.values():
        assert _shape(df) == unstepped
    assert len(built[25][1]) == len(built[1][1])
