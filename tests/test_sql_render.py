"""SQL-text rendering of the fused aggregations.

- Differential oracle: the temporal flatten and the rollup kernel built
  from SQL text equal the former Column-API builders
  (``tests/sql_reference.py``) exactly — schema, NaN and the sign of
  zero included — over every aggregator and alias, every fallback kind,
  both boundaries and directions, with and without an order column.
- Driver cost: the number of py4j calls that builds a plan does not grow
  with the number of aggregates.
- The custom-aggregator contract: ``register_aggregator`` takes a SQL
  text renderer; a subclass without ``sql`` cannot be instantiated.
"""

from __future__ import annotations

import datetime as dt
import math
from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from timeseriesflattener_spark import (
    Aggregator,
    Flattener,
    OutcomeSpec,
    PredictionTimeFrame,
    PredictorSpec,
    ValueFrame,
    register_aggregator,
    strings_to_aggregators,
)
from timeseriesflattener_spark import aggregators as A
from timeseriesflattener_spark.operators.temporal import process_temporal_specs_fused
from timeseriesflattener_spark.plans import rollup as R
from timeseriesflattener_spark.sources.transcripts import (
    derive_channels,
    synthesize_transcripts,
)

from . import sql_reference as ref

CANONICAL = [
    "min", "max", "mean", "count", "unique_count", "unique_count_with_null",
    "sum", "var", "bool", "earliest", "latest", "slope",
]
ALIASES = ["has_values", "variance", "change_per_day", "mean"]
BOOL_OUTPUT = {"bool", "has_values"}
FALLBACKS = [None, 0, -1, 2**40, 0.5, 1e-300, math.nan, math.inf, -math.inf, -0.0, True, False]
DAY = dt.timedelta(days=1)
T0 = dt.datetime(2021, 1, 10)


def _same(a, b) -> bool:
    """Exact equality that tells NaN and the sign of zero apart."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return type(a) is type(b) and a == b


def _assert_frames_identical(got, want, n_keys: int, check_names: bool = True) -> None:
    if check_names:
        assert got.schema == want.schema
    else:
        assert [(f.dataType, f.nullable) for f in got.schema] == [
            (f.dataType, f.nullable) for f in want.schema
        ]
    _assert_rows_identical(got, want, n_keys)


def _assert_rows_identical(got, want, n_keys: int) -> None:
    """Same rows (sorted on the first ``n_keys`` columns), compared by
    position with :func:`_same`."""
    key = lambda r: repr(tuple(r)[:n_keys])  # noqa: E731
    got_rows = sorted((tuple(r) for r in got.collect()), key=key)
    want_rows = sorted((tuple(r) for r in want.collect()), key=key)
    assert len(got_rows) == len(want_rows)
    for g, w in zip(got_rows, want_rows):
        bad = [
            (got.columns[i], a, b) for i, (a, b) in enumerate(zip(g, w)) if not _same(a, b)
        ]
        assert not bad, bad[:5]


# ---------------------------------------------------------------- temporal

VALUE_SCHEMA = StructType(
    [
        StructField("entity_id", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("ord", LongType()),
        StructField("x", DoubleType()),
        StructField("k", LongType()),
    ]
)


def _value_rows():
    h = dt.timedelta(hours=1)
    rows = [
        # entity 1: values on both window edges, a tie broken by ord,
        # nulls, NaN and both zeros
        (1, T0 - 3 * DAY, 0, 4.0, 7),
        (1, T0 - 2 * DAY, 1, -0.0, 3),
        (1, T0 - DAY, 2, 2.5, 3),
        (1, T0 - DAY, 3, 0.0, None),
        (1, T0 - 12 * h, 4, None, 9),
        (1, T0 - 12 * h, 5, math.nan, -2),
        (1, T0, 6, -1.5, 5),
        (1, T0 + 12 * h, 7, 8.0, 5),
        (1, T0 + DAY, 8, -3.0, 1),
        (1, T0 + 2 * DAY, 9, 6.0, 2),
        (1, T0 + 2 * DAY + 12 * h, 10, 1e300, 4),
        # entity 2: only nulls inside the first day
        (2, T0 - 6 * h, 0, None, None),
        (2, T0 + DAY + 6 * h, 1, 3.0, 11),
    ]
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    values = spark.createDataFrame(_value_rows(), VALUE_SCHEMA)
    preds = spark.createDataFrame(
        [(1, T0), (1, T0 + DAY + dt.timedelta(hours=12)), (2, T0), (3, T0)],
        "entity_id long, pred_timestamp timestamp",
    )
    return values, PredictionTimeFrame(df=preds)


def _value_frame(values, order: bool):
    return ValueFrame(
        df=values, order_col_name="ord" if order else None, value_cols=["x", "k"]
    )


def _assert_fused_identical(specs, pred) -> None:
    _assert_frames_identical(
        process_temporal_specs_fused(specs, pred),
        ref.process_temporal_specs_fused(specs, pred),
        n_keys=1,
    )


def test_every_aggregator_and_fallback_matches_column_builders(frames):
    values, pred = frames
    vf = _value_frame(values, order=True)
    specs = []
    for i, fb in enumerate(FALLBACKS):
        numeric = isinstance(fb, (int, float)) and not isinstance(fb, bool)
        for j, names in enumerate((CANONICAL, ALIASES)):
            specs.append(
                PredictorSpec(
                    value_frame=vf,
                    lookbehind_distances=[2 * DAY],
                    aggregators=strings_to_aggregators(
                        [n for n in names if not (numeric and n in BOOL_OUTPUT)]
                    ),
                    fallback=fb,
                    column_prefix=f"p{i}_{j}",
                )
            )
    _assert_fused_identical(specs, pred)


@pytest.mark.parametrize("order", [False, True], ids=["no_order", "order"])
def test_boundaries_and_directions_match_column_builders(frames, order):
    values, pred = frames
    vf = _value_frame(values, order)
    aggs = strings_to_aggregators(CANONICAL)
    numeric_aggs = [a for a in aggs if a.output_type is not bool]
    lookdistances = [DAY, (DAY, 3 * DAY)]
    specs = []
    for boundary in ("v1", "v2"):
        specs.append(
            PredictorSpec(
                value_frame=vf, lookbehind_distances=lookdistances, aggregators=numeric_aggs,
                fallback=math.nan, column_prefix=f"pred_{boundary}", boundary=boundary,
            )
        )
        specs.append(
            OutcomeSpec(
                value_frame=vf, lookahead_distances=lookdistances, aggregators=aggs,
                fallback=True, column_prefix=f"outc_{boundary}", boundary=boundary,
            )
        )
    _assert_fused_identical(specs, pred)


ODD_NAMES = {"x": "a`b", "k": "a.b", "ord": "a b", "timestamp": "{t}"}


def test_value_column_names_are_quoted(spark, frames):
    """Backticks, dots, spaces and braces in column names: the SQL path
    on renamed columns equals the Column builders on plain names, and
    the flattener's final select keeps the names."""
    values, pred = frames
    odd = values.select(
        *[F.col(c).alias(ODD_NAMES.get(c, c)) for c in values.columns]
    )
    odd_vf = ValueFrame(
        df=odd, order_col_name="a b", value_timestamp_col_name="{t}", value_cols=["a`b", "a.b"]
    )

    def spec(vf):
        return PredictorSpec(
            value_frame=vf, lookbehind_distances=[2 * DAY],
            aggregators=strings_to_aggregators(CANONICAL), fallback=False,
        )

    got = process_temporal_specs_fused([spec(odd_vf)], pred)
    want = ref.process_temporal_specs_fused([spec(_value_frame(values, order=True))], pred)
    _assert_frames_identical(got, want, n_keys=1, check_names=False)
    assert got.columns[1] == "pred_a`b_within_0_to_2_days_min_fallback_False"

    flat = Flattener(predictiontime_frame=pred).aggregate_timeseries([spec(odd_vf)]).df
    assert flat.columns == [*pred.df.columns, *got.columns[1:]]
    # the assembly left join makes the features nullable; values are equal
    pred_only = [c for c in pred.df.columns if c != pred.prediction_time_uuid_col_name]
    _assert_rows_identical(flat.drop(*pred_only), got, n_keys=1)


# ------------------------------------------------------------------ rollup


@pytest.fixture(scope="module")
def channels(spark):
    t = synthesize_transcripts(spark, n_conversations=12, avg_turns=10, seed=3, span_days=2)
    ch = derive_channels(t).withColumn(
        # a non-integer channel with nulls
        "ratio",
        F.when(F.col("turn_idx") % 5 != 0, F.col("text_len") / F.lit(7.0) - F.lit(3.25)),
    )
    return ch.cache()


def _tier_chain(M, ch, salt):
    cols = ["text_len", "ratio"]
    p1m = M.partial_aggregate(ch, cols, tier="1m", salt_partitions=salt)
    p1h = M.rollup(p1m, cols, "1h")
    p1d = M.rollup(p1h, cols, "1d")
    return [p1m, p1h, p1d, M.finalize(p1h, cols), M.finalize(p1d, cols, include_bucket_ts=False)]


@pytest.mark.parametrize("variant", ["pmod"])  # the bucket floor: m - pmod(m, width)
@pytest.mark.parametrize("salt", [None, 3], ids=["unsalted", "salted"])
def test_rollup_kernel_matches_column_builders(channels, variant, salt):
    for got, want in zip(_tier_chain(R, channels, salt), _tier_chain(ref, channels, salt)):
        _assert_frames_identical(got, want, n_keys=2)


def test_rollup_kernel_quotes_column_names(channels):
    odd = channels.withColumnRenamed("text_len", "a.b`{c}").withColumnRenamed("ratio", "r s")
    cols = ["a.b`{c}", "r s"]
    p1h = R.rollup(R.partial_aggregate(odd, cols, tier="1m", salt_partitions=2), cols, "1h")
    got = R.finalize(p1h, cols)
    want = _tier_chain(ref, channels, 2)[3]
    _assert_frames_identical(got, want, n_keys=2, check_names=False)
    assert "a.b`{c}_mean" in got.columns


# ------------------------------------------------------------- driver cost


@contextmanager
def _py4j_calls(spark):
    """Counts py4j commands sent from this process while active, except
    memory commands: py4j sends the deletes of dropped proxies lazily,
    so they free objects of earlier builds."""
    client = spark.sparkContext._gateway._gateway_client
    count = [0]
    send = client.send_command

    def counting(command, *args, **kwargs):
        count[0] += not command.startswith("m\n")
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield count
    finally:
        del client.send_command


def _calls_to_build(spark, build) -> int:
    build()  # warm: first builds load classes and caches
    with _py4j_calls(spark) as n:
        build()
    return n[0]


def test_flatten_build_calls_do_not_grow_with_aggregates(spark, frames):
    values, pred = frames
    vf = _value_frame(values, order=True)
    small = PredictorSpec(
        value_frame=ValueFrame(df=values, value_cols=["x"]),
        lookbehind_distances=[DAY], aggregators=strings_to_aggregators(["mean"]), fallback=0,
    )
    large = PredictorSpec(
        value_frame=vf,
        lookbehind_distances=[DAY * (i + 1) for i in range(5)],
        aggregators=strings_to_aggregators(
            ["min", "max", "mean", "count", "sum", "var", "earliest", "slope"]
        ),
        fallback=math.nan,
    )
    flattener = Flattener(predictiontime_frame=pred)
    n_small = _calls_to_build(spark, lambda: flattener.aggregate_timeseries([small]))
    n_large = _calls_to_build(spark, lambda: flattener.aggregate_timeseries([large]))
    # 80 aggregates vs 1: the Column API paid ~40 calls per aggregate
    assert n_large - n_small < 40, (n_small, n_large)


def test_rollup_build_calls_do_not_grow_with_value_columns(spark, channels):
    def build(cols):
        p = R.partial_aggregate(channels, cols, tier="1m")
        return R.finalize(R.rollup(p, cols, "1h"), cols)

    n1 = _calls_to_build(spark, lambda: build(["text_len"]))
    n3 = _calls_to_build(spark, lambda: build(["text_len", "n_tokens", "ratio"]))
    # 3 x 12 partials, combines and 10 outputs vs 1 x: ~1,000 calls before
    assert n3 - n1 < 20, (n1, n3)


# ------------------------------------------------------- custom aggregator


class RangeAggregator(Aggregator):
    name = "range"
    output_type = float

    def sql(self, value: str, ts: str, order: str | None) -> str:
        return f"max({value}) - min({value})"


def test_custom_aggregator_through_sql_contract(frames):
    values, pred = frames
    register_aggregator("range", RangeAggregator())
    try:
        spec = PredictorSpec(
            value_frame=ValueFrame(df=values, value_cols=["k"]),
            lookbehind_distances=[2 * DAY],
            aggregators=strings_to_aggregators(["range"]),
            fallback=-1,
        )
        out = Flattener(predictiontime_frame=pred).aggregate_timeseries([spec]).to_pandas()
    finally:
        del A._REGISTRY["range"]
    col = "pred_k_within_0_to_2_days_range_fallback_-1"

    vals = pd.DataFrame(_value_rows(), columns=["entity_id", "timestamp", "ord", "x", "k"])
    expected = {}
    for r in pred.df.collect():
        ts = r["pred_timestamp"]
        w = vals[
            (vals.entity_id == r["entity_id"])
            & (vals.timestamp >= ts - 2 * DAY)
            & (vals.timestamp <= ts)
        ]["k"].dropna()
        expected[(r["entity_id"], ts)] = w.max() - w.min() if len(w) else -1
    got = {
        (e, t.to_pydatetime()): v for e, t, v in zip(out.entity_id, out.pred_timestamp, out[col])
    }
    assert got == expected
    assert len(set(expected.values())) > 1  # windows differ: not all fallback


def test_aggregator_without_sql_cannot_be_instantiated():
    class ColumnOnly(Aggregator):
        name = "column_only"
        output_type = float

        def expr(self, value, ts, order):
            return F.max(value)

    with pytest.raises(TypeError):
        ColumnOnly()
