"""Column-API aggregate builders: the differential reference for the
SQL-text renderers in ``timeseriesflattener_spark``.

These are the builders the library used before it rendered aggregate
expressions as SQL text — every built-in aggregator's ``expr``, the
temporal ``build_agg_exprs`` with its window mask, the fused temporal
aggregation, and the rollup ``_partial_exprs``/``_combine_exprs``/
``finalize`` kernel — kept here unchanged so the tests can compare the
text path against them value for value.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseriesflattener_spark.frames import PredictionTimeFrame
from timeseriesflattener_spark.functions.timeutils import micros
from timeseriesflattener_spark.operators.temporal import (
    TIMEDELTA_COL,
    feature_col_name,
    max_lookdistance,
)
from timeseriesflattener_spark.plans.rollup import (
    MICROS_PER_DAY,
    bucket_expr,
    floor_to_width,
    tier_micros,
)
from timeseriesflattener_spark.specs import LookPeriod, TemporalSpec

# ------------------------------------------------------------ aggregators


def _ordered_struct(value: Column, ts: Column, order: Column | None) -> Column:
    """Struct whose natural ordering is (ts, order?, value), null when the
    value is null — so struct-min/max picks the earliest/latest non-null
    value deterministically without a sort or a window function."""
    fields = [ts.alias("ts")]
    if order is not None:
        fields.append(order.alias("ord"))
    fields.append(value.alias("value"))
    return F.when(value.isNotNull() & ts.isNotNull(), F.struct(*fields))


def _unique_count_with_null(value: Column, ts: Column, order: Column | None) -> Column:
    has_null = F.max(F.when(value.isNull(), 1).otherwise(0))
    # count(*) == 0 can't happen: the left join always yields >= 1 row
    return F.count_distinct(value) + F.coalesce(has_null, F.lit(1))


def _earliest(value: Column, ts: Column, order: Column | None) -> Column:
    if order is None:
        return F.min_by(value, F.when(value.isNotNull(), ts))
    return F.min(_ordered_struct(value, ts, order)).getField("value")


def _latest(value: Column, ts: Column, order: Column | None) -> Column:
    if order is None:
        return F.max_by(value, F.when(value.isNotNull(), ts))
    return F.max(_ordered_struct(value, ts, order)).getField("value")


def _slope(value: Column, ts: Column, order: Column | None) -> Column:
    # truncate-toward-zero division matches polars' total_days()
    x = (micros(ts) / F.lit(86_400_000_000)).cast("long").cast("double")
    y = value.cast("double")
    # regr_slope does pairwise deletion: rows where either side is
    # null (out-of-window) are ignored, like polars corr over the
    # masked frame.
    x = F.when(y.isNotNull(), x)
    return F.regr_slope(y, x)


#: the former ``Aggregator.expr`` of each built-in, by class name
AGGREGATOR_EXPRS = {
    "MinAggregator": lambda value, ts, order: F.min(value),
    "MaxAggregator": lambda value, ts, order: F.max(value),
    "MeanAggregator": lambda value, ts, order: F.avg(value),
    "CountAggregator": lambda value, ts, order: F.count(value),
    "UniqueCountAggregator": lambda value, ts, order: F.count_distinct(value),
    "UniqueCountNullsAggregator": _unique_count_with_null,
    "SumAggregator": lambda value, ts, order: F.sum(value),
    "VarianceAggregator": lambda value, ts, order: F.var_samp(value),
    "HasValuesAggregator": lambda value, ts, order: F.count(value) > F.lit(0),
    "EarliestAggregator": _earliest,
    "LatestAggregator": _latest,
    "SlopeAggregator": _slope,
}


# --------------------------------------------------------------- temporal


def _within(
    lookperiod: LookPeriod, td: Column, boundary: str = "v2", direction: str = "behind"
) -> Column:
    lo, hi = F.lit(lookperiod.first_micros), F.lit(lookperiod.last_micros)
    if boundary == "v1":
        if direction == "behind":
            return (td >= lo) & (td < hi)
        return (td > lo) & (td <= hi)
    return (td >= lo) & (td <= hi)


def build_agg_exprs(spec: TemporalSpec, td: Column) -> list[Column]:
    vf = spec.value_frame
    ts = F.col(vf.value_timestamp_col_name)
    order = F.col(vf.order_col_name) if vf.order_col_name else None
    boundary = getattr(spec, "boundary", "v2")
    direction = getattr(spec, "direction", "behind")
    exprs: list[Column] = []
    for lookperiod in spec.normalised_lookperiod:
        cond = _within(lookperiod, td, boundary, direction)
        masked_ts = F.when(cond, ts)
        for aggregator in spec.aggregators:
            for value_col in vf.value_col_names:
                masked_v = F.when(cond, F.col(value_col))
                raw = AGGREGATOR_EXPRS[type(aggregator).__name__](masked_v, masked_ts, order)
                if not aggregator.never_null and spec.fallback is not None:
                    fb = spec.fallback
                    # bool fallback into a numeric aggregate casts to 0/1
                    # (polars fill_null semantics)
                    if isinstance(fb, bool) and aggregator.output_type is not bool:
                        fb = int(fb)
                    raw = F.coalesce(raw, F.lit(fb))
                name = feature_col_name(
                    spec.column_prefix, value_col, lookperiod, aggregator, spec.fallback
                )
                exprs.append(raw.alias(name))
    return exprs


def process_temporal_specs_fused(
    specs: Sequence[TemporalSpec],
    predictiontime_frame: PredictionTimeFrame,
    push_range_into_join: bool = True,
) -> DataFrame:
    if any(
        getattr(a, "needs_full_history", False) for s in specs for a in s.aggregators
    ):
        push_range_into_join = False
    pred = predictiontime_frame
    vf = specs[0].value_frame

    pred_df = pred.df.select(
        F.col(pred.prediction_time_uuid_col_name),
        F.col(pred.entity_id_col_name),
        micros(F.col(pred.timestamp_col_name)).alias("__pred_micros"),
    )
    value_cols = [vf.value_timestamp_col_name]
    for s in specs:
        for c in s.value_frame.value_col_names:
            if c not in value_cols:
                value_cols.append(c)
    if vf.order_col_name:
        value_cols.append(vf.order_col_name)
    value_df = vf.df.select(
        F.col(vf.entity_id_col_name).alias("__value_entity_id"),
        micros(F.col(vf.value_timestamp_col_name)).alias("__value_micros"),
        *[F.col(c) for c in value_cols],
    )

    td = F.col("__value_micros") - F.col("__pred_micros")
    join_cond = pred_df[pred.entity_id_col_name] == value_df["__value_entity_id"]
    if push_range_into_join:
        ranges = [max_lookdistance(s) for s in specs]
        lo, hi = min(r[0] for r in ranges), max(r[1] for r in ranges)
        join_cond = join_cond & (td >= F.lit(lo)) & (td <= F.lit(hi))

    joined = pred_df.join(value_df, on=join_cond, how="left").withColumn(TIMEDELTA_COL, td)

    exprs = [e for s in specs for e in build_agg_exprs(s, F.col(TIMEDELTA_COL))]
    return joined.groupBy(pred.prediction_time_uuid_col_name).agg(*exprs)


# ----------------------------------------------------------------- rollup


def _pcol(value_col: str, suffix: str) -> str:
    return f"{value_col}__{suffix}"


def _partial_exprs(value_col: str, ts: Column) -> list[Column]:
    y = F.col(value_col).cast("double")
    # v2 slope x-axis: whole days since epoch, truncated toward zero
    x = (micros(ts) / F.lit(MICROS_PER_DAY)).cast("long").cast("double")
    x = F.when(y.isNotNull(), x)
    tsm = F.when(y.isNotNull(), micros(ts))
    return [
        F.count(y).alias(_pcol(value_col, "n")),
        F.sum(y).alias(_pcol(value_col, "sum")),
        F.min(y).alias(_pcol(value_col, "min")),
        F.max(y).alias(_pcol(value_col, "max")),
        F.sum(y * y).alias(_pcol(value_col, "sumsq")),
        F.sum(x).alias(_pcol(value_col, "sx")),
        F.sum(x * x).alias(_pcol(value_col, "sxx")),
        F.sum(x * y).alias(_pcol(value_col, "sxy")),
        F.min(tsm).alias(_pcol(value_col, "earliest_ts")),
        F.min_by(y, tsm).alias(_pcol(value_col, "earliest_v")),
        F.max(tsm).alias(_pcol(value_col, "latest_ts")),
        F.max_by(y, tsm).alias(_pcol(value_col, "latest_v")),
    ]


def _combine_exprs(value_col: str) -> list[Column]:
    c = lambda s: F.col(_pcol(value_col, s))  # noqa: E731
    return [
        F.sum(c("n")).alias(_pcol(value_col, "n")),
        F.sum(c("sum")).alias(_pcol(value_col, "sum")),
        F.min(c("min")).alias(_pcol(value_col, "min")),
        F.max(c("max")).alias(_pcol(value_col, "max")),
        F.sum(c("sumsq")).alias(_pcol(value_col, "sumsq")),
        F.sum(c("sx")).alias(_pcol(value_col, "sx")),
        F.sum(c("sxx")).alias(_pcol(value_col, "sxx")),
        F.sum(c("sxy")).alias(_pcol(value_col, "sxy")),
        F.min(c("earliest_ts")).alias(_pcol(value_col, "earliest_ts")),
        F.min_by(c("earliest_v"), c("earliest_ts")).alias(_pcol(value_col, "earliest_v")),
        F.max(c("latest_ts")).alias(_pcol(value_col, "latest_ts")),
        F.max_by(c("latest_v"), c("latest_ts")).alias(_pcol(value_col, "latest_v")),
    ]


def partial_aggregate(
    df: DataFrame,
    value_cols: Sequence[str],
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    order_col: str | None = "turn_idx",
    tier: str = "1m",
    salt_partitions: int | None = None,
) -> DataFrame:
    ts = F.col(ts_col)
    bucketed = df.withColumn("bucket_start", bucket_expr(ts, tier))
    exprs = [e for vc in value_cols for e in _partial_exprs(vc, ts)]

    if salt_partitions and salt_partitions > 1:
        salt_src = F.col(order_col) if order_col else micros(ts)
        bucketed = bucketed.withColumn(
            "__salt", F.pmod(F.hash(salt_src), F.lit(salt_partitions))
        )
        stage1 = bucketed.groupBy(entity_col, "bucket_start", "__salt").agg(*exprs)
        combine = [e for vc in value_cols for e in _combine_exprs(vc)]
        return stage1.groupBy(entity_col, "bucket_start").agg(*combine)

    return bucketed.groupBy(entity_col, "bucket_start").agg(*exprs)


def rollup(
    partials: DataFrame,
    value_cols: Sequence[str],
    to_tier: str,
    entity_col: str = "conv_id",
) -> DataFrame:
    coarser = floor_to_width(F.col("bucket_start"), tier_micros(to_tier))
    combine = [e for vc in value_cols for e in _combine_exprs(vc)]
    return (
        partials.withColumn("bucket_start", coarser)
        .groupBy(entity_col, "bucket_start")
        .agg(*combine)
    )


def finalize(
    partials: DataFrame,
    value_cols: Sequence[str],
    entity_col: str = "conv_id",
    include_bucket_ts: bool = True,
) -> DataFrame:
    out: list[Column] = [F.col(entity_col), F.col("bucket_start")]
    if include_bucket_ts:
        out.append(F.timestamp_micros(F.col("bucket_start")).alias("bucket_ts"))
    for vc in value_cols:
        n = F.col(_pcol(vc, "n"))
        s = F.col(_pcol(vc, "sum"))
        sumsq = F.col(_pcol(vc, "sumsq"))
        sx, sxx, sxy = (F.col(_pcol(vc, k)) for k in ("sx", "sxx", "sxy"))
        var_x = sxx - sx * sx / n
        out += [
            n.alias(f"{vc}_count"),
            s.alias(f"{vc}_sum"),
            F.col(_pcol(vc, "min")).alias(f"{vc}_min"),
            F.col(_pcol(vc, "max")).alias(f"{vc}_max"),
            F.when(n > 0, s / n).alias(f"{vc}_mean"),
            F.when(n > 1, (sumsq - s * s / n) / (n - F.lit(1))).alias(f"{vc}_var"),
            F.when((n > 1) & (var_x != 0), (sxy - sx * s / n) / var_x).alias(f"{vc}_slope"),
            F.col(_pcol(vc, "earliest_v")).alias(f"{vc}_earliest"),
            F.col(_pcol(vc, "latest_v")).alias(f"{vc}_latest"),
            (n > 0).alias(f"{vc}_has_values"),
        ]
    return partials.select(*out)
