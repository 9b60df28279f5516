"""Time-since-event feature (e.g. age). Reference ``processors/timedelta.py:23-52``.

Parity traps honoured:

- the delta is truncated to WHOLE days first (polars ``.dt.total_days()``,
  reference ``processors/timedelta.py:40-43``) and only then divided by
  the unit divisor — a 366-day delta in years is 366/365.25 =
  1.002053388090349 (reference ``processors/temporal_test.py:257-261``),
  not the fractional-day value.
- <=1 row per entity is enforced (reference ``specs/timedelta.py:36-42``)
  — here as a distributed check at flatten time.

Spark-first: the single event per entity is broadcast and left-joined
straight onto the prediction frame on the entity (no uuid round trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..functions.timeutils import micros

from ..specs import MICROS_PER_DAY, TIME_FORMAT_DIVISORS, TimeDeltaSpec, fallback_str
from .static import broadcast_entity_join


def timedelta_feature_name(spec: TimeDeltaSpec) -> str:
    return (
        f"{spec.column_prefix}_{spec.output_name}_{spec.time_format}"
        f"_fallback_{fallback_str(spec.fallback)}"
    )


def validate_one_row_per_entity(spec: TimeDeltaSpec) -> None:
    """Reference ``specs/timedelta.py:36-42`` — eager uniqueness check."""
    ent = spec.init_frame.entity_id_col_name
    row = (
        spec.init_frame.df.groupBy(ent)
        .count()
        .agg(F.max("count").alias("max_count"))
        .first()
    )
    max_count = row["max_count"] if row else 0
    if max_count is not None and max_count > 1:
        raise ValueError(
            f"Expected only one value per {ent} in the TimestampValueFrame, "
            f"but found up to {max_count}."
        )


def join_timedelta_spec(
    df: DataFrame, spec: TimeDeltaSpec, entity_col: str, timestamp_col: str
) -> DataFrame:
    """``df`` plus the ``timedelta_feature_name`` column: the time from
    the entity's event to ``df``'s ``timestamp_col``."""
    validate_one_row_per_entity(spec)

    tf = spec.init_frame
    joined = broadcast_entity_join(
        df,
        tf.df,
        tf.entity_id_col_name,
        entity_col,
        F.col(tf.value_timestamp_col_name).alias("__event_time"),
    )

    # truncate-toward-zero to whole days, then unit-convert (parity with
    # polars total_days(); long-cast of a double truncates toward zero).
    whole_days = (
        (micros(F.col(timestamp_col)) - micros(F.col("__event_time"))) / F.lit(MICROS_PER_DAY)
    ).cast("long")
    value = whole_days.cast("double") / F.lit(float(TIME_FORMAT_DIVISORS[spec.time_format]))
    if spec.fallback is not None:
        value = F.coalesce(value, F.lit(spec.fallback).cast("double"))

    return joined.withColumn(timedelta_feature_name(spec), value).drop("__event_time")
