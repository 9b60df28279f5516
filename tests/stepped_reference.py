"""The per-chunk ``step_size`` path: the differential reference for the
stepped flatten in ``timeseriesflattener_spark.flattener``.

This is how ``Flattener.aggregate_timeseries(specs, step_size)`` worked
before the chunk became a predicate of the fused temporal join: one full
flatten plan per chunk of prediction times, each over value frames
pre-filtered to the chunk's reachable range, unioned vertically. It is
kept here unchanged so the tests can compare the one-plan path against
it value for value. The static and time-delta side frames (keyed by the
prediction-time uuid) and the per-spec frame builder are kept here too,
as they were then, so the reference does not share the flattener's
assembly.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriesflattener_spark.flattener import (
    Flattener,
    _frame_key,
    _spec_feature_names,
)
from timeseriesflattener_spark.frames import PredictionTimeFrame, ValueFrame
from timeseriesflattener_spark.functions import sqltext
from timeseriesflattener_spark.functions.sqltext import ident
from timeseriesflattener_spark.functions.timeutils import micros
from timeseriesflattener_spark.operators.static import static_feature_name
from timeseriesflattener_spark.operators.temporal import (
    max_lookdistance,
    process_temporal_specs_fused,
)
from timeseriesflattener_spark.operators.timedelta import (
    timedelta_feature_name,
    validate_one_row_per_entity,
)
from timeseriesflattener_spark.specs import (
    MICROS_PER_DAY,
    TIME_FORMAT_DIVISORS,
    BooleanOutcomeSpec,
    OutcomeSpec,
    PredictorSpec,
    StaticSpec,
    TemporalSpec,
    TimeDeltaSpec,
    ValueSpecification,
)


def process_static_spec(
    spec: StaticSpec, predictiontime_frame: PredictionTimeFrame, broadcast: bool = True
) -> DataFrame:
    pred = predictiontime_frame
    static_df = spec.value_frame.df
    if broadcast:
        static_df = F.broadcast(static_df)
    renamed = [
        F.col(c).alias(static_feature_name(spec, c)) for c in spec.value_frame.value_col_names
    ]
    return (
        pred.df.select(pred.prediction_time_uuid_col_name, pred.entity_id_col_name)
        .join(
            static_df.withColumnRenamed(spec.value_frame.entity_id_col_name, "__static_entity"),
            on=F.col(pred.entity_id_col_name) == F.col("__static_entity"),
            how="left",
        )
        .select(F.col(pred.prediction_time_uuid_col_name), *renamed)
    )


def process_timedelta_spec(
    spec: TimeDeltaSpec, predictiontime_frame: PredictionTimeFrame
) -> DataFrame:
    validate_one_row_per_entity(spec)

    pred = predictiontime_frame
    event_df = F.broadcast(
        spec.init_frame.df.select(
            F.col(spec.init_frame.entity_id_col_name).alias("__event_entity"),
            F.col(spec.init_frame.value_timestamp_col_name).alias("__event_time"),
        )
    )

    # truncate-toward-zero to whole days, then unit-convert (parity with
    # polars total_days(); long-cast of a double truncates toward zero).
    whole_days = (
        (
            micros(F.col(pred.timestamp_col_name)) - micros(F.col("__event_time"))
        )
        / F.lit(MICROS_PER_DAY)
    ).cast("long")
    value = whole_days.cast("double") / F.lit(float(TIME_FORMAT_DIVISORS[spec.time_format]))
    if spec.fallback is not None:
        value = F.coalesce(value, F.lit(spec.fallback).cast("double"))

    return (
        pred.df.select(
            pred.prediction_time_uuid_col_name, pred.entity_id_col_name, pred.timestamp_col_name
        )
        .join(event_df, on=F.col(pred.entity_id_col_name) == F.col("__event_entity"), how="left")
        .select(
            F.col(pred.prediction_time_uuid_col_name),
            value.alias(timedelta_feature_name(spec)),
        )
    )


def _process_one(spec: ValueSpecification, pred: PredictionTimeFrame) -> DataFrame:
    if isinstance(spec, StaticSpec):
        return process_static_spec(spec, pred)
    if isinstance(spec, TimeDeltaSpec):
        return process_timedelta_spec(spec, pred)
    raise TypeError(f"Unknown spec type {type(spec)}")


def _build_feature_dfs(
    specs: Sequence[ValueSpecification],
    pred: PredictionTimeFrame,
    chunk: tuple[int, int] | None = None,
) -> list[DataFrame]:
    """One DataFrame per spec-or-fused-group: temporal specs sharing a
    value frame (see ``_frame_key``) collapse into ONE join + ONE fused
    aggregation (``process_temporal_specs_fused``) — group-spec
    workloads pay a shuffle per frame, not per spec. ``chunk`` is the
    ``step_size`` chunking as ``(start, step)`` microseconds, passed to
    every temporal group."""
    groups: dict[tuple, list[TemporalSpec]] = {}
    for spec in specs:
        if isinstance(spec, (PredictorSpec, OutcomeSpec, BooleanOutcomeSpec)):
            groups.setdefault(_frame_key(spec), []).append(spec)
    emitted: set[tuple] = set()
    feature_dfs: list[DataFrame] = []
    for spec in specs:
        if isinstance(spec, (PredictorSpec, OutcomeSpec, BooleanOutcomeSpec)):
            key = _frame_key(spec)
            if key in emitted:
                continue
            emitted.add(key)
            feature_dfs.append(process_temporal_specs_fused(groups[key], pred, chunk))
        else:
            feature_dfs.append(_process_one(spec, pred))
    return feature_dfs


def _filtered_with_range(
    spec: TemporalSpec, lo: dt.datetime, hi: dt.datetime, first: int, last: int
) -> TemporalSpec:
    lo_bound = lo + dt.timedelta(microseconds=first)
    hi_bound = hi + dt.timedelta(microseconds=last)
    vf = spec.value_frame
    ts = F.col(vf.value_timestamp_col_name)
    filtered = vf.df.filter((ts >= F.lit(lo_bound)) & (ts < F.lit(hi_bound)))
    new_vf = ValueFrame(
        df=filtered,
        entity_id_col_name=vf.entity_id_col_name,
        value_timestamp_col_name=vf.value_timestamp_col_name,
        order_col_name=vf.order_col_name,
        value_cols=list(vf.value_col_names),
    )
    clone = object.__new__(type(spec))
    clone.__dict__ = {**spec.__dict__, "value_frame": new_vf}
    return clone


def _chunk_filtered_specs(
    specs: Sequence[ValueSpecification], lo: dt.datetime, hi: dt.datetime
) -> list[ValueSpecification]:
    """Per-chunk spec clones whose value frames are pre-filtered to the
    chunk's reachable range. Specs sharing a frame (``_frame_key``) get
    ONE shared filtered df — filtered to the UNION of their lookdistance
    ranges (safe: the window predicate re-masks per spec) — so the
    chunk's specs still fuse into one join + one aggregation in
    ``_build_feature_dfs``; a per-spec clone would break frame identity
    and silently unfuse the chunked path."""
    ranges: dict[tuple, tuple[int, int]] = {}
    for spec in specs:
        if isinstance(spec, (PredictorSpec, OutcomeSpec, BooleanOutcomeSpec)):
            key = _frame_key(spec)
            first, last = max_lookdistance(spec)
            if key in ranges:
                f0, l0 = ranges[key]
                ranges[key] = (min(f0, first), max(l0, last))
            else:
                ranges[key] = (first, last)
    shared_frames: dict[tuple, ValueFrame] = {}
    out: list[ValueSpecification] = []
    for spec in specs:
        if not isinstance(spec, (PredictorSpec, OutcomeSpec, BooleanOutcomeSpec)):
            out.append(spec)
            continue
        key = _frame_key(spec)
        first, last = ranges[key]
        clone = _filtered_with_range(spec, lo, hi, first, last)
        if key in shared_frames:
            # re-point at the group's one filtered frame object, but keep
            # this spec's own value-column subset
            base = shared_frames[key]
            clone.value_frame = ValueFrame(
                df=base.df,
                entity_id_col_name=base.entity_id_col_name,
                value_timestamp_col_name=base.value_timestamp_col_name,
                order_col_name=base.order_col_name,
                value_cols=list(spec.value_frame.value_col_names),
            )
        else:
            shared_frames[key] = clone.value_frame
        out.append(clone)
    return out


def _aggregate_stepped(
    self: Flattener, specs: Sequence[ValueSpecification], step_size: dt.timedelta
) -> DataFrame:
    """Chunked evaluation with the reference's slicing semantics
    (``processors/temporal.py:244-285``); output is the vertical
    union of per-chunk results."""
    pred = self.predictiontime_frame
    ts_col = pred.timestamp_col_name
    bounds = pred.df.agg(
        F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
    ).first()
    if bounds is None or bounds["lo"] is None:
        return self.aggregate_timeseries(specs, step_size=None).df
    start, end = bounds["lo"], bounds["hi"]
    n = int((end - start) / step_size)
    edges = [start + step_size * i for i in range(n + 2)]

    chunk_outs: list[DataFrame] = []
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        chunk_pred_df = pred.df.filter(
            (F.col(ts_col) >= F.lit(lo)) & (F.col(ts_col) < F.lit(hi))
        )
        chunk_pred = PredictionTimeFrame(
            df=chunk_pred_df,
            entity_id_col_name=pred.entity_id_col_name,
            timestamp_col_name=ts_col,
            prediction_time_uuid_col_name=pred.prediction_time_uuid_col_name,
        )
        chunk_specs = _chunk_filtered_specs(specs, lo, hi)
        feature_dfs = _build_feature_dfs(chunk_specs, chunk_pred)
        chunk_outs.append(
            reduce(
                lambda acc, f: acc.join(
                    f, on=pred.prediction_time_uuid_col_name, how="left"
                ),
                feature_dfs,
                chunk_pred.df,
            )
        )
    return reduce(lambda a, b: a.unionByName(b), chunk_outs)


def stepped_reference(
    flattener: Flattener, specs: Sequence[ValueSpecification], step_size: dt.timedelta
) -> DataFrame:
    """The chunked flatten with the flattener's spec-order select."""
    pred = flattener.predictiontime_frame
    out = _aggregate_stepped(flattener, specs, step_size)
    ordered = [
        *pred.df.columns,
        *[name for spec in specs for name in _spec_feature_names(spec)],
    ]
    return sqltext.run(out, sqltext.select([ident(c) for c in ordered]))
