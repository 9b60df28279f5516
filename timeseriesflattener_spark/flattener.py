"""``Flattener`` — the reference's main entry point
(``Flattener.aggregate_timeseries``, ``main.py:92-175``) re-expressed
as one lazy Catalyst plan.

Differences from the reference (deliberate):

- no multiprocessing Pool / progress bars: the reference parallelises
  across specs with worker processes (``main.py:109-134``); Spark
  parallelises across *partitions* within a single plan. ``n_workers``
  is accepted and ignored for API compatibility.
- no positional horizontal concat (``utils.py:21-28``): processed spec
  frames are joined on the prediction-time uuid. All temporal aggs are
  shuffled by the same key, so the multi-way join is co-partitioned —
  no extra exchange after the first.
- ``step_size`` (``processors/temporal.py:244-285``) exists in the
  reference to bound *memory*; Spark already streams partitions, so the
  chunked path here is for output parity: the vertical union of
  per-chunk plans, with the same chunk pre-filter semantics
  (``processors/temporal.py:174-215``).
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from dataclasses import dataclass
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frames import PredictionTimeFrame, ValueFrame
from .functions import sqltext
from .functions.sqltext import ident
from .operators.static import process_static_spec, static_feature_name
from .operators.temporal import (
    feature_col_name,
    max_lookdistance,
    process_temporal_spec,
    process_temporal_specs_fused,
)
from .operators.timedelta import process_timedelta_spec, timedelta_feature_name
from .specs import (
    BooleanOutcomeSpec,
    OutcomeSpec,
    PredictorSpec,
    StaticSpec,
    TemporalSpec,
    TimeDeltaSpec,
    ValueSpecification,
    spec_value_col_names,
)


class SpecError(Exception):
    """Reference ``main.py:31-33`` — conflicting or invalid specs."""


def _validate_specs(
    specs: Sequence[ValueSpecification], predictiontime_frame: PredictionTimeFrame
) -> None:
    """Reference ``main.py:37-89``: duplicate output value-column names
    across specs + required-column presence."""
    errors: list[str] = []
    counts = Counter(name for spec in specs for name in spec_value_col_names(spec))
    for name, n in counts.items():
        if n > 1:
            errors.append(
                f"The value column '{name}' is specified in {n} specs. All value column "
                "names must be unique to avoid conflicts in the output."
            )
    for spec in specs:
        frame = spec.init_frame if isinstance(spec, TimeDeltaSpec) else spec.value_frame
        for col in predictiontime_frame.required_columns():
            if col not in frame.df.columns:
                errors.append(
                    f"['{col}'] is missing in the {spec_value_col_names(spec)} specification."
                )
    if errors:
        raise SpecError("Conflicting specs." + "".join(f"  \n - {e}" for e in errors))


@dataclass
class AggregatedFrame:
    """Final wide frame: pred-time columns + one column per feature."""

    df: DataFrame
    entity_id_col_name: str
    prediction_time_uuid_col_name: str
    timestamp_col_name: str

    def collect(self) -> DataFrame:
        return self.df

    def to_pandas(self):
        return self.df.toPandas()


def _process_one(spec: ValueSpecification, pred: PredictionTimeFrame) -> DataFrame:
    if isinstance(spec, (PredictorSpec, OutcomeSpec, BooleanOutcomeSpec)):
        return process_temporal_spec(spec, pred)
    if isinstance(spec, StaticSpec):
        return process_static_spec(spec, pred)
    if isinstance(spec, TimeDeltaSpec):
        return process_timedelta_spec(spec, pred)
    raise TypeError(f"Unknown spec type {type(spec)}")


def _spec_feature_names(spec: ValueSpecification) -> list[str]:
    """Output feature column names of a spec, in its processor's order."""
    if isinstance(spec, (PredictorSpec, OutcomeSpec, BooleanOutcomeSpec)):
        return [
            feature_col_name(spec.column_prefix, col, lp, agg, spec.fallback)
            for lp in spec.normalised_lookperiod
            for agg in spec.aggregators
            for col in spec.value_frame.value_col_names
        ]
    if isinstance(spec, StaticSpec):
        return [static_feature_name(spec, c) for c in spec.value_frame.value_col_names]
    if isinstance(spec, TimeDeltaSpec):
        return [timedelta_feature_name(spec)]
    raise TypeError(f"Unknown spec type {type(spec)}")


def _frame_key(spec: TemporalSpec) -> tuple:
    """Fusion identity: temporal specs over the SAME df object with the
    same id/ts/order column config compute from one scan and one join."""
    vf = spec.value_frame
    return (
        id(vf.df),
        vf.entity_id_col_name,
        vf.value_timestamp_col_name,
        vf.order_col_name,
    )


def _build_feature_dfs(
    specs: Sequence[ValueSpecification], pred: PredictionTimeFrame
) -> list[DataFrame]:
    """One DataFrame per spec-or-fused-group: temporal specs sharing a
    value frame (see ``_frame_key``) collapse into ONE join + ONE fused
    aggregation (``process_temporal_specs_fused``) — group-spec
    workloads pay a shuffle per frame, not per spec."""
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
            feature_dfs.append(process_temporal_specs_fused(groups[key], pred))
        else:
            feature_dfs.append(_process_one(spec, pred))
    return feature_dfs


def _filtered_temporal_spec(spec: TemporalSpec, lo: dt.datetime, hi: dt.datetime) -> TemporalSpec:
    """Chunk pre-filter on the value frame — reference
    ``processors/temporal.py:174-215``: lookbehind keeps values in
    ``[chunk_start - lookdistance, chunk_end)``, lookahead
    ``[chunk_start, chunk_end + lookdistance)``."""
    first, last = max_lookdistance(spec)
    return _filtered_with_range(spec, lo, hi, first, last)


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


@dataclass
class Flattener:
    predictiontime_frame: PredictionTimeFrame
    n_workers: int | None = None  # accepted for reference API compat; Spark ignores it
    #: assert prediction_time_uuid uniqueness before aggregating. The
    #: reference assumes it implicitly (positional concat misaligns on
    #: duplicates, ``v1/flattened_ds_validator.py:27-32`` rejects dup
    #: (entity, ts)); here duplicates would fan out the assembly join.
    #: Costs one extra aggregation job — opt-in.
    validate_unique_prediction_times: bool = False

    def aggregate_timeseries(
        self, specs: Sequence[ValueSpecification], step_size: dt.timedelta | None = None
    ) -> AggregatedFrame:
        _validate_specs(specs, self.predictiontime_frame)
        pred = self.predictiontime_frame
        if self.validate_unique_prediction_times:
            uuid_col = pred.prediction_time_uuid_col_name
            dup = (
                pred.df.groupBy(uuid_col)
                .count()
                .filter(F.col("count") > 1)
                .select(uuid_col)
                .first()
            )
            if dup is not None:
                raise SpecError(
                    f"Duplicate prediction times: uuid {dup[0]!r} occurs more than "
                    "once. Deduplicate the prediction-time frame first."
                )

        if step_size is None:
            # (r8 measured note: a join-free fast path — single shared
            # value frame => carry pred columns through the fused
            # aggregation as group keys and skip this assembly join —
            # was built, A/B-measured, and REVERTED: grouping the hot
            # fan-out aggregation by the full pred column set lost 50%
            # on the 96-feature featwidth leg (1.9s vs 1.3s), and even
            # the narrow (entity, ts) key variant with a post-agg uuid
            # reprojection stayed behind (1.54s vs 1.04s; headline
            # flattens were a wash within noise). The assembly join is
            # cheap — the features side reuses its aggregation
            # partitioning, so it only adds a sort over ~|pred| rows —
            # while any group-key widening taxes every fan-out row.)
            feature_dfs = _build_feature_dfs(specs, pred)
            out = reduce(
                lambda acc, f: acc.join(f, on=pred.prediction_time_uuid_col_name, how="left"),
                feature_dfs,
                pred.df,
            )
        else:
            out = self._aggregate_stepped(specs, step_size)
        # spec-order column contract regardless of fusion grouping, as
        # one parsed select (quoted: feature names may contain dots,
        # e.g. fallback_-1.0)
        ordered = [
            *pred.df.columns,
            *[name for spec in specs for name in _spec_feature_names(spec)],
        ]
        out = sqltext.run(out, sqltext.select([ident(c) for c in ordered]))

        return AggregatedFrame(
            df=out,
            entity_id_col_name=pred.entity_id_col_name,
            prediction_time_uuid_col_name=pred.prediction_time_uuid_col_name,
            timestamp_col_name=pred.timestamp_col_name,
        )

    def _aggregate_stepped(
        self, specs: Sequence[ValueSpecification], step_size: dt.timedelta
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
