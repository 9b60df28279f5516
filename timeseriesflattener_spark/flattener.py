"""``Flattener`` — the reference's main entry point
(``Flattener.aggregate_timeseries``, ``main.py:92-175``) re-expressed
as one lazy Catalyst plan.

Differences from the reference (deliberate):

- no multiprocessing Pool / progress bars: the reference parallelises
  across specs with worker processes (``main.py:109-134``); Spark
  parallelises across *partitions* within a single plan. ``n_workers``
  is accepted and ignored for API compatibility.
- no positional horizontal concat (``utils.py:21-28``): static and
  time-delta features are per-entity lookups, broadcast-joined straight
  onto the prediction frame on the entity; that frame is then the root
  of a left join, on the prediction-time uuid, with each fused temporal
  aggregation. The aggregations are shuffled by the uuid, so the
  multi-way join is co-partitioned — no extra exchange after the first.
- ``step_size`` (``processors/temporal.py:244-285``) exists in the
  reference to bound *memory*; Spark already streams partitions, so it
  is kept for output parity only. Stepped and unstepped flattens build
  the same plan: each prediction time's chunk becomes one more
  predicate of the fused temporal join, which keeps only the values in
  the chunk's reachable range — the reference's chunk pre-filter
  (``processors/temporal.py:174-215``), evaluated per row.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from dataclasses import dataclass, replace
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frames import PredictionTimeFrame
from .functions import sqltext
from .functions.sqltext import ident
from .functions.timeutils import micros
from .operators.static import join_static_spec, static_feature_name
from .operators.temporal import (
    feature_col_name,
    process_temporal_specs_fused,
)
from .operators.timedelta import join_timedelta_spec, timedelta_feature_name
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
    specs: Sequence[ValueSpecification],
    pred: PredictionTimeFrame,
    chunk: tuple[int, int] | None = None,
) -> list[DataFrame]:
    """One uuid-keyed DataFrame per fused temporal group, in order of
    first appearance: temporal specs sharing a value frame (see
    ``_frame_key``) collapse into ONE join + ONE fused aggregation
    (``process_temporal_specs_fused``) — group-spec workloads pay a
    shuffle per frame, not per spec. ``chunk`` is the ``step_size``
    chunking as ``(start, step)`` microseconds, passed to every group."""
    groups: dict[tuple, list[TemporalSpec]] = {}
    for spec in specs:
        if isinstance(spec, (PredictorSpec, OutcomeSpec, BooleanOutcomeSpec)):
            groups.setdefault(_frame_key(spec), []).append(spec)
    return [process_temporal_specs_fused(group, pred, chunk) for group in groups.values()]


def _join_entity_specs(
    specs: Sequence[ValueSpecification], pred: PredictionTimeFrame
) -> DataFrame:
    """``pred.df`` with the static and time-delta features of ``specs``:
    per-entity lookups, each a broadcast left join on the entity."""
    df = pred.df
    for spec in specs:
        if isinstance(spec, StaticSpec):
            df = join_static_spec(df, spec, pred.entity_id_col_name)
        elif isinstance(spec, TimeDeltaSpec):
            df = join_timedelta_spec(
                df, spec, pred.entity_id_col_name, pred.timestamp_col_name
            )
        elif not isinstance(spec, (PredictorSpec, OutcomeSpec, BooleanOutcomeSpec)):
            raise TypeError(f"Unknown spec type {type(spec)}")
    return df


def _chunked(
    pred: PredictionTimeFrame, step_size: dt.timedelta
) -> tuple[PredictionTimeFrame, tuple[int, int] | None]:
    """``step_size`` chunking (reference ``processors/temporal.py:244-285``):
    chunk ``i`` holds the prediction times in ``[start + i * step,
    start + (i + 1) * step)``, ``start`` the earliest one. Returns the
    prediction times without null timestamps (no chunk holds them) and
    ``(start, step)`` in microseconds, or ``pred`` unchanged and
    ``None`` when no prediction time has a timestamp. Costs one job."""
    ts = F.col(ident(pred.timestamp_col_name))
    start = pred.df.agg(F.min(micros(ts))).first()[0]
    if start is None:
        return pred, None
    return (
        replace(pred, df=pred.df.filter(ts.isNotNull())),
        (start, step_size // dt.timedelta(microseconds=1)),
    )


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
        if step_size is not None and step_size <= dt.timedelta(0):
            raise ValueError(f"step_size must be positive, got {step_size!r}")
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

        chunk = None
        if step_size is not None:
            pred, chunk = _chunked(pred, step_size)
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
        out = reduce(
            lambda acc, f: acc.join(f, on=pred.prediction_time_uuid_col_name, how="left"),
            _build_feature_dfs(specs, pred, chunk),
            _join_entity_specs(specs, pred),
        )
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
