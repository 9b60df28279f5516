"""Temporal flattening as ONE Catalyst plan per value frame.

Reference pipeline (``processors/temporal.py:218-241``) is
join -> mask -> per-lookperiod group-agg -> horizontal concat, executed
eagerly per (spec x lookperiod). Spark-first redesign:

- one **range-constrained left join** per value frame: the equi-key is
  ``entity_id`` and the union of all lookperiods is pushed into the
  join condition, so the m:n fan-out (reference
  ``processors/temporal.py:38-40``, the known scalability cliff per
  SURVEY.md §4.1) only materialises rows that can contribute to *some*
  window — out-of-range history is dropped inside the join, not after.
- all (lookperiod x aggregator x value-column) combinations become
  conditional aggregate expressions in a single
  ``SELECT uuid, … GROUP BY uuid`` — one shuffle, with map-side partial
  aggregation, instead of the reference's per-spec loop +
  multiprocessing Pool (``main.py:109-134``). The expressions are
  rendered as SQL text and parsed once (``functions.sqltext``): built
  through the Column API, each aggregate cost ~40 py4j round trips.
- the "mask, don't filter" trick (``processors/temporal.py:57-64``)
  becomes ``CASE WHEN <within> THEN col END`` *inside* each aggregate;
  pred times with no in-window rows survive via the left join's null
  row and get the fallback.

Column-name contract (part of the output equality surface, reference
``processors/temporal.py:85-97,122-131``):
``{prefix}_{col}_within_{a}_to_{b}_days_{agg}_fallback_{fallback}``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqltext
from ..functions.sqltext import ident
from ..functions.timeutils import micros

from ..frames import PredictionTimeFrame
from ..specs import LookPeriod, TemporalSpec, fallback_str

if TYPE_CHECKING:
    from ..aggregators import Aggregator

#: internal column holding time-from-prediction-to-value in microseconds
TIMEDELTA_COL = "__td_micros"


def feature_col_name(
    column_prefix: str, value_col: str, lookperiod: LookPeriod, aggregator: "Aggregator",
    fallback,
) -> str:
    return (
        f"{column_prefix}_{value_col}_within_{lookperiod.period_string()}"
        f"_{aggregator.name}_fallback_{fallback_str(fallback)}"
    )


def _within(
    lookperiod: LookPeriod, td: str, boundary: str = "v2", direction: str = "behind"
) -> str:
    """Window membership predicate (SQL text over the timedelta ``td``).

    ``boundary="v2"``: both ends inclusive (``processors/temporal.py:75-77``).
    ``boundary="v1"``: the endpoint nearest the prediction instant is
    EXCLUSIVE, matching the legacy engine's filter
    (``v1/flattened_dataset.py:266-273``):
    behind -> ``td >= -max AND td < -min``  (here: ``first <= td < last``),
    ahead  -> ``td > min AND td <= max``    (here: ``first < td <= last``).
    The reference compares float days (seconds/86400); integer-microsecond
    comparison is equivalent because the conversion is strictly monotonic
    and the period bounds are exact microseconds.
    """
    lo, hi = sqltext.lit(lookperiod.first_micros), sqltext.lit(lookperiod.last_micros)
    if boundary == "v1":
        if direction == "behind":
            return f"({td} >= {lo} AND {td} < {hi})"
        return f"({td} > {lo} AND {td} <= {hi})"
    return f"({td} >= {lo} AND {td} <= {hi})"


def build_agg_exprs(spec: TemporalSpec, td: str) -> list[str]:
    """One ``<aggregate> AS <feature name>`` SQL text per (lookperiod x
    aggregator x value col), in the reference's column order: lookperiod
    outer (``process_temporal_spec`` concat order), then aggregator, then
    value column (``processors/temporal.py:112-116``)."""
    vf = spec.value_frame
    ts = ident(vf.value_timestamp_col_name)
    order = ident(vf.order_col_name) if vf.order_col_name else None
    boundary = getattr(spec, "boundary", "v2")
    direction = getattr(spec, "direction", "behind")
    exprs: list[str] = []
    for lookperiod in spec.normalised_lookperiod:
        cond = _within(lookperiod, td, boundary, direction)
        masked_ts = f"CASE WHEN {cond} THEN {ts} END"
        masked = {c: f"CASE WHEN {cond} THEN {ident(c)} END" for c in vf.value_col_names}
        for aggregator in spec.aggregators:
            for value_col in vf.value_col_names:
                raw = aggregator.sql(masked[value_col], masked_ts, order)
                if not aggregator.never_null and spec.fallback is not None:
                    fb = spec.fallback
                    # bool fallback into a numeric aggregate casts to 0/1
                    # (polars fill_null semantics)
                    if isinstance(fb, bool) and aggregator.output_type is not bool:
                        fb = int(fb)
                    raw = f"coalesce({raw}, {sqltext.lit(fb)})"
                name = feature_col_name(
                    spec.column_prefix, value_col, lookperiod, aggregator, spec.fallback
                )
                exprs.append(f"{raw} AS {ident(name)}")
    return exprs


def max_lookdistance(spec: TemporalSpec) -> tuple[int, int]:
    """(min first, max last) over all lookperiods, in microseconds —
    the union range pushed into the join condition."""
    firsts = [lp.first_micros for lp in spec.normalised_lookperiod]
    lasts = [lp.last_micros for lp in spec.normalised_lookperiod]
    return min(firsts), max(lasts)


def process_temporal_spec(
    spec: TemporalSpec, predictiontime_frame: PredictionTimeFrame
) -> DataFrame:
    """Flatten one temporal spec -> DataFrame of (uuid, feature cols)."""
    return process_temporal_specs_fused([spec], predictiontime_frame)


def process_temporal_specs_fused(
    specs: Sequence[TemporalSpec],
    predictiontime_frame: PredictionTimeFrame,
    chunk: tuple[int, int] | None = None,
) -> DataFrame:
    """Flatten N temporal specs that share ONE value frame (same df
    object + id/ts/order column config) with a single range-constrained
    join and a single fused aggregation — group-spec workloads (hundreds
    of features over a few wide frames) pay one shuffle per FRAME, not
    one per spec. Callers group by frame identity (``Flattener``); specs
    may differ in direction, boundary, lookperiods, aggregators, and
    fallbacks, since every aggregate expression carries its own window
    predicate.

    The join condition carries the union ``[lo, hi]`` of all the specs'
    lookperiods (safe: rows outside every lookperiod aggregate to
    null/0 either way), unless an aggregator ``needs_full_history``
    (e.g. the polars n_unique compat ``unique_count_with_null``, whose
    null bucket comes from exactly the rows that range would prune).

    ``chunk = (start, step)`` (microseconds) is ``step_size`` chunking:
    a prediction time at ``p`` lies in the chunk starting at
    ``c = start + (p - start) div step * step``, and joins only the
    values in ``[c + lo, c + step + hi)`` — the chunk's reachable range
    that the reference pre-filters each chunk's values to. It applies
    also when the lookperiod range is not pushed, so it changes the
    output only of ``needs_full_history`` aggregators.
    """
    pred = predictiontime_frame
    vf = specs[0].value_frame

    pred_df = pred.df.select(
        F.col(ident(pred.prediction_time_uuid_col_name)),
        F.col(ident(pred.entity_id_col_name)),
        micros(F.col(ident(pred.timestamp_col_name))).alias("__pred_micros"),
    )
    value_cols = [vf.value_timestamp_col_name]
    for s in specs:
        for c in s.value_frame.value_col_names:
            if c not in value_cols:
                value_cols.append(c)
    if vf.order_col_name:
        value_cols.append(vf.order_col_name)
    value_df = vf.df.select(
        F.col(ident(vf.entity_id_col_name)).alias("__value_entity_id"),
        micros(F.col(ident(vf.value_timestamp_col_name))).alias("__value_micros"),
        *[F.col(ident(c)) for c in value_cols],
    )

    ranges = [max_lookdistance(s) for s in specs]
    lo, hi = min(r[0] for r in ranges), max(r[1] for r in ranges)
    td = F.col("__value_micros") - F.col("__pred_micros")
    join_cond = pred_df[ident(pred.entity_id_col_name)] == value_df["__value_entity_id"]
    if not any(getattr(a, "needs_full_history", False) for s in specs for a in s.aggregators):
        join_cond = join_cond & (td >= F.lit(lo)) & (td <= F.lit(hi))
    if chunk is not None:
        start, step = chunk
        chunk_lo = F.expr(f"({start}) + (__pred_micros - ({start})) div {step} * {step}")
        value = F.col("__value_micros")
        join_cond = (
            join_cond & (value >= chunk_lo + F.lit(lo)) & (value < chunk_lo + F.lit(step + hi))
        )

    joined = pred_df.join(value_df, on=join_cond, how="left").withColumn(TIMEDELTA_COL, td)

    uuid = ident(pred.prediction_time_uuid_col_name)
    exprs = [e for s in specs for e in build_agg_exprs(s, ident(TIMEDELTA_COL))]
    return sqltext.run(joined, sqltext.select([uuid, *exprs], group_by=[uuid]))
