"""v1 legacy operators without a v2 equivalent (SURVEY.md §2.3, §2.5):

- incident-outcome join (``v1/flattened_dataset.py:563-605``): for
  outcomes that can only happen once per entity (e.g. a diagnosis),
  drop prediction times after the outcome and flag whether the
  outcome falls inside the lookahead window — a vectorised join path,
  no group-agg needed (m:1 by construction).
- insufficient-look-distance filter (``v1/flattened_dataset.py:629-666``):
  drop prediction times whose lookbehind reaches before the first value
  timestamp or whose lookahead reaches past the last one.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import PredictionTimeFrame, TimestampValueFrame
from ..functions.timeutils import micros
from ..specs import timedelta_to_micros


def add_incident_outcome(
    predictiontime_frame: PredictionTimeFrame,
    outcome_frame: TimestampValueFrame,
    lookahead: dt.timedelta,
    output_col: str = "outc_incident",
    min_lookahead: dt.timedelta = dt.timedelta(0),
) -> DataFrame:
    """v1 incident-outcome semantics (``v1/flattened_dataset.py:563-605``),
    endpoint-exact:

    - pred rows strictly AFTER the entity's outcome timestamp are
      dropped (the patient already has the diagnosis; the reference's
      ``drop(outc < pred)`` at :585 KEEPS a prediction issued at the
      outcome instant);
    - ``output_col`` = 1 iff ``pred_ts + min <= outc_ts < pred_ts + max``
      (:588-596: ``outc < pred + max AND outc >= pred + min`` — lower
      endpoint inclusive, upper exclusive; in particular an outcome AT
      the prediction instant counts when ``min = 0``).
    """
    pred = predictiontime_frame
    out_df = F.broadcast(
        outcome_frame.df.select(
            F.col(outcome_frame.entity_id_col_name).alias("__outc_entity"),
            micros(F.col(outcome_frame.value_timestamp_col_name)).alias("__outc_micros"),
        )
    )

    pred_micros = micros(F.col(pred.timestamp_col_name))
    joined = pred.df.join(
        out_df, on=F.col(pred.entity_id_col_name) == F.col("__outc_entity"), how="left"
    ).filter(F.col("__outc_micros").isNull() | (pred_micros <= F.col("__outc_micros")))
    lo = F.lit(timedelta_to_micros(min_lookahead))
    hi = F.lit(timedelta_to_micros(lookahead))
    within = (
        F.col("__outc_micros").isNotNull()
        & (F.col("__outc_micros") - pred_micros >= lo)
        & (F.col("__outc_micros") - pred_micros < hi)
    )
    return joined.withColumn(output_col, within.cast("int")).drop(
        "__outc_entity", "__outc_micros"
    )


def filter_sufficient_lookdistance(
    predictiontime_frame: PredictionTimeFrame,
    value_df: DataFrame,
    value_ts_col: str,
    lookbehind: dt.timedelta | None = None,
    lookahead: dt.timedelta | None = None,
) -> DataFrame:
    """Drop prediction times whose window extends beyond the observed
    data range (``v1/flattened_dataset.py:629-666``). The global min/max
    scan reduces to one broadcastable row."""
    pred = predictiontime_frame
    bounds = value_df.agg(
        F.min(value_ts_col).alias("__lo"), F.max(value_ts_col).alias("__hi")
    )
    out = pred.df.crossJoin(F.broadcast(bounds))
    ts = F.col(pred.timestamp_col_name)
    if lookbehind is not None:
        out = out.filter(ts - F.expr(f"INTERVAL {timedelta_to_micros(lookbehind)} MICROSECOND") >= F.col("__lo"))
    if lookahead is not None:
        out = out.filter(ts + F.expr(f"INTERVAL {timedelta_to_micros(lookahead)} MICROSECOND") <= F.col("__hi"))
    return out.drop("__lo", "__hi")
