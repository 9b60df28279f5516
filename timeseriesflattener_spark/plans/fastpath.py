"""Aligned-window flattening from tier partials — the 10^12-row path.

The general flattener joins prediction times against raw values
(range-bounded, but still a raw-data join). When lookperiods align to
bucket boundaries — the dominant production case: "mean over the last
24 x 1h buckets", scheduled prediction times — the join can be skipped
entirely (SURVEY.md §2.3 temporal-join scale note, §7.3
join-avoidance): each (entity, bucket) PARTIAL row is exploded into the
k sliding windows it contributes to and combined per window. Cost is
k x |partials|, and |partials| is already 60-1440x smaller than raw;
raw data is never re-read.

Window semantics: output row (entity, window_end_bucket=t) aggregates
raw events in ``(t + w - k*w, t + w)`` — i.e. the k buckets ending at
and including bucket t. This equals the reference flattener with
``pred_ts = t + w - 1µs`` and lookbehind ``k*w - 1µs`` (closed window,
integer-microsecond timestamps) — asserted in tests.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import rollup as R


def flatten_aligned(
    partials: DataFrame,
    value_cols: Sequence[str],
    lookback_buckets: int,
    tier: str,
    entity_col: str = "conv_id",
) -> DataFrame:
    """Sliding window of ``lookback_buckets`` buckets over tier partials.

    Returns one row per (entity, window-end bucket) — only windows whose
    end bucket exists in the partials (i.e. prediction times anchored at
    observed activity; join a dense grid first for every-bucket output).
    """
    if lookback_buckets < 1:
        raise ValueError("lookback_buckets must be >= 1")
    w = R.tier_micros(tier)
    k = lookback_buckets

    # each partial bucket b contributes to windows ending at b..b+(k-1)w
    contributed = partials.withColumn(
        "__window_end",
        F.explode(
            F.sequence(
                F.col("bucket_start"),
                F.col("bucket_start") + F.lit((k - 1) * w),
                F.lit(w),
            )
        ),
    )
    combine = [F.expr(e) for vc in value_cols for e in R._combine_exprs(vc)]
    windows = (
        contributed.groupBy(entity_col, "__window_end")
        .agg(*combine)
        .withColumnRenamed("__window_end", "bucket_start")
    )
    # anchor: keep only windows whose end bucket actually exists
    anchors = partials.select(entity_col, "bucket_start")
    windows = windows.join(anchors, on=[entity_col, "bucket_start"], how="leftsemi")
    return R.finalize(windows, value_cols, entity_col=entity_col, include_bucket_ts=False)
