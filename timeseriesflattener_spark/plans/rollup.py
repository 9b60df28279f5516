"""Continuous aggregates: bucketed partial aggregation, tier rollup,
finalisation, retention.

North-rule core (BASELINE.json): continuous aggregates materialised at
1m/1h/1d retention tiers over transcript channels, where coarse tiers
are **rolled up from the 1m partials — never recomputed from raw**
(SURVEY.md §7.0). That only works for algebraic aggregators, so the
partial-state schema per value column ``c`` is the classic moment/
extreme set (``PARTIAL_SUFFIXES``, in storage order):

    {c}__n      count of non-null values
    {c}__sum    Σy
    {c}__min    min y
    {c}__max    max y
    {c}__sumsq  Σy²           (variance via combine)
    {c}__sx     Σx, {c}__sxx  Σx², {c}__sxy  Σxy
                (x = whole days since epoch, truncated — the v2 slope
                 x-axis, reference ``aggregators.py:205-207``)
    {c}__earliest_ts / {c}__earliest_v
                min event micros of a non-null value, and that value
    {c}__latest_ts / {c}__latest_v
                max event micros of a non-null value, and that value

earliest/latest are ``min_by``/``max_by`` on the timestamp, composed
across tiers the same way, so the whole aggregation stays in
whole-stage-codegen HashAggregate. They are exact only when timestamps
are unique per (entity, bucket) — transcripts guarantee it (strictly
increasing ts per conv_id); on a tie the chosen value is unspecified.

Every reference aggregator except ``unique_count`` finalises exactly
from this state (mean=Σy/n, var=(Σy²-Σy²/n)/(n-1), slope=sample
covar/var ratio, bool=n>0). ``unique_count`` does NOT compose across
buckets; ``exact_unique_count`` computes it per-tier from raw
(documented limitation, SURVEY.md §7.3 rollup-correctness trap).

Skew: Spark's hash aggregate already does map-side partial aggregation,
which collapses each (conv_id, bucket) group to one row per map
partition before the shuffle — so a single hot conversation costs the
reducer at most ``n_partitions`` rows per bucket, not its raw row
count. ``salt_partitions`` adds an *explicit* two-stage salted
aggregation on top for the pathological case (one conversation x one
bucket dominating a mapper's hash table, forcing spills): stage one
groups on (entity, bucket, salt), stage two combines. The salt column
derives from ``order_col`` (or the timestamp) so it is deterministic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..functions.timeutils import micros

TIER_SECONDS: dict[str, int] = {"1m": 60, "1h": 3600, "1d": 86400}
#: rollup lineage: each tier is computed from the previous one
TIER_ORDER: list[str] = ["1m", "1h", "1d"]

MICROS_PER_DAY = 86_400_000_000

#: stored partial-state columns per value column c, as f"{c}__{suffix}"
PARTIAL_SUFFIXES: tuple[str, ...] = (
    "n", "sum", "min", "max", "sumsq", "sx", "sxx", "sxy",
    "earliest_ts", "earliest_v", "latest_ts", "latest_v",
)


def tier_micros(tier: str) -> int:
    return TIER_SECONDS[tier] * 1_000_000


#: bucket-floor formulation; "pmod" is the only correct one. Mutated
#: ONLY via set_floor_variant (the A/B bench harness) — the library
#: itself never reads the ambient environment, so a leaked shell var
#: can no longer silently switch a production job's bucketing.
_FLOOR_VARIANT = "pmod"


def set_floor_variant(variant: str) -> None:
    """Bench-harness seam for the pmod-vs-cast A/B: bench.py passes its
    ``TSF_BUCKET_FLOOR`` variable here; the measured A/B is recorded in
    BENCH.md §2a. "cast" is the
    pre-r3 truncating formulation, kept ONLY to keep the measured
    comparison reproducible — it mis-buckets pre-epoch timestamps, so
    selecting it warns loudly and must never reach a real job."""
    if variant not in ("pmod", "cast"):
        raise ValueError(f"unknown floor variant {variant!r}")
    global _FLOOR_VARIANT
    if variant == "cast":
        import warnings

        warnings.warn(
            "bucket floor variant 'cast' selected: KNOWN-INCORRECT for "
            "pre-epoch timestamps; A/B benchmarking only",
            stacklevel=2,
        )
    _FLOOR_VARIANT = variant


def floor_to_width(col: Column, width: int) -> Column:
    """Floor an integer micros column to a multiple of `width`.

    Exact integer arithmetic (`m - pmod(m, width)`): floors correctly for
    pre-1970 (negative) timestamps where `(m / width).cast("long")`
    truncates toward zero, and never routes through double precision.
    """
    if _FLOOR_VARIANT == "cast":  # pragma: no cover - bench A/B only
        return (col / F.lit(width)).cast("long") * F.lit(width)
    return col - F.pmod(col, F.lit(width))


def bucket_expr(ts_col: Column, tier: str) -> Column:
    """Floor the event time to its bucket start (micros since epoch)."""
    return floor_to_width(micros(ts_col), tier_micros(tier))


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
    """Raw events -> one partial-state row per (entity, bucket).

    ``order_col`` (or the timestamp when None) only seeds the
    deterministic salt of ``salt_partitions``; it does not enter the
    partial state."""
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
    """Re-bucket finer-tier partials into a coarser tier by combining —
    never touches raw data. Exact for every stat in the partial schema."""
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
    """Partial state -> the reference's aggregator outputs per bucket.

    Output columns per value col c: ``{c}_count, {c}_sum, {c}_min,
    {c}_max, {c}_mean, {c}_var, {c}_slope, {c}_earliest, {c}_latest,
    {c}_has_values`` — numerically equal to running the reference
    aggregators over the bucket's raw rows (see tests).
    """
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


def exact_unique_count(
    df: DataFrame,
    value_cols: Sequence[str],
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    tier: str = "1m",
) -> DataFrame:
    """Per-tier exact distinct counts, computed from raw — unique_count
    is NOT algebraic and cannot be rolled up from finer tiers
    (SURVEY.md §7.3). Kept out of the partial schema on purpose."""
    bucketed = df.withColumn("bucket_start", bucket_expr(F.col(ts_col), tier))
    exprs = [
        F.count_distinct(F.col(vc)).alias(f"{vc}_unique_count") for vc in value_cols
    ]
    return bucketed.groupBy(entity_col, "bucket_start").agg(*exprs)


def retention_filter(partials: DataFrame, cutoff_micros: int) -> DataFrame:
    """Keep only buckets at/after the cutoff — the delete step of a
    retention policy (fine tiers age out first; see plans.tiers)."""
    return partials.filter(F.col("bucket_start") >= F.lit(cutoff_micros))
