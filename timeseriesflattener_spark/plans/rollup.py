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

Every partial, combine and finalize aggregation is rendered as SQL text
and built with one ``spark.sql`` parse (``functions.sqltext``); the
streaming window sink and the rolling fast path take the same texts
through ``F.expr``.

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

from ..functions import sqltext
from ..functions.sqltext import ident
from ..functions.timeutils import micros
from ..specs import MICROS_PER_DAY

TIER_SECONDS: dict[str, int] = {"1m": 60, "1h": 3600, "1d": 86400}
#: rollup lineage: each tier is computed from the previous one
TIER_ORDER: list[str] = ["1m", "1h", "1d"]

#: stored partial-state columns per value column c, as f"{c}__{suffix}"
PARTIAL_SUFFIXES: tuple[str, ...] = (
    "n", "sum", "min", "max", "sumsq", "sx", "sxx", "sxy",
    "earliest_ts", "earliest_v", "latest_ts", "latest_v",
)


def tier_micros(tier: str) -> int:
    return TIER_SECONDS[tier] * 1_000_000


def floor_to_width(col: Column, width: int) -> Column:
    """Floor an integer micros column to a multiple of `width`.

    Exact integer arithmetic (`m - pmod(m, width)`): floors correctly for
    pre-1970 (negative) timestamps where `(m / width).cast("long")`
    truncates toward zero, and never routes through double precision.
    """
    return col - F.pmod(col, F.lit(width))


def floor_sql(col: str, width: int) -> str:
    """SQL-text twin of :func:`floor_to_width`."""
    return f"({col} - pmod({col}, {width}))"


def bucket_expr(ts_col: Column, tier: str) -> Column:
    """Floor the event time to its bucket start (micros since epoch)."""
    return floor_to_width(micros(ts_col), tier_micros(tier))


def _pcol(value_col: str, suffix: str) -> str:
    return f"{value_col}__{suffix}"


def _partial_exprs(value_col: str, ts: str) -> list[str]:
    """``<aggregate> AS <partial column>`` texts of one value column over
    raw rows; ``ts`` is the SQL text of the event timestamp."""
    y = f"CAST({ident(value_col)} AS DOUBLE)"
    m = sqltext.micros(ts)
    # v2 slope x-axis: whole days since epoch, truncated toward zero
    x = f"CASE WHEN {y} IS NOT NULL THEN CAST(CAST({m} / {MICROS_PER_DAY} AS BIGINT) AS DOUBLE) END"
    tsm = f"CASE WHEN {y} IS NOT NULL THEN {m} END"
    aggs = (
        f"count({y})", f"sum({y})", f"min({y})", f"max({y})", f"sum({y} * {y})",
        f"sum({x})", f"sum({x} * {x})", f"sum({x} * {y})",
        f"min({tsm})", f"min_by({y}, {tsm})", f"max({tsm})", f"max_by({y}, {tsm})",
    )
    return [f"{a} AS {ident(_pcol(value_col, k))}" for a, k in zip(aggs, PARTIAL_SUFFIXES)]


def _combine_exprs(value_col: str) -> list[str]:
    """``<aggregate> AS <partial column>`` texts combining partial rows."""
    c = {k: ident(_pcol(value_col, k)) for k in PARTIAL_SUFFIXES}
    aggs = (
        f"sum({c['n']})", f"sum({c['sum']})", f"min({c['min']})", f"max({c['max']})",
        f"sum({c['sumsq']})", f"sum({c['sx']})", f"sum({c['sxx']})", f"sum({c['sxy']})",
        f"min({c['earliest_ts']})", f"min_by({c['earliest_v']}, {c['earliest_ts']})",
        f"max({c['latest_ts']})", f"max_by({c['latest_v']}, {c['latest_ts']})",
    )
    return [f"{a} AS {c[k]}" for a, k in zip(aggs, PARTIAL_SUFFIXES)]


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
    ent, ts = ident(entity_col), ident(ts_col)
    keys = [ent, "bucket_start"]
    exprs = [e for vc in value_cols for e in _partial_exprs(vc, ts)]
    bucketed = [
        ent,
        f"{floor_sql(sqltext.micros(ts), tier_micros(tier))} AS bucket_start",
        *[ident(c) for c in dict.fromkeys([ts_col, *value_cols]) if c != entity_col],
    ]

    if salt_partitions and salt_partitions > 1:
        salt_src = ident(order_col) if order_col else sqltext.micros(ts)
        bucketed.append(f"pmod(hash({salt_src}), {salt_partitions}) AS __salt")
        stage1 = sqltext.select(
            [*keys, "__salt", *exprs], f"({sqltext.select(bucketed)})", [*keys, "__salt"]
        )
        combine = [e for vc in value_cols for e in _combine_exprs(vc)]
        return sqltext.run(df, sqltext.select([*keys, *combine], f"({stage1})", keys))

    return sqltext.run(df, sqltext.select([*keys, *exprs], f"({sqltext.select(bucketed)})", keys))


def rollup(
    partials: DataFrame,
    value_cols: Sequence[str],
    to_tier: str,
    entity_col: str = "conv_id",
) -> DataFrame:
    """Re-bucket finer-tier partials into a coarser tier by combining —
    never touches raw data. Exact for every stat in the partial schema.

    The coarser bucket is computed in a subquery that projects only the
    entity, the bucket and the partial columns: grouping by the alias
    ``bucket_start`` in one SELECT would bind the *input* column."""
    ent = ident(entity_col)
    coarser = [
        ent,
        f"{floor_sql('bucket_start', tier_micros(to_tier))} AS bucket_start",
        *[ident(_pcol(vc, k)) for vc in value_cols for k in PARTIAL_SUFFIXES],
    ]
    combine = [e for vc in value_cols for e in _combine_exprs(vc)]
    keys = [ent, "bucket_start"]
    return sqltext.run(
        partials, sqltext.select([*keys, *combine], f"({sqltext.select(coarser)})", keys)
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
    out = [ident(entity_col), "bucket_start"]
    if include_bucket_ts:
        out.append("timestamp_micros(bucket_start) AS bucket_ts")
    for vc in value_cols:
        p = {k: ident(_pcol(vc, k)) for k in PARTIAL_SUFFIXES}
        n, s, sx = p["n"], p["sum"], p["sx"]
        var_x = f"({p['sxx']} - {sx} * {sx} / {n})"
        outputs = {
            "count": n,
            "sum": s,
            "min": p["min"],
            "max": p["max"],
            "mean": f"CASE WHEN {n} > 0 THEN {s} / {n} END",
            "var": f"CASE WHEN {n} > 1 THEN ({p['sumsq']} - {s} * {s} / {n}) / ({n} - 1) END",
            "slope": (
                f"CASE WHEN ({n} > 1) AND ({var_x} != 0) "
                f"THEN ({p['sxy']} - {sx} * {s} / {n}) / {var_x} END"
            ),
            "earliest": p["earliest_v"],
            "latest": p["latest_v"],
            "has_values": f"{n} > 0",
        }
        out += [f"{text} AS {ident(f'{vc}_{k}')}" for k, text in outputs.items()]
    return sqltext.run(partials, sqltext.select(out))


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
