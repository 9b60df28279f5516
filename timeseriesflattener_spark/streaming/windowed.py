"""Native Structured-Streaming windowed aggregation with watermarks —
the idiomatic `readStream -> withWatermark -> window() groupBy ->
writeStream` shape for the 1m/1h/1d tiers, complementing the
foreachBatch merge path (``incremental.py``):

- **merge path** (default): state lives in the TierStore; arbitrarily
  late data re-opens (tier, day) units; exactly-once via ledgered batch
  ids. Best when late data is unbounded (backfills).
- **watermark path** (this module): state lives in the streaming state
  store; windows FINALISE once the event-time watermark passes them, so
  downstream readers get append-only, never-revised buckets, and state
  is bounded by the watermark delay. Best for serving freshness with a
  bounded lateness contract; data later than the watermark is DROPPED
  (by design — that is the contract).

Run one with ``streaming.start_stream(..., transform=lambda s:
windowed_partials(s, ...), sink=out_path)``: the path sink is
append-mode parquet, so each watermark-finalised window lands in it
exactly once and can be served or rolled up without revision handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import ident

TIER_WINDOW = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def windowed_partials(
    stream_df: DataFrame,
    value_cols: list[str],
    tier: str = "1m",
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    full_stats: bool = False,
) -> DataFrame:
    """Watermarked per-(entity, tier-window) partial stats over a
    streaming DataFrame. Grouping uses ``F.window`` on the watermarked
    event-time column — the form Spark's state store recognises for
    watermark-driven finalisation/eviction (an arbitrary bucket
    expression of ts would aggregate correctly but hold state forever).

    Default output: ``bucket_start`` (epoch micros of the window start)
    + ``{col}_{count,sum,min,max}``. ``full_stats=True`` emits the FULL
    ``plans.rollup`` partial-state schema instead (``{c}__{suffix}`` for
    each of ``plans.rollup.PARTIAL_SUFFIXES``) — the streaming
    sink then feeds ``plans.rollup.finalize``/``rollup`` directly, so
    every reference aggregator (mean/var/slope/earliest/latest/...) is
    available over watermark-finalised windows, and stream output can be
    combined with batch tiers (same algebra, same names). In append
    output mode a row emits exactly once, when the watermark passes its
    window end.
    """
    from ..plans.rollup import PARTIAL_SUFFIXES, _partial_exprs

    width = TIER_WINDOW[tier]
    watermarked = stream_df.withWatermark(ts_col, watermark)
    grouped = watermarked.groupBy(
        F.col(entity_col), F.window(F.col(ts_col), width).alias("__w")
    )
    if full_stats:
        exprs = [F.expr(e) for vc in value_cols for e in _partial_exprs(vc, ident(ts_col))]
        out_cols = [f"{vc}__{s}" for vc in value_cols for s in PARTIAL_SUFFIXES]
        return grouped.agg(*exprs).select(
            entity_col,
            F.unix_micros(F.col("__w.start")).alias("bucket_start"),
            *[F.col(c) for c in out_cols],
        )
    aggs = []
    for vc in value_cols:
        aggs += [
            F.count(vc).alias(f"{vc}_count"),
            F.sum(vc).alias(f"{vc}_sum"),
            F.min(vc).alias(f"{vc}_min"),
            F.max(vc).alias(f"{vc}_max"),
        ]
    return grouped.agg(*aggs).select(
        entity_col,
        F.unix_micros(F.col("__w.start")).alias("bucket_start"),
        *[F.col(f"{vc}_{s}") for vc in value_cols for s in ("count", "sum", "min", "max")],
    )


def session_partials(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked gap-based sessionization over a streaming DataFrame —
    the streaming twin of ``operators.sessions.session_window_stats``
    (same ``F.session_window`` expression, same merge semantics; the
    equality is proven batch-side by the sessions golden tests). In
    append mode a session emits exactly once, when the watermark passes
    ``session_end + gap`` (no more events can merge into it). The
    0-based per-entity ``session_id`` index is a batch-side concept
    (global sort per entity); streaming sessions are keyed by
    ``session_start``.
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.col(entity_col), F.session_window(F.col(ts_col), gap).alias("__sw"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))).alias(
                "duration_micros"
            ),
            F.count("*").alias("n_events"),
        )
        .select(entity_col, "session_start", "session_end", "duration_micros", "n_events")
    )


def stream_clean(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    quality_kwargs: dict | None = None,
) -> DataFrame:
    """Streaming slice of the corpus-cleaning pipeline
    (``operators.pipeline.clean_corpus``): the stages whose state is
    per-row or watermark-bounded —

    1. quality gate: ``text.quality_pass_expr`` — the full rule set as
       one boolean Column (a pure projection: every rule's state lives
       inside the row's own text, so no aggregation/join and therefore
       no streaming restriction);
    2. exact dedup: ``stream_drop_exact_duplicates`` (cross-batch
       md5-fingerprint state bounded by the watermark).

    Near-dup clustering and benchmark decontamination are corpus-level
    (all-pairs / cross-corpus joins) and stay batch jobs over the
    cleaned stream's sink — the standard lambda split for this
    workload. Returns the surviving rows."""
    from ..operators.text import quality_pass_expr

    passed = stream_df.filter(
        quality_pass_expr(F.col(text_col), **(quality_kwargs or {}))
    )
    return stream_drop_exact_duplicates(passed, text_col, ts_col, watermark)


def stream_dedup_against(
    stream_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    within_stream: bool = True,
    ref_fingerprint_col: str | None = None,
) -> DataFrame:
    """Streaming ingest gate against an already-accepted STATIC corpus
    — the continuous twin of ``operators.dedup.dedup_against``'s exact
    path: incoming docs whose normalised ``md5`` fingerprint already
    exists in ``ref_df`` are dropped via a stream-static LEFT ANTI join
    (stateless: the static side is re-planned per micro-batch, so an
    accepted-corpus table that grows between batches is picked up
    without restarting the query), then, with ``within_stream=True``,
    duplicates WITHIN the stream are dropped with watermark-bounded
    cross-batch state (``stream_drop_exact_duplicates`` semantics,
    identical fingerprint key — batch and stream agree exactly on what
    counts as a duplicate).

    Scale shape: at 100 TB the accepted corpus is huge but its
    fingerprint table is compact (16 bytes + id per doc) — pass that
    pre-materialised table via ``ref_fingerprint_col`` so the static
    side never re-reads raw text per micro-batch; the anti-join keys on
    uniform md5, so no hot partitions, and duplicate fingerprints on
    the reference side need no pre-distinct (anti-join semantics ignore
    build-side multiplicity)."""
    from ..operators.dedup import normalized_text

    fp = F.md5(normalized_text(F.col(text_col)))
    if ref_fingerprint_col is None:
        ref_fp = ref_df.select(fp.alias("__fp"))
    else:
        ref_fp = ref_df.select(F.col(ref_fingerprint_col).alias("__fp"))
    out = stream_df.withColumn("__fp", fp).join(ref_fp, "__fp", "left_anti")
    if within_stream:
        out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__fp"]
        )
    return out.drop("__fp")


def stream_drop_exact_duplicates(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first-arriving doc per normalised
    text fingerprint ACROSS micro-batches, with state bounded by the
    event-time watermark (``dropDuplicatesWithinWatermark`` — a
    duplicate arriving later than ``watermark`` after the original may
    pass; that is the bounded-state contract, same trade as the
    windowed tier path). The fingerprint is the same 128-bit
    ``md5(normalised text)`` the batch exact-dedup family keys on
    (``exact_duplicates``/``drop_exact_duplicates``), so batch and
    stream agree exactly on what counts as a duplicate — a 64-bit key
    would silently drop a unique doc on a hash collision."""
    from ..operators.dedup import normalized_text

    keyed = stream_df.withColumn(
        "__fp", F.md5(normalized_text(F.col(text_col)))
    ).withWatermark(ts_col, watermark)
    return keyed.dropDuplicatesWithinWatermark(["__fp"]).drop("__fp")


def m4_partials(
    stream_df: DataFrame,
    bucket,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked streaming M4 downsample: the SAME four struct
    min/max aggregates as ``operators.rolling.downsample_m4`` — both
    twins call the shared ``m4_agg_exprs``/``m4_finalize``, so the tie
    contract (first/last by (ts, value), min/max by (value, ts)) and
    the DECIMAL output schema cannot drift, grouped by ``F.window`` so the state store finalises and
    evicts buckets as the watermark passes. M4 is the ideal streaming
    reduction: every aggregate is an order-insensitive exact min/max —
    no float summation — so the streamed sink is BIT-identical to the
    batch operator regardless of state-store merge order, and state per
    (entity, window) is four structs and a count. ``bucket`` is a
    ``datetime.timedelta`` of whole seconds. In append mode each
    (entity, bucket) row lands in the sink exactly once, finalised.
    """
    from ..operators.rolling import m4_agg_exprs, m4_finalize

    secs = bucket.total_seconds()
    if secs <= 0 or secs != int(secs):
        raise ValueError(
            f"bucket must be a positive whole-second timedelta, got {bucket!r}"
        )
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    grouped = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(entity_col).alias("entity"),
            F.window(F.col(ts_col), f"{int(secs)} seconds").alias("__w"),
        )
        .agg(*m4_agg_exprs(ts_us, F.col(value_col)))
        .withColumn("bucket_start", F.col("__w.start"))
    )
    return m4_finalize(grouped)
