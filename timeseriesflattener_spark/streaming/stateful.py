"""Custom stateful streaming operator via ``applyInPandasWithState``:
a continuously-updated per-conversation profile (running count / sum /
min / max / last event time) maintained in the streaming state store
across micro-batches.

This is the escape hatch the built-in operators can't express: the
state is an arbitrary Python/Arrow structure updated per group per
batch (here a fixed numeric profile; swap the update function for any
incremental model — sketch, decay counter, per-conv quality monitor).
Batches arrive as Arrow-backed pandas frames — no per-row Python beyond
the per-GROUP state bookkeeping.

Emission is ``update`` mode: every micro-batch emits the refreshed
profile of each conversation it touched; the LATEST row per
conversation is the current profile. The same holds for the funnel,
CUSUM and LOCF twins below. Run one with ``streaming.start_stream(...,
transform=lambda s: running_funnel(s, steps), sink=append_with_batch_id(
out_path))``: each update batch lands in ``out_path`` stamped with its
``batch_id``, and the max-``batch_id`` row per key is the current state.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PROFILE_SCHEMA = (
    "conv_id string, n_events long, v_sum double, v_min double, v_max double, "
    "last_ts timestamp"
)
_STATE_SCHEMA = "n long, s double, mn double, mx double, last long"


def _update_profile(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.exists:
        n, s, mn, mx, last = state.get
    else:
        n, s, mn, mx, last = 0, 0.0, None, None, None
    for pdf in pdfs:
        if pdf.empty:
            continue
        v = pdf["v"].astype(float)
        n += int(v.count())
        s += float(v.sum())
        bmn, bmx = float(v.min()), float(v.max())
        mn = bmn if mn is None else min(mn, bmn)
        mx = bmx if mx is None else max(mx, bmx)
        bl = int(pdf["ts"].astype("int64").max())  # ns since epoch
        last = bl if last is None else max(last, bl)
    state.update((n, s, mn, mx, last))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_events": [n],
            "v_sum": [s],
            "v_min": [mn],
            "v_max": [mx],
            "last_ts": [pd.Timestamp(last)],
        }
    )


def running_profiles(stream_df: DataFrame) -> DataFrame:
    """Streaming (conv_id, ts, v) -> per-batch updated profiles."""
    return stream_df.groupBy("conv_id").applyInPandasWithState(
        _update_profile,
        outputStructType=PROFILE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def append_with_batch_id(out_path: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink for the update-mode twins: append each
    micro-batch to the parquet directory ``out_path`` with a
    ``batch_id`` column. Consumers keep the max-``batch_id`` row per
    key; a batch replayed after a crash appends the same rows under the
    same ``batch_id``, which that recipe absorbs."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_path)

    return _sink


def _funnel_schemas(steps: list[str], entity_col: str) -> tuple[str, str]:
    k = len(steps)
    out = f"{entity_col} string, steps_completed int, " + ", ".join(
        f"ts_step{i + 1} timestamp" for i in range(k)
    )
    state = ", ".join(f"h{i + 1} long" for i in range(k)) + ", n int"
    return out, state


def running_funnel(
    stream_df: DataFrame,
    steps: list[str],
    within=None,
    entity_col: str = "entity",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of ``operators.events.funnel``: the anchored
    min-chain state (accepted step times) lives in the streaming state
    store, updated per micro-batch. Events inside a batch are sorted by
    event time before the scan; EXACT batch equivalence additionally
    requires per-entity event time to be non-decreasing ACROSS
    micro-batches (time-split ingest files — the usual shape for
    append-only event logs), because an accepted hit is never revised
    when an older event arrives later. State is bounded: k accepted
    times + a counter per entity, independent of stream length.
    The output key column is named ``entity_col`` and declared string —
    cast the key to string upstream.

    Emission is ``update`` mode — each touched entity re-emits its
    refreshed progress; the max-batch_id row per entity is current.
    The per-group scan is the same O(relevant events) state machine the
    batch operator runs in catalyst (per-GROUP bookkeeping, Arrow
    batches in)."""
    from ..specs import timedelta_to_micros

    k = len(steps)
    if k == 0:
        raise ValueError("funnel requires at least one step")
    within_ns = None
    if within is not None:
        within_us = timedelta_to_micros(within)
        if within_us <= 0:
            raise ValueError(f"within must be positive, got {within!r}")
        within_ns = within_us * 1000
    steps_l = list(steps)
    steps_set = set(steps_l)
    out_schema, state_schema = _funnel_schemas(steps_l, entity_col)

    def _update(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (entity,) = key
        if state.exists:
            row = state.get
            hits = [row[i] for i in range(row[k])]
        else:
            hits = []
        evs: list[tuple[int, str]] = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            sel = pdf[type_col].isin(steps_set) & pdf[ts_col].notna()
            if not sel.any():
                continue
            t_ns = (
                pdf.loc[sel, ts_col]
                .to_numpy()
                .astype("datetime64[ns]")
                .astype("int64")
            )
            evs.extend(zip(t_ns.tolist(), pdf.loc[sel, type_col].tolist()))
        evs.sort()
        for t, y in evs:
            n = len(hits)
            if n >= k:
                break
            if y != steps_l[n]:
                continue
            if n > 0 and not t > hits[-1]:
                continue
            if within_ns is not None and n > 0 and t - hits[0] > within_ns:
                continue
            hits.append(t)
        if not hits:
            # no accepted step-1 event yet: nothing worth storing, and
            # the batch twin filters steps_completed >= 1 — emitting a
            # zero row would surface spurious entities to a consumer
            # following the max-batch_id-row-per-entity recipe
            return
        state.update(tuple(hits + [None] * (k - len(hits)) + [len(hits)]))
        out = {entity_col: [entity], "steps_completed": [len(hits)]}
        for i in range(k):
            out[f"ts_step{i + 1}"] = [
                pd.Timestamp(hits[i]) if i < len(hits) else pd.NaT
            ]
        yield pd.DataFrame(out)

    return stream_df.groupBy(entity_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_cusum(
    stream_df: DataFrame,
    target: float,
    slack: float,
    threshold: float,
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.rolling.cusum``: the two clamped
    statistics live in the state store (TWO numbers per entity —
    bounded, independent of stream length). Each batch's events are
    sorted by (event time, ``order_col``) — pass the same order column
    the batch operator uses, or equal-timestamp folds are decided by
    arrival order and the clamp makes that VISIBLE — and folded in
    VECTORIZED numpy via the seeded prefix identity (cum = s0 +
    cumsum(d); s = cum − min(0, min(cum))) — no per-row Python. Exact
    batch equivalence under the same in-order ingest contract as
    ``running_funnel`` (per-entity event time non-decreasing across
    micro-batches). NULL values and NULL timestamps are skipped (the
    statistic holds; same exclusion as the batch operator). The key
    column in the output is named ``entity_col`` and declared string —
    cast the key to string upstream. Update-mode emission: the
    max-batch_id row per entity is the current state."""
    import numpy as np

    if slack < 0:
        raise ValueError(f"slack must be >= 0, got {slack!r}")
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold!r}")
    k_hi = target + slack
    k_lo = target - slack
    out_schema = (
        f"{entity_col} string, cusum_hi double, cusum_lo double, "
        "alarm_hi boolean, alarm_lo boolean, n_obs long"
    )
    state_schema = "shi double, slo double, n long"
    sort_cols = [ts_col] + ([order_col] if order_col is not None else [])

    def _fold(s0: float, d: "np.ndarray") -> float:
        cum = s0 + np.cumsum(d)
        return float(cum[-1] - min(0.0, float(cum.min())))

    def _update(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (entity,) = key
        shi, slo, n = state.get if state.exists else (0.0, 0.0, 0)
        parts = []
        for pdf in pdfs:
            sel = pdf[value_col].notna() & pdf[ts_col].notna()
            if sel.any():
                parts.append(pdf.loc[sel, sort_cols + [value_col]])
        if parts:
            ev = pd.concat(parts).sort_values(sort_cols)
            x = ev[value_col].to_numpy(dtype="float64")
            shi = _fold(shi, x - k_hi)
            slo = _fold(slo, k_lo - x)
            n += len(x)
        state.update((float(shi), float(slo), int(n)))
        yield pd.DataFrame(
            {
                entity_col: [entity],
                "cusum_hi": [shi],
                "cusum_lo": [slo],
                "alarm_hi": [shi > threshold],
                "alarm_lo": [slo > threshold],
                "n_obs": [n],
            }
        )

    return stream_df.groupBy(entity_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_locf(
    stream_df: DataFrame,
    bucket_micros: int,
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str = "cents",
    order_col: str | None = None,
) -> DataFrame:
    """Streaming twin of the LOCF leg of ``plans.gapfill.fill_gaps``:
    per-entity dense bucket grids carried forward across micro-batches.
    State is TWO longs per entity — (last emitted bucket index, its
    carried value) — independent of stream length and gap width.

    Each batch emits, per touched entity, one row for every bucket from
    (state bucket + 1) — or the batch's first bucket when the state is
    behind it, the carried value filling the gap between — through the
    batch's last bucket: ``filled`` marks grid rows with no observation
    (the batch twin's ``is_gap``). The per-bucket value is the LAST
    observation in the bucket by (event time, ``order_col``). Same
    in-order ingest contract as ``running_funnel``/``running_cusum``
    (per-entity event time non-decreasing across micro-batches); a
    batch may only revisit the single open tail bucket, and only with
    later observations, so re-emitted rows supersede under the
    max-batch_id consumer recipe. Grid construction is vectorized
    pandas (map + ffill) — no per-row Python. Values stay exact longs
    end to end (the integer-cents contract).
    """
    import numpy as np

    if bucket_micros <= 0:
        raise ValueError(f"bucket_micros must be positive, got {bucket_micros!r}")
    out_schema = (
        f"{entity_col} string, bucket_start_us long, {value_col} long, "
        "filled boolean"
    )
    state_schema = "last_b long, last_c long"
    sort_cols = [ts_col] + ([order_col] if order_col is not None else [])

    def _update(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (entity,) = key
        parts = []
        for pdf in pdfs:
            sel = pdf[value_col].notna() & pdf[ts_col].notna()
            if sel.any():
                parts.append(pdf.loc[sel, sort_cols + [value_col]])
        if not parts:
            return
        ev = pd.concat(parts).sort_values(sort_cols)
        us = ev[ts_col].astype("int64") // 1000  # ns -> us
        ev = ev.assign(__b=us // bucket_micros)
        last_per_bucket = ev.drop_duplicates("__b", keep="last")
        obs = pd.Series(
            last_per_bucket[value_col].to_numpy(dtype="int64"),
            index=last_per_bucket["__b"].to_numpy(dtype="int64"),
        )
        bmin, bmax = int(obs.index.min()), int(obs.index.max())
        if state.exists:
            last_b, last_c = state.get
            start, carry = min(bmin, last_b + 1), last_c
        else:
            start, carry = bmin, None
        grid = np.arange(start, bmax + 1, dtype="int64")
        vals = obs.reindex(grid)
        filled = vals.isna().to_numpy()
        vals = vals.ffill()
        if carry is not None:
            vals = vals.fillna(float(carry))
        out_vals = vals.to_numpy(dtype="int64")
        state.update((int(bmax), int(out_vals[-1])))
        yield pd.DataFrame(
            {
                entity_col: entity,
                "bucket_start_us": grid * bucket_micros,
                value_col: out_vals,
                "filled": filled,
            }
        )

    return stream_df.groupBy(entity_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
