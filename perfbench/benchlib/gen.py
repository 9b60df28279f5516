"""Seeded input generation for every workload.

Inputs are built with numpy and written with pyarrow, never through the
library under test, so a library change cannot alter what the timed
operations read. The same seed gives byte-identical parquet files.

Timestamps are written as UTC-adjusted ``timestamp[us]`` so Spark reads
them as session-zone timestamps (the session zone is pinned to UTC).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86_400 * US
TS_TYPE = pa.timestamp("us", tz="UTC")


def _epoch_us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * US


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table.num_rows


def _unique_sorted_times(rng: np.random.Generator, n: int, lo_us: int, hi_us: int) -> np.ndarray:
    """``n`` distinct whole-second timestamps in ``[lo_us, hi_us)``."""
    span_s = (hi_us - lo_us) // US
    secs = rng.choice(span_s, size=n, replace=False)
    return np.sort(secs).astype(np.int64) * US + lo_us


# --------------------------------------------------------------- flatten


ENTITIES = 500
PREDS_PER_ENTITY = 4
LABS_PER_ENTITY = 220  # ~60 rows in the 365-day window per prediction
MEDS_PER_ENTITY = 110
EVENTS_PER_ENTITY = 3
FLATTEN_START = dt.datetime(2019, 1, 1)
FLATTEN_PRED_LO = dt.datetime(2021, 1, 1)
FLATTEN_END = dt.datetime(2023, 1, 1)


def gen_flatten(seed: int, out_dir: str) -> dict[str, int]:
    """Prediction times, two value frames of two columns each (labs with
    3% nulls, meds), outcome events, a static frame and birthdates.
    Timestamps are distinct per entity, so earliest/latest have no ties."""
    rng = np.random.default_rng([seed, 1])
    lo, pred_lo, hi = (_epoch_us(d) for d in (FLATTEN_START, FLATTEN_PRED_LO, FLATTEN_END))
    ents = np.arange(ENTITIES, dtype=np.int64)

    def per_entity(n: int, a: int, b: int) -> tuple[np.ndarray, np.ndarray]:
        ids = np.repeat(ents, n)
        ts = np.concatenate([_unique_sorted_times(rng, n, a, b) for _ in ents])
        return ids, ts

    def with_nulls(x: np.ndarray, share: float) -> pa.Array:
        return pa.array(x, mask=rng.random(len(x)) < share)

    rows: dict[str, int] = {}
    pid, pts = per_entity(PREDS_PER_ENTITY, pred_lo, hi)
    rows["pred"] = _write(
        pa.table({"entity_id": pid, "pred_timestamp": pa.array(pts, TS_TYPE)}),
        os.path.join(out_dir, "pred.parquet"),
    )
    lid, lts = per_entity(LABS_PER_ENTITY, lo, hi)
    n = len(lid)
    rows["labs"] = _write(
        pa.table(
            {
                "entity_id": lid,
                "timestamp": pa.array(lts, TS_TYPE),
                "crp": with_nulls(np.round(rng.lognormal(2.0, 0.8, n), 3), 0.03),
                "hba1c": with_nulls(np.round(rng.normal(42.0, 6.0, n), 2), 0.03),
            }
        ),
        os.path.join(out_dir, "labs.parquet"),
    )
    mid, mts = per_entity(MEDS_PER_ENTITY, lo, hi)
    n = len(mid)
    rows["meds"] = _write(
        pa.table(
            {
                "entity_id": mid,
                "timestamp": pa.array(mts, TS_TYPE),
                "dose_mg": np.round(rng.gamma(2.0, 50.0, n), 1),
                "n_items": rng.integers(1, 6, n).astype(np.float64),
            }
        ),
        os.path.join(out_dir, "meds.parquet"),
    )
    eid, ets = per_entity(EVENTS_PER_ENTITY, pred_lo, hi)
    rows["events"] = _write(
        pa.table({"entity_id": eid, "timestamp": pa.array(ets, TS_TYPE)}),
        os.path.join(out_dir, "events.parquet"),
    )
    rows["static"] = _write(
        pa.table(
            {
                "entity_id": ents,
                "sex_female": rng.integers(0, 2, len(ents)),
                "region_code": rng.integers(1, 6, len(ents)).astype(np.float64),
            }
        ),
        os.path.join(out_dir, "static.parquet"),
    )
    born = _epoch_us(dt.datetime(1940, 1, 1)) + rng.integers(0, 60 * 365, len(ents)) * DAY_US
    rows["birth"] = _write(
        pa.table({"entity_id": ents, "timestamp": pa.array(born, TS_TYPE)}),
        os.path.join(out_dir, "birth.parquet"),
    )
    return rows


# ------------------------------------------------------------ transcripts


DAYS = 5
BASE_CONVS = 1500  # conversations starting before the newest day
AVG_TURNS = 20
HEAVY_EVERY = 200  # 1 in 200 conversations is long
HEAVY_FACTOR = 40
PAUSE_SHARE = 0.2  # share of a normal conversation's turns after a pause
BATCH_CONVS = 30  # ~2% of the corpus per micro-batch
LATE_SHARE = 0.15  # share of a batch's conversations landing on the day before the newest
BATCHES = 60
#: the long base conversations start two to a day on the first base days,
#: so every day ``tier_query`` reads holds two of them whatever the seed
HEAVY_PER_DAY = 2

TRANSCRIPT_START = dt.datetime(2024, 3, 1)


def is_heavy(nos: np.ndarray) -> np.ndarray:
    return nos % HEAVY_EVERY == 0


def _conversations(rng: np.random.Generator, first_no: int, starts_us: np.ndarray) -> pa.Table:
    """One row per turn. Normal conversations take a turn every 5-60 s,
    with a pause of 1.5-15 min before a fifth of their turns, so their
    1m points have gaps to fill; long ones take a turn every 4-16 s, so
    a 1h chunk holds up to ~360 points."""
    k = len(starts_us)
    nos = np.arange(first_no, first_no + k)
    heavy = is_heavy(nos)
    turns = rng.integers(2, 2 * AVG_TURNS - 1, k)
    # long conversations all have about AVG_TURNS * HEAVY_FACTOR turns, so
    # queries that pick them read about as many points whatever the seed
    n_long = AVG_TURNS * HEAVY_FACTOR
    turns = np.where(heavy, rng.integers(9 * n_long // 10, 11 * n_long // 10, k), turns)
    total = int(turns.sum())
    conv_idx = np.repeat(np.arange(k), turns)
    first_row = np.repeat(np.cumsum(turns) - turns, turns)
    turn_idx = np.arange(total) - first_row
    gap_s = np.where(
        heavy[conv_idx], rng.integers(4, 17, total), rng.integers(5, 61, total)
    ).astype(np.int64)
    pause = ~heavy[conv_idx] & (rng.random(total) < PAUSE_SHARE)
    gap_s = np.where(pause, rng.integers(90, 901, total), gap_s)
    gap_s[turn_idx == 0] = 0
    # cumulative gaps restart at each conversation
    csum = np.cumsum(gap_s)
    offs = csum - np.repeat(csum[np.cumsum(turns) - turns], turns)
    ts = starts_us[conv_idx] + offs * US
    text_len = rng.integers(3, 2000, total).astype(np.float64)
    n_tokens = np.floor(text_len / rng.uniform(3.0, 5.0, total)) + 1
    conv_ids = np.char.add("conv-", np.char.zfill(nos.astype(str), 7))
    return pa.table(
        {
            "conv_id": pa.array(conv_ids[conv_idx]),
            "turn_idx": pa.array(turn_idx.astype(np.int32)),
            "ts": pa.array(ts, TS_TYPE),
            "text_len": text_len,
            "n_tokens": n_tokens,
        }
    )


def gen_transcripts(seed: int, out_dir: str) -> dict[str, int]:
    """``base/`` holds the corpus that is bulk-built, spread over all
    days but the newest; ``batches/`` holds one parquet file per
    micro-batch, in landing order. Most batch conversations start on the
    newest day and ``LATE_SHARE`` of them on the day before, so every
    merge touches two of the ``DAYS`` days."""
    rng = np.random.default_rng([seed, 2])
    t0 = _epoch_us(TRANSCRIPT_START)
    newest = t0 + (DAYS - 1) * DAY_US
    # base conversations start at least 4 h before the newest day, so a
    # long one (at most ~4 h) lies whole inside the base days
    base_starts = t0 + rng.integers(0, (DAYS - 1) * 86_400 - 4 * 3600, BASE_CONVS) * US
    heavy = is_heavy(np.arange(BASE_CONVS))
    heavy_day = np.arange(heavy.sum()) // HEAVY_PER_DAY % (DAYS - 1)
    base_starts[heavy] = t0 + heavy_day * DAY_US + rng.integers(0, 86_400 - 4 * 3600, heavy.sum()) * US
    base = _conversations(rng, 0, base_starts)
    rows = {"base": _write(base, os.path.join(out_dir, "base", "part-0.parquet"))}
    no = BASE_CONVS
    batch_rows = 0
    late = np.arange(BATCH_CONVS) < max(1, round(LATE_SHARE * BATCH_CONVS))
    day_start = newest - np.where(late, DAY_US, 0)
    for b in range(BATCHES):
        # start early enough that even a long conversation ends on its day
        starts = day_start + rng.integers(0, 86_400 - 5 * 3600, BATCH_CONVS) * US
        tbl = _conversations(rng, no, starts)
        no += BATCH_CONVS
        batch_rows += _write(tbl, os.path.join(out_dir, "batches", f"batch-{b:04d}.parquet"))
    rows["batches"] = batch_rows
    return rows
