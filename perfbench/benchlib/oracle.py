"""Reference computations the benchmark checks the library against.

DuckDB recomputes from the generated parquet; pandas recomputes the
gap-fill. Nothing here imports the library, so a library defect cannot
hide in its own reference.
"""

from __future__ import annotations

import glob
import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

DAY_US = 86_400_000_000
MINUTE_US = 60_000_000
HOUR_US = 3_600_000_000
TIER_US = {"1m": MINUTE_US, "1h": HOUR_US, "1d": DAY_US}

# ------------------------------------------------------------- comparison


def to_micros(ts: pd.Series) -> pd.Series:
    """Timestamps (naive UTC or zone-aware) -> int64 microseconds since
    the epoch, so frames read by different engines compare exactly."""
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[us]").astype("int64")


def _close(a, b, rel: float, abs_: float) -> bool:
    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    if b is None or (isinstance(b, float) and math.isnan(b)):
        return False
    if isinstance(a, (bool, np.bool_)) or isinstance(b, (bool, np.bool_)):
        return bool(a) == bool(b)
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def mismatches(
    got: pd.DataFrame,
    want: pd.DataFrame,
    keys: list[str],
    rel: float = 1e-9,
    abs_: float = 1e-9,
    exact: tuple[str, ...] = (),
) -> list[str]:
    """Compare ``got`` to ``want`` on ``keys``: same key set, and every
    non-key column of ``want`` equal (floats within tolerance, columns in
    ``exact`` bit for bit). Returns a short list of differences."""
    errors: list[str] = []
    g = got.set_index(keys).sort_index()
    w = want.set_index(keys).sort_index()
    if len(g) != len(w) or not g.index.equals(w.index):
        missing = w.index.difference(g.index)
        extra = g.index.difference(w.index)
        return [f"rows differ: {len(g)} vs {len(w)}, missing {list(missing[:3])}, extra {list(extra[:3])}"]
    for col in w.columns:
        if col not in g.columns:
            errors.append(f"missing column {col}")
            continue
        gv, wv = g[col].tolist(), w[col].tolist()
        for i, (a, b) in enumerate(zip(gv, wv)):
            ok = (a == b or (a != a and b != b)) if col in exact else _close(a, b, rel, abs_)
            if not ok:
                errors.append(f"{col} at {w.index[i]}: got {a!r}, want {b!r}")
                break
        if len(errors) >= 5:
            break
    return errors


# ---------------------------------------------------------------- flatten

LOOKBEHIND_DAYS = (7, 30, 90, 365)
INTERVAL_DAYS = (30, 90)
AGGREGATORS = ("mean", "max", "min", "count", "sum", "latest", "earliest", "slope")
OUTCOME_DAYS = 90


def lookbehind_windows() -> list[tuple[str, int, int]]:
    """(period name, first, last) in microseconds from the prediction
    time, both ends inclusive."""
    out = [(f"0_to_{d}_days", -d * DAY_US, 0) for d in LOOKBEHIND_DAYS]
    lo, hi = INTERVAL_DAYS
    out.append((f"{lo}_to_{hi}_days", -hi * DAY_US, -lo * DAY_US))
    return out


def _agg_sql(agg: str, col: str, cond: str) -> str:
    w = f"FILTER (WHERE {cond} AND {col} IS NOT NULL)"
    x = "CAST(vm // 86400000000 AS DOUBLE)"
    expr = {
        "mean": f"avg({col}) {w}",
        "max": f"max({col}) {w}",
        "min": f"min({col}) {w}",
        "count": f"count({col}) {w}",
        "sum": f"sum({col}) {w}",
        "latest": f"arg_max({col}, vm) {w}",
        "earliest": f"arg_min({col}, vm) {w}",
        "slope": f"regr_slope({col}, {x}) {w}",
    }[agg]
    return expr if agg == "count" else f"coalesce({expr}, 0)"


def flatten_expected(data_dir: str, sample: pd.DataFrame, value_cols: dict[str, list[str]]) -> pd.DataFrame:
    """Every feature of the sampled prediction rows, recomputed from the
    generated parquet. ``value_cols`` maps frame name -> its columns."""
    con = duckdb.connect()
    try:
        con.register("sample_df", sample)
        con.execute(
            "CREATE TEMP TABLE p AS SELECT entity_id, pred_timestamp, "
            "epoch_us(pred_timestamp) AS pm FROM sample_df"
        )
        out = con.execute("SELECT entity_id, pred_timestamp FROM p").df()
        for frame, cols in value_cols.items():
            exprs = []
            for period, first, last in lookbehind_windows():
                cond = f"(vm - pm) BETWEEN {first} AND {last}"
                for agg in AGGREGATORS:
                    for col in cols:
                        exprs.append(f'{_agg_sql(agg, col, cond)} AS "pred_{col}_within_{period}_{agg}_fallback_0"')
            sql = (
                f"SELECT p.entity_id, p.pred_timestamp, {', '.join(exprs)} FROM p LEFT JOIN "
                f"(SELECT entity_id, epoch_us(timestamp) AS vm, {', '.join(cols)} "
                f"FROM read_parquet('{data_dir}/{frame}.parquet')) v USING (entity_id) "
                "GROUP BY p.entity_id, p.pred_timestamp"
            )
            out = out.merge(con.execute(sql).df(), on=["entity_id", "pred_timestamp"])
        extra = con.execute(
            f"""
            SELECT p.entity_id, p.pred_timestamp,
              coalesce(max(1) FILTER (WHERE epoch_us(e.timestamp) - pm BETWEEN 0 AND {OUTCOME_DAYS * DAY_US}), 0)
                AS "outc_event_within_0_to_{OUTCOME_DAYS}_days_max_fallback_0",
              any_value(s.sex_female) AS pred_sex_female_fallback_0,
              any_value(s.region_code) AS pred_region_code_fallback_0,
              coalesce(any_value(CAST(trunc((pm - epoch_us(b.timestamp)) / 86400000000.0) AS BIGINT) / 365.25), 0)
                AS pred_age_years_fallback_0
            FROM p
            LEFT JOIN read_parquet('{data_dir}/events.parquet') e USING (entity_id)
            LEFT JOIN read_parquet('{data_dir}/static.parquet') s USING (entity_id)
            LEFT JOIN read_parquet('{data_dir}/birth.parquet') b USING (entity_id)
            GROUP BY p.entity_id, p.pred_timestamp
            """
        ).df()
        return out.merge(extra, on=["entity_id", "pred_timestamp"])
    finally:
        con.close()


def read_rows(parquet_glob: str, where: str = "TRUE", columns: str = "*") -> pd.DataFrame:
    """Query parquet files written by Spark. They are read with pyarrow,
    which (unlike DuckDB) reads Spark's Hadoop-framed LZ4 pages."""
    files = sorted(glob.glob(parquet_glob))
    if not files:
        raise FileNotFoundError(parquet_glob)
    t = ds.dataset(files, format="parquet").to_table()  # noqa: F841 - scanned by DuckDB below
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT {columns} FROM t WHERE {where}").df()
    finally:
        con.close()


# ------------------------------------------------------------------ tiers


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def day_stats_expected(raw_files: list[str], days_us: list[int], value_cols: list[str]) -> pd.DataFrame:
    """Per-(conversation, day) n/sum/min/max from the raw turns."""
    exprs = ", ".join(
        f"count({c}) AS {c}__n, sum({c}) AS {c}__sum, min({c}) AS {c}__min, max({c}) AS {c}__max"
        for c in value_cols
    )
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            SELECT conv_id, epoch_us(ts) // {DAY_US} * {DAY_US} AS bucket_start, {exprs}
            FROM read_parquet({_files_sql(raw_files)})
            WHERE epoch_us(ts) // {DAY_US} * {DAY_US} IN ({', '.join(map(str, days_us))})
            GROUP BY 1, 2
            """
        ).df()
    finally:
        con.close()


def partial_keys_changed(batch_file: str) -> int:
    """Distinct (conversation, bucket) keys a batch touches, summed over
    the 1m, 1h and 1d tiers: the partial rows a merge must change."""
    con = duckdb.connect()
    try:
        return int(
            sum(
                con.execute(
                    f"SELECT count(DISTINCT (conv_id, epoch_us(ts) // {w})) FROM read_parquet('{batch_file}')"
                ).fetchone()[0]
                for w in TIER_US.values()
            )
        )
    finally:
        con.close()


def gapfill_expected(
    raw_files: list[str], convs: list[str], lo_us: int, hi_us: int
) -> pd.DataFrame:
    """1m points of ``convs`` in ``[lo_us, hi_us)``, densified per
    conversation between its first and last bucket, with linear
    interpolation of ``text_len_mean`` and ``n_tokens_sum`` inside gaps."""
    con = duckdb.connect()
    try:
        pts = con.execute(
            f"""
            SELECT conv_id, epoch_us(ts) // {MINUTE_US} * {MINUTE_US} AS bucket_start,
                   avg(text_len) AS text_len_mean, sum(n_tokens) AS n_tokens_sum
            FROM read_parquet({_files_sql(raw_files)})
            WHERE conv_id IN ({', '.join(f"'{c}'" for c in convs)})
              AND epoch_us(ts) >= {lo_us} AND epoch_us(ts) < {hi_us}
            GROUP BY 1, 2
            """
        ).df()
    finally:
        con.close()
    frames = []
    for conv, g in pts.groupby("conv_id"):
        g = g.sort_values("bucket_start")
        grid = np.arange(g.bucket_start.min(), g.bucket_start.max() + 1, MINUTE_US, dtype=np.int64)
        dense = pd.DataFrame({"conv_id": conv, "bucket_start": grid})
        dense = dense.merge(g, on=["conv_id", "bucket_start"], how="left")
        dense["is_gap"] = dense["text_len_mean"].isna()
        obs_t = g.bucket_start.to_numpy(dtype=np.float64)
        for col in ("text_len_mean", "n_tokens_sum"):
            filled = np.interp(grid.astype(np.float64), obs_t, g[col].to_numpy())
            dense[col] = np.where(dense["is_gap"], filled, dense[col])
        frames.append(dense)
    return pd.concat(frames, ignore_index=True)


def window_expected(raw_files: list[str], convs: list[str], lo_us: int, hi_us: int, k: int) -> pd.DataFrame:
    """For every 1h bucket ``b`` of ``convs`` with turns in
    ``[lo_us, hi_us)``: count/sum/min/max of ``text_len`` over the ``k``
    buckets ending at ``b`` (all turns, not only those in the range)."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH r AS (
              SELECT conv_id, epoch_us(ts) AS t, text_len FROM read_parquet({_files_sql(raw_files)})
              WHERE conv_id IN ({', '.join(f"'{c}'" for c in convs)})
            ), a AS (
              SELECT DISTINCT conv_id, t // {HOUR_US} * {HOUR_US} AS bucket_start FROM r
              WHERE t >= {lo_us} AND t < {hi_us}
            )
            SELECT a.conv_id, a.bucket_start, count(r.text_len) AS text_len_count,
                   sum(r.text_len) AS text_len_sum, min(r.text_len) AS text_len_min,
                   max(r.text_len) AS text_len_max
            FROM a JOIN r ON r.conv_id = a.conv_id
              AND r.t >= a.bucket_start - {(k - 1) * HOUR_US} AND r.t < a.bucket_start + {HOUR_US}
            GROUP BY 1, 2
            """
        ).df()
    finally:
        con.close()


def points_expected(raw_files: list[str], convs: list[str], lo_us: int, hi_us: int) -> pd.DataFrame:
    """Raw (conv_id, ts micros, text_len) points in ``[lo_us, hi_us)``."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            SELECT conv_id, epoch_us(ts) AS ts_us, text_len FROM read_parquet({_files_sql(raw_files)})
            WHERE conv_id IN ({', '.join(f"'{c}'" for c in convs)})
              AND epoch_us(ts) >= {lo_us} AND epoch_us(ts) < {hi_us}
            """
        ).df()
    finally:
        con.close()
