"""Gorilla chunk codec: hypothesis roundtrip properties + Spark
encode/decode roundtrip + compression sanity (SURVEY.md §5 strategy (c))."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from timeseriesflattener_spark.functions.gorilla import (
    _decode_blobs,
    _encode_group_frame,
    decode_chunks,
    decode_series,
    encode_chunks,
    encode_series,
)
from timeseriesflattener_spark.sources.transcripts import (
    derive_channels,
    synthesize_transcripts,
)
from timeseriesflattener_spark.testing import jobs_started

from . import gorilla_reference as ref


def _roundtrip(ts, vals):
    t2, v2 = decode_series(encode_series(np.asarray(ts, dtype=np.int64), np.asarray(vals)))
    assert list(t2) == list(ts)
    assert len(v2) == len(vals)
    for a, b in zip(v2, vals):
        if math.isnan(b):
            assert math.isnan(a)
        else:
            assert a == b  # bit-exact


def test_roundtrip_basic():
    _roundtrip([0, 60, 120, 185, 250], [1.0, 1.0, 2.5, -3.0, float("nan")])


def test_roundtrip_empty_and_single():
    _roundtrip([], [])
    _roundtrip([123456789], [math.pi])


def test_constant_series_compresses_well():
    n = 10_000
    ts = np.arange(n, dtype=np.int64) * 60_000_000  # perfectly regular
    vals = np.full(n, 42.0)
    blob = encode_series(ts, vals)
    assert len(blob) < n * 16 / 50  # >50x on constant+regular


# ---------------------------------------------- differential vs reference
#
# The library has one batch codec; tests/gorilla_reference.py keeps the
# per-chunk codec it replaced. Every chunk length that crosses a
# 128-value block boundary is here, with series that hit width 0, width
# 64, repeated timestamps, pre-epoch timestamps and special floats.

_DIFF_NS = [1, 2, 3, 4, 5, 8, 64, 128, 129, 130, 131, 200, 256, 257, 258, 370, 1000, 4096]
_DIFF_KINDS = ["random", "dense", "constant", "special", "pre_epoch", "zero_xor_runs"]
_PRUNING = [(True, True), (True, False), (False, True), (False, False)]


def _diff_series(n: int, kind: str) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(n * 31 + _DIFF_KINDS.index(kind))
    if kind == "random":  # full-range dod and xor: widths up to 64
        ts = np.sort(rng.integers(-(2**61), 2**61, n))
        vals = rng.standard_normal(n) * 10.0 ** rng.integers(-300, 300, n)
    elif kind == "dense":  # regular cadence with jitter, rounded values
        ts = 1_700_000_000_000_000 + np.arange(n) * 60_000_000 + rng.integers(0, 1000, n)
        vals = np.round(rng.standard_normal(n), 1)
    elif kind == "constant":  # dod == 0 and xor == 0: every width is 0
        ts = np.arange(n) * 1_000_000
        vals = np.full(n, 42.0)
    elif kind == "special":  # repeated timestamps, NaN / ±inf / ±0.0
        ts = np.cumsum(rng.integers(0, 3, n))
        vals = rng.choice([np.nan, np.inf, -np.inf, -0.0, 0.0, 1.0], n)
    elif kind == "pre_epoch":  # negative µs, irregular gaps
        ts = -2_000_000_000_000_000 + np.cumsum(rng.integers(1, 10**9, n))
        vals = rng.standard_normal(n)
    else:  # long runs of one value: whole blocks of zero XOR
        ts = np.arange(n) * 5_000_000
        vals = np.repeat(rng.standard_normal(n // 150 + 1), 150)[:n]
    return ts.astype(np.int64), np.asarray(vals, dtype=np.float64)


_DIFF_CASES = [(n, kind, *_diff_series(n, kind)) for n in _DIFF_NS for kind in _DIFF_KINDS]


def _bits(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a, dtype=np.float64).view(np.uint64)


def test_encode_matches_reference():
    """Byte-identical chunks from the batch encoder (one frame holding
    every case) and from encode_series."""
    pdf = pd.concat(
        [
            pd.DataFrame({"conv_id": f"c{i:04d}", "chunk_start": 0, "__ts_micros": ts, "__value": v})
            for i, (_, _, ts, v) in enumerate(_DIFF_CASES)
        ],
        ignore_index=True,
    )
    out = _encode_group_frame(pdf)
    assert list(out["n_points"]) == [n for n, *_ in _DIFF_CASES]
    for blob, (n, kind, ts, v) in zip(out["chunk"], _DIFF_CASES):
        want = ref.encode_series(ts, v)
        assert bytes(blob) == want, (n, kind)
        assert encode_series(ts, v) == want, (n, kind)


@pytest.mark.parametrize("need_ts,need_values", _PRUNING)
def test_decode_matches_reference(need_ts, need_values):
    """Bit-identical decodes from the batch decoder (one call over every
    case) and from decode_series, under all four pruning combinations."""
    blobs = [ref.encode_series(ts, v) for _, _, ts, v in _DIFF_CASES]
    want = [ref.decode_series(b, need_ts, need_values) for b in blobs]
    ns, ts_all, val_all = _decode_blobs(blobs, need_ts, need_values)
    assert list(ns) == [n for n, *_ in _DIFF_CASES]
    if need_ts:
        assert np.array_equal(ts_all, np.concatenate([t for t, _ in want]))
    else:
        assert ts_all is None
    if need_values:
        assert np.array_equal(_bits(val_all), _bits(np.concatenate([v for _, v in want])))
    else:
        assert val_all is None
    for blob, (t_ref, v_ref), (n, kind, *_) in zip(blobs, want, _DIFF_CASES):
        t, v = decode_series(blob, need_ts, need_values)
        assert t.dtype == np.int64 and np.array_equal(t, t_ref), (n, kind)
        assert v.dtype == np.float64 and np.array_equal(_bits(v), _bits(v_ref)), (n, kind)


def test_format_golden_chunk():
    """A 5-point pre-epoch chunk with -0.0 and NaN, as the GORB v1
    encoder has always written it."""
    golden = bytes.fromhex(
        "474f5242010500000000a028e2ebffffff000000000000f83f00879303000000"
        "000300000001001b0b0000000000000000000b9386fe00040000000100402000"
        "00000000000000000000bff8000000000000fff80000000000003ffa00000000"
        "0000"
    )
    ts = np.array(
        [-86_400_000_000, -86_340_000_000, -86_280_000_000, -86_219_999_999, -86_100_000_000]
    )
    vals = np.array([1.5, 1.5, -0.0, math.nan, 2.25])
    assert encode_series(ts, vals) == golden
    t, v = decode_series(golden)
    assert np.array_equal(t, ts) and np.array_equal(_bits(v), _bits(vals))


@pytest.mark.parametrize("n", [1, 2, 5, 300])
def test_corrupt_chunks_rejected(n):
    """A blob cut short, padded, or whose stream header disagrees with
    its point count raises ValueError — it never decodes to wrong
    values."""
    ts = np.arange(n, dtype=np.int64) * 1_000_003
    blob = encode_series(ts, np.sin(np.arange(n)))
    bad = [blob[:-1], blob[:-3], blob + b"\x00", blob + b"\x00\x00\x00", blob[:4]]
    if n >= 2:  # same length, ts stream count field off by one
        count = int.from_bytes(blob[33:37], "little") + 1
        bad.append(blob[:33] + count.to_bytes(4, "little") + blob[37:])
    for b in bad:
        with pytest.raises(ValueError):
            decode_series(b)
        for need_ts, need_values in _PRUNING:
            with pytest.raises(ValueError):
                _decode_blobs([blob, b], need_ts, need_values)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.floats(allow_nan=True, allow_infinity=True, width=64),
        ),
        min_size=0,
        max_size=400,
    )
)
def test_roundtrip_property(pairs):
    pairs.sort(key=lambda p: p[0])
    ts = [p[0] for p in pairs]
    vals = [p[1] for p in pairs]
    _roundtrip(ts, vals)


def test_spark_roundtrip(spark):
    t = synthesize_transcripts(spark, n_conversations=12, avg_turns=30, seed=5, span_days=1)
    ch = derive_channels(t).cache()
    chunks = encode_chunks(ch, "text_len", tier="1h").cache()
    assert chunks.count() > 0
    decoded = decode_chunks(chunks, value_col="text_len")

    orig = {
        (r["conv_id"], r["ts"]): r["text_len"]
        for r in ch.select("conv_id", "ts", "text_len").collect()
    }
    got = {(r["conv_id"], r["ts"]): r["text_len"] for r in decoded.collect()}
    assert got == orig

    # compression: chunk bytes well under 16 bytes/point raw
    from pyspark.sql import functions as F

    sizes = chunks.agg(
        F.sum(F.length("chunk")).alias("enc"), F.sum("raw_bytes").alias("raw")
    ).first()
    assert sizes["enc"] < sizes["raw"]


def test_decode_time_range_pruning(spark, tmp_path):
    """time_range decode: values exactly equal the full decode filtered
    to [lo, hi), chunk pruning reaches the parquet scan, and untouched
    chunks are excluded before decoding."""
    import datetime as dt

    from pyspark.sql import functions as F

    from timeseriesflattener_spark.functions.gorilla import decode_chunks, encode_chunks

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c", i, t0 + dt.timedelta(hours=6 * i), float(i)) for i in range(20)
    ]  # 5 day-chunks of 4 points
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, value double")
    path = str(tmp_path / "chunks")
    encode_chunks(df, "value", tier="1d").write.parquet(path)
    chunks = spark.read.parquet(path)

    lo, hi = t0 + dt.timedelta(days=1, hours=3), t0 + dt.timedelta(days=3)
    pruned = decode_chunks(chunks, time_range=(lo, hi), tier="1d")
    full = decode_chunks(chunks)
    want = {
        (r["conv_id"], r["ts"], r["value"])
        for r in full.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))).collect()
    }
    got = {(r["conv_id"], r["ts"], r["value"]) for r in pruned.collect()}
    assert got == want and len(got) == 7  # 1d03h..3d at 6h cadence

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "chunk_start" in plan.split("PushedFilters")[1][:200]


def test_decode_column_pruning(spark, tmp_path):
    """Codec-level column pruning: values-only and ts-only decodes equal
    the full decode's projections, and combine with time_range trimming
    (which forces ts decoding internally but keeps it out of the output)."""
    import datetime as dt

    from timeseriesflattener_spark.functions.gorilla import decode_chunks, encode_chunks

    t0 = dt.datetime(2024, 1, 1)
    rows = [("c", i, t0 + dt.timedelta(hours=i), float(i) * 1.5) for i in range(30)]
    # one 400-point chunk: four 128-value blocks per stream
    rows += [
        ("long", i, t0 + dt.timedelta(minutes=3 * i, microseconds=i % 7), math.sin(i) * 100)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, value double")
    chunks = encode_chunks(df, "value", tier="1d")
    chunks.write.parquet(str(tmp_path / "c"))
    chunks = spark.read.parquet(str(tmp_path / "c"))
    assert 400 in {r["n_points"] for r in chunks.select("n_points").collect()}

    full = decode_chunks(chunks).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, df.drop("turn_idx").collect()))
    vals_only = decode_chunks(chunks, columns=["conv_id", "value"]).collect()
    ts_only = decode_chunks(chunks, columns=["conv_id", "ts"]).collect()
    assert sorted(r["value"] for r in vals_only) == sorted(r["value"] for r in full)
    assert sorted(r["ts"] for r in ts_only) == sorted(r["ts"] for r in full)
    assert vals_only[0].asDict().keys() == {"conv_id", "value"}

    lo, hi = t0 + dt.timedelta(hours=5), t0 + dt.timedelta(hours=10)
    trimmed = decode_chunks(
        chunks, columns=["conv_id", "value"], time_range=(lo, hi), tier="1d"
    ).collect()
    want = sorted(
        r["value"] for r in full if lo <= r["ts"] < hi
    )
    assert sorted(r["value"] for r in trimmed) == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown decode columns"):
        decode_chunks(chunks, columns=["nope"])


# --------------------------------------------- stage sizing and carry path

_HOUR_US = 3_600_000_000


def _points_frame(spark, n_convs: int):
    """(conv_id, turn_idx, ts, value) rows: conversation i holds
    i % 13 + 1 points over three hours, with repeated timestamps
    (ordered by turn_idx), NaN and -0.0. Returns the frame and each
    (conv_id, chunk_start) group's points as (ts µs, value) in encode
    order."""
    rng = np.random.default_rng(7)
    rows, groups = [], {}
    for i in range(n_convs):
        conv = f"c{i:03d}"
        ts = np.sort(1_700_000_000_000_000 + rng.integers(0, 3 * _HOUR_US, i % 13 + 1))
        ts[1::4] = ts[::4][: len(ts[1::4])]  # ties, broken by turn_idx
        ts.sort()
        vals = rng.choice([np.nan, -0.0, 1.5, 2.0, rng.standard_normal()], len(ts))
        for k, (t, v) in enumerate(zip(ts, vals)):
            rows.append((conv, k, int(t), float(v)))
            groups.setdefault((conv, int(t) // _HOUR_US * _HOUR_US), []).append((int(t), float(v)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts_us long, value double"
    ).select("conv_id", "turn_idx", F.timestamp_micros("ts_us").alias("ts"), "value")
    return df, groups


def _chunk_rows(chunks) -> list[tuple]:
    return sorted(
        (r["conv_id"], r["chunk_start"], r["n_points"], r["raw_bytes"], bytes(r["chunk"]))
        for r in chunks.collect()
    )


def test_small_encode_runs_one_python_task(spark, tmp_path):
    """AQE sizes the encode shuffle: a small input encodes in one Python
    task and writes one archive file, and decoding that archive runs one
    task."""
    df, groups = _points_frame(spark, 20)
    path = str(tmp_path / "archive")

    def last_stage_tasks(jobs: list[int]) -> int:
        tracker = spark.sparkContext.statusTracker()
        stage = max(s for j in jobs for s in tracker.getJobInfo(j).stageIds)
        return tracker.getStageInfo(stage).numTasks

    _, jobs = jobs_started(spark, lambda: encode_chunks(df, "value", tier="1h").write.parquet(path))
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1, files
    assert last_stage_tasks(jobs) == 1

    chunks = spark.read.parquet(path)
    assert chunks.count() == len(groups)
    _, jobs = jobs_started(spark, lambda: decode_chunks(chunks).write.format("noop").mode("overwrite").save())
    assert last_stage_tasks(jobs) == 1


def test_encode_chunks_identical_across_batches_and_partitions(spark):
    """The batch carry path: groups split across Arrow batches
    (maxRecordsPerBatch=3) and spread over every shuffle partition
    (coalescing off) encode to the same chunk rows as the default run,
    and each chunk equals the reference encode of its group."""
    df, groups = _points_frame(spark, 40)
    runs = {
        "default": {},
        "split batches": {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"},
        "no coalescing": {"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    }
    got = {}
    for name, conf in runs.items():
        old = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            got[name] = _chunk_rows(encode_chunks(df, "value", tier="1h"))
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    assert got["split batches"] == got["default"]
    assert got["no coalescing"] == got["default"]

    want = []
    for (conv, start), pts in groups.items():
        ts = np.array([t for t, _ in pts], dtype=np.int64)
        vals = np.array([v for _, v in pts], dtype=np.float64)
        want.append((conv, start, len(pts), 16 * len(pts), ref.encode_series(ts, vals)))
    assert got["default"] == sorted(want)
    assert max(n for _, _, n, _, _ in want) > 3  # some group spans batches
