"""applyInPandasWithState: per-conversation running profiles across
micro-batches equal the batch aggregation at stream end."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timeseriesflattener_spark.streaming import start_stream
from timeseriesflattener_spark.streaming.stateful import (
    append_with_batch_id,
    running_cusum,
    running_funnel,
    running_locf,
    running_profiles,
)

SCHEMA = "conv_id string, ts timestamp, v double"
T0 = dt.datetime(2024, 1, 1)
PROFILE_FILES = [
    [("a", T0 + dt.timedelta(minutes=i), float(i)) for i in range(5)] + [("b", T0, 10.0)],
    [("a", T0 + dt.timedelta(hours=1, minutes=i), float(100 + i)) for i in range(3)],
    [("c", T0, -1.0), ("b", T0 + dt.timedelta(days=1), 20.0)],
]
FUNNEL_SCHEMA = "entity string, ts timestamp, event_type string"
FUNNEL_FILES = [
    [("a", T0, "view"), ("b", T0 + dt.timedelta(minutes=1), "click")],
    [
        ("a", T0 + dt.timedelta(hours=1), "click"),
        ("a", T0 + dt.timedelta(hours=2), "purchase"),
        ("b", T0 + dt.timedelta(hours=1), "view"),
    ],
]
CUSUM_SCHEMA = "entity string, ts timestamp, value double"
CUSUM_FILES = [
    [("a", T0, 10.0), ("a", T0 + dt.timedelta(minutes=1), 1.0)],
    [
        ("a", T0 + dt.timedelta(minutes=2), 8.0),
        ("a", T0 + dt.timedelta(minutes=3), 9.0),
        ("b", T0 + dt.timedelta(minutes=3), 2.0),
    ],
]
LOCF_SCHEMA = "entity string, ts timestamp, cents long"
LOCF_FILES = [
    [
        ("a", T0, 10),
        ("a", T0 + dt.timedelta(hours=2), 11),  # same day: last wins
        ("b", T0, 7),
    ],
    [("a", T0 + dt.timedelta(days=3), 30)],
]


def test_stateful_profiles_equal_batch(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    for rows in PROFILE_FILES:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = start_stream(
        spark, in_dir, SCHEMA, str(tmp_path / "ckpt"), running_profiles,
        append_with_batch_id(out_dir), max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    out = spark.read.parquet(out_dir)
    # state crossed batches: conversation 'a' was updated in >1 batch
    assert out.filter(F.col("conv_id") == "a").select("batch_id").distinct().count() > 1
    # latest row per conversation == batch ground truth
    w = Window.partitionBy("conv_id").orderBy(F.desc("batch_id"))
    latest = {
        r["conv_id"]: (r["n_events"], r["v_sum"], r["v_min"], r["v_max"])
        for r in out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    truth = {
        r["conv_id"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in spark.read.parquet(in_dir)
        .groupBy("conv_id")
        .agg(
            F.count("v").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert latest == truth


def test_stateful_funnel_state_crosses_batches(spark, tmp_path):
    """Entity 'a' views in batch 1 and clicks/purchases in batch 2 —
    the final progress is 3 only if the anchored-chain state survives
    the micro-batch boundary. Entity 'b' clicks in batch 1 (before any
    view) then views in batch 2: progress 1. Final frame == the batch
    operator on the concatenated input (the in-order ingest contract:
    files are time-split, appended oldest-first)."""
    from timeseriesflattener_spark.operators.events import funnel

    schema = FUNNEL_SCHEMA
    in_dir = str(tmp_path / "in")
    for rows in FUNNEL_FILES:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    out_dir = str(tmp_path / "out")
    q = start_stream(
        spark, in_dir, schema, str(tmp_path / "ckpt"),
        lambda s: running_funnel(
            s, ["view", "click", "purchase"], within=dt.timedelta(days=1)
        ),
        append_with_batch_id(out_dir),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    out = spark.read.parquet(out_dir)
    # 'a' re-emitted in both batches (update mode)
    assert out.filter(F.col("entity") == "a").select(
        "batch_id"
    ).distinct().count() == 2
    w = Window.partitionBy("entity").orderBy(F.desc("batch_id"))
    final = {
        r["entity"]: (r["steps_completed"], r["ts_step1"], r["ts_step3"])
        for r in out.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("steps_completed") >= 1))
        .collect()
    }
    batch = {
        r["entity"]: (r["steps_completed"], r["ts_step1"], r["ts_step3"])
        for r in funnel(
            spark.read.parquet(in_dir),
            ["view", "click", "purchase"],
            within=dt.timedelta(days=1),
            entity_col="entity",
        ).collect()
    }
    assert final == batch
    assert final["a"][0] == 3 and final["b"][0] == 1
    assert final["a"][2] == T0 + dt.timedelta(hours=2)


def test_stateful_cusum_state_crosses_batches(spark, tmp_path):
    """Entity 'a' accumulates drift across two micro-batches: values
    [10, 1] then [8, 9] with target=5/slack=1 give s_hi 4,0 then 2,5 —
    the final 5 requires the clamp at batch-1's end to carry over.
    Matches the batch operator on the concatenated input exactly."""
    from timeseriesflattener_spark.operators.rolling import cusum

    schema = CUSUM_SCHEMA
    in_dir = str(tmp_path / "in")
    for rows in CUSUM_FILES:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    out_dir = str(tmp_path / "out")
    q = start_stream(
        spark, in_dir, schema, str(tmp_path / "ckpt"),
        lambda s: running_cusum(s, target=5, slack=1, threshold=4),
        append_with_batch_id(out_dir),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    out = spark.read.parquet(out_dir)
    assert out.filter(F.col("entity") == "a").select(
        "batch_id"
    ).distinct().count() == 2
    w = Window.partitionBy("entity").orderBy(F.desc("batch_id"))
    final = {
        r["entity"]: (r["cusum_hi"], r["cusum_lo"], r["alarm_hi"], r["n_obs"])
        for r in out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert final["a"] == (5.0, 0.0, True, 4)
    assert final["b"] == (0.0, 2.0, False, 1)
    # equals the batch operator's LAST row per entity
    batch = cusum(
        spark.read.parquet(in_dir), target=5, slack=1, threshold=4,
        entity_col="entity", order_col=None,
    )
    last = {
        r["entity"]: (r["cusum_hi"], r["cusum_lo"], r["alarm_hi"])
        for r in batch.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("entity").orderBy(F.desc("ts"))
            ),
        ).filter(F.col("rn") == 1).collect()
    }
    assert {k: v[:3] for k, v in final.items()} == last


def test_stateful_cusum_tie_break_by_order_col(spark, tmp_path):
    """Two equal-timestamp observations arrive in REVERSED file row
    order; with order_col the fold still processes them by event_id,
    matching the batch operator exactly. The clamp makes order visible:
    from 0 with target=5/slack=1, [-5 then +3] ends at 3 while
    [+3 then -5] ends at 0."""
    from timeseriesflattener_spark.operators.rolling import cusum

    t0 = dt.datetime(2024, 1, 1)
    schema = "entity string, ts timestamp, event_id long, value double"
    # file row order: event 1 (value 9 -> d=+3) BEFORE event 0 (1 -> -5)
    rows = [("a", t0, 1, 9.0), ("a", t0, 0, 1.0)]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)
    out_dir = str(tmp_path / "out")
    q = start_stream(
        spark, in_dir, schema, str(tmp_path / "ckpt"),
        lambda s: running_cusum(
            s, target=5, slack=1, threshold=100, order_col="event_id"
        ),
        append_with_batch_id(out_dir),
    )
    q.awaitTermination(300)
    final = spark.read.parquet(out_dir).collect()[0]
    # event_id order: d = -5 (clamp to 0) then +3 -> 3.0
    assert final["cusum_hi"] == 3.0
    batch = cusum(
        spark.read.parquet(in_dir), target=5, slack=1, threshold=100,
        entity_col="entity",
    ).orderBy(F.desc("event_id")).collect()[0]
    assert batch["cusum_hi"] == final["cusum_hi"]


def test_stateful_locf_carries_across_batches(spark, tmp_path):
    """Entity 'a': day 0 = 10 then (batch 2) day 3 = 30 — the 2-day gap
    spans the batch boundary, so days 1-2 must be filled FROM STATE
    (carry 10) in batch 2. Multiple same-day events take the LAST by
    ts; single-observation entity 'b' emits exactly one unfilled row."""
    day = 86_400_000_000
    schema = LOCF_SCHEMA
    in_dir = str(tmp_path / "in")
    for rows in LOCF_FILES:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    out_dir = str(tmp_path / "out")
    q = start_stream(
        spark, in_dir, schema, str(tmp_path / "ckpt"),
        lambda s: running_locf(s, bucket_micros=day),
        append_with_batch_id(out_dir),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    out = spark.read.parquet(out_dir)
    rows = {
        (r["entity"], r["bucket_start_us"]): (r["cents"], r["filled"], r["batch_id"])
        for r in out.collect()
    }
    base = 19723 * day  # 2024-01-01 in epoch days
    assert rows[("a", base)] == (11, False, 0)          # last-of-day wins
    assert rows[("a", base + day)] == (11, True, 1)     # filled from state
    assert rows[("a", base + 2 * day)] == (11, True, 1)
    assert rows[("a", base + 3 * day)] == (30, False, 1)
    assert rows[("b", base)] == (7, False, 0)
    assert len(rows) == 5  # nothing re-emitted, no spurious buckets



# twin -> (schema, input files in arrival order, transform, state key);
# the files are the fixtures of the uninterrupted tests above
RESTART_CASES = {
    "profiles": (SCHEMA, PROFILE_FILES, running_profiles, ["conv_id"]),
    "funnel": (
        FUNNEL_SCHEMA,
        FUNNEL_FILES,
        lambda s: running_funnel(
            s, ["view", "click", "purchase"], within=dt.timedelta(days=1)
        ),
        ["entity"],
    ),
    "cusum": (
        CUSUM_SCHEMA,
        CUSUM_FILES,
        lambda s: running_cusum(s, target=5, slack=1, threshold=4),
        ["entity"],
    ),
    "locf": (
        LOCF_SCHEMA,
        LOCF_FILES,
        lambda s: running_locf(s, bucket_micros=86_400_000_000),
        ["entity", "bucket_start_us"],
    ),
}


@pytest.mark.parametrize("twin", sorted(RESTART_CASES))
def test_restart_on_same_checkpoint_equals_uninterrupted_run(spark, tmp_path, twin):
    """Stop after the first files, add the rest, restart on the same
    checkpoint: the state carried in the checkpoint makes the current
    (max-batch_id) row per key equal the uninterrupted run's. The tests
    above tie the uninterrupted run to the batch twin."""
    schema, files, transform, keys = RESTART_CASES[twin]

    def append(in_dir, batches):
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)

    def run(name):
        start_stream(
            spark, str(tmp_path / f"{name}_in"), schema, str(tmp_path / f"{name}_ckpt"),
            transform, append_with_batch_id(str(tmp_path / f"{name}_out")),
            max_files_per_trigger=1,
        ).awaitTermination(300)

    def current(name):
        out = spark.read.parquet(str(tmp_path / f"{name}_out"))
        w = Window.partitionBy(*keys).orderBy(F.desc("batch_id"))
        latest = out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        return sorted((tuple(r) for r in latest.drop("rn").collect()), key=repr)

    append(str(tmp_path / "whole_in"), files)
    run("whole")
    half = len(files) // 2
    append(str(tmp_path / "split_in"), files[:half])
    run("split")
    append(str(tmp_path / "split_in"), files[half:])
    run("split")
    assert current("split") == current("whole")
    # one batch per file, numbered on across the restart
    split = spark.read.parquet(str(tmp_path / "split_out"))
    assert {r[0] for r in split.select("batch_id").distinct().collect()} == set(
        range(len(files))
    )
