"""Plan-shape guards: catch regressions that would silently wreck the
100 TB story even while small-data results stay correct."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from timeseriesflattener_spark import (
    Flattener,
    PredictionTimeFrame,
    PredictorSpec,
    StaticFrame,
    StaticSpec,
    TimeDeltaSpec,
    TimestampValueFrame,
    ValueFrame,
    strings_to_aggregators,
)
from timeseriesflattener_spark.plans import rollup as R
from timeseriesflattener_spark.sources.transcripts import derive_channels, synthesize_transcripts
from timeseriesflattener_spark.testing import str_to_df


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_temporal_flatten_is_one_join_one_agg(spark):
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-03")
    value_frame = str_to_df(
        spark, "entity_id,value,timestamp\n1,1,2021-01-01\n1,2,2021-01-02"
    )
    out = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
        specs=[
            PredictorSpec(
                value_frame=ValueFrame(df=value_frame),
                lookbehind_distances=[dt.timedelta(days=1), dt.timedelta(days=30)],
                aggregators=strings_to_aggregators(["mean", "max", "count", "sum"]),
                fallback=0,
            )
        ]
    )
    from timeseriesflattener_spark.operators.temporal import process_temporal_spec

    spec = PredictorSpec(
        value_frame=ValueFrame(df=value_frame),
        lookbehind_distances=[dt.timedelta(days=1), dt.timedelta(days=30)],
        aggregators=strings_to_aggregators(["mean", "max", "count", "sum"]),
        fallback=0,
    )
    plan = _plan(process_temporal_spec(spec, PredictionTimeFrame(df=pred_frame)))
    # 2 windows x 4 aggregators fused into ONE join + ONE aggregation
    assert plan.count("Join") == 1, plan
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate") + plan.count(
        "ObjectHashAggregate"
    )
    assert n_aggs <= 2, plan  # partial + final of the same aggregation
    # the union-of-windows range is pushed into the join condition
    assert "__value_micros" in plan and "__pred_micros" in plan


def test_static_join_is_broadcast(spark):
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-03")
    static_frame = str_to_df(spark, "entity_id,sex\n1,female")
    from timeseriesflattener_spark.operators.static import join_static_spec

    spec = StaticSpec(
        value_frame=StaticFrame(df=static_frame), column_prefix="pred", fallback=0
    )
    plan = _plan(join_static_spec(pred_frame, spec, "entity_id"))
    assert "BroadcastHashJoin" in plan, plan


def _shape(plan: str) -> dict[str, int]:
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "shuffle": plan.count("Exchange") - plan.count("BroadcastExchange"),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
    }


def test_entity_specs_add_only_broadcast_joins(spark):
    """Static and time-delta features are per-entity lookups: adding one
    of each to a one-temporal-spec flatten adds a broadcast hash join
    each, and no shuffle exchange or sort-merge join (no uuid-keyed side
    frame joined back onto the prediction times). Size-based broadcasts
    are off, as for frames too large to broadcast, so only the joins the
    library hints as broadcast are broadcast."""
    from timeseriesflattener_spark import TimeDeltaSpec, TimestampValueFrame

    pred_frame = str_to_df(
        spark, "entity_id,pred_timestamp\n1,2021-01-03\n2,2021-01-05"
    )
    values = str_to_df(spark, "entity_id,value,timestamp\n1,1,2021-01-01\n2,2,2021-01-02")
    static = str_to_df(spark, "entity_id,sex\n1,0\n2,1")
    births = str_to_df(spark, "entity_id,timestamp\n1,2000-01-01\n2,1990-06-01")
    temporal = PredictorSpec(
        value_frame=ValueFrame(df=values),
        lookbehind_distances=[dt.timedelta(days=30)],
        aggregators=strings_to_aggregators(["mean"]),
        fallback=0,
    )
    per_entity = [
        StaticSpec(value_frame=StaticFrame(df=static), column_prefix="pred", fallback=0),
        TimeDeltaSpec(
            init_frame=TimestampValueFrame(df=births), output_name="age", fallback=0
        ),
    ]
    fl = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = _shape(_plan(fl.aggregate_timeseries([temporal]).df))
        wide = _shape(_plan(fl.aggregate_timeseries([temporal, *per_entity]).df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert wide == {**base, "bhj": base["bhj"] + 2}, (base, wide)


def test_tier_partials_are_hash_aggregated(spark):
    ch = derive_channels(synthesize_transcripts(spark, n_conversations=20, seed=3))
    p = R.partial_aggregate(ch, ["text_len", "n_tokens"], tier="1m")
    plan = _plan(p)
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan
    # map-side partial combine present (partial_ prefix in agg functions)
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2


def test_rollup_chain_no_extra_exchange_than_needed(spark):
    ch = derive_channels(synthesize_transcripts(spark, n_conversations=20, seed=3))
    p1m = R.partial_aggregate(ch, ["text_len"], tier="1m")
    p1d = R.rollup(R.rollup(p1m, ["text_len"], to_tier="1h"), ["text_len"], to_tier="1d")
    plan = _plan(p1d)
    # one exchange per aggregation boundary, no more (3 aggs -> <=3)
    assert plan.count("Exchange") <= 3, plan


def test_parquet_filter_pushdown(spark, tmp_path):
    path = str(tmp_path / "events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("user_id") == 3)
        .select("user_id", "ts", "value")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "user_id" in plan.split("PushedFilters")[1][:80], plan
    # column pruning: text-free 3-column read schema
    assert "event_type" not in plan.split("ReadSchema")[1][:200], plan


def test_minhash_single_shingle_scan(spark):
    """VERDICT r1 defect #1: the minhash pipeline must derive signatures
    AND both verification sides from ONE persisted hashed-shingle frame,
    not recompute the text scan 3x. Evidence: exactly one RDD in the
    block manager after execution, and the downstream plan reads it via
    InMemoryTableScan."""
    from timeseriesflattener_spark.operators.dedup import minhash_dedup_pairs
    from timeseriesflattener_spark.testing import str_to_df

    spark.catalog.clearCache()
    rows = "\n".join(
        f"{i},the quick brown fox {i % 7} jumps over the lazy dog {i % 3} again and again"
        for i in range(60)
    )
    docs = str_to_df(spark, "doc_id,text\n" + rows)
    df = minhash_dedup_pairs(docs, threshold=0.5)
    df.count()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) == 1, [str(i) for i in infos]
    plan = _plan(df)
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_bucketed_flatten_join_has_no_join_exchanges(spark, tmp_path):
    """Bucketing both sides of the temporal flatten by entity removes the
    join-side shuffles entirely: only the post-join uuid aggregation
    exchanges remain (the co-located-join scale path, SURVEY §2.3)."""
    import datetime as dt

    from timeseriesflattener_spark import (
        Flattener,
        PredictionTimeFrame,
        PredictorSpec,
        ValueFrame,
        strings_to_aggregators,
    )
    from timeseriesflattener_spark.sources.io import read_bucketed, write_bucketed

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(F.col("user_id").alias("entity_id"), F.col("ts").alias("timestamp"), "value")
    )
    pred = ev.select("entity_id").distinct().select(
        "entity_id", F.lit("2024-01-15 00:00:00").cast("timestamp").alias("pred_timestamp")
    )

    def flatten_plan(pred_df, val_df):
        spec = PredictorSpec(
            value_frame=ValueFrame(df=val_df),
            lookbehind_distances=[dt.timedelta(days=30)],
            aggregators=strings_to_aggregators(["mean", "count"]),
            fallback=0,
        )
        out = Flattener(
            predictiontime_frame=PredictionTimeFrame(df=pred_df)
        ).aggregate_timeseries([spec]).df
        return _plan(out), out

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base_plan, base_df = flatten_plan(pred, ev)
        write_bucketed(pred, "tq_pred", "entity_id", num_buckets=4)
        write_bucketed(ev, "tq_vals", "entity_id", num_buckets=4)
        b_plan, b_df = flatten_plan(
            read_bucketed(spark, "tq_pred"), read_bucketed(spark, "tq_vals")
        )
        assert b_plan.count("Exchange hashpartitioning") < base_plan.count(
            "Exchange hashpartitioning"
        )
        # the join itself is exchange-free: every remaining exchange keys
        # on the post-join uuid, none on entity_id
        for frag in b_plan.split("Exchange hashpartitioning")[1:]:
            assert "prediction_time_uuid" in frag[:120]
        # and results are identical
        key = "pred_value_within_0_to_30_days_count_fallback_0"
        a = {(r["entity_id"], r[key]) for r in base_df.collect()}
        b = {(r["entity_id"], r[key]) for r in b_df.collect()}
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS tq_pred")
        spark.sql("DROP TABLE IF EXISTS tq_vals")


def test_featwidth_fused_plan(spark):
    """The bench feature-width shape (8 specs x 4 windows x 3
    aggregators = 96 features, one shared wide frame) still fuses into
    ONE temporal join + ONE aggregation — the one-plan fusion holds at
    spec-count scale, not just at 2 specs (VERDICT r5 #7)."""
    from timeseriesflattener_spark.operators.temporal import (
        process_temporal_specs_fused,
    )

    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-03")
    wide = str_to_df(
        spark,
        "entity_id,timestamp," + ",".join(f"v{i}" for i in range(8)) + "\n"
        + "1,2021-01-01," + ",".join(str(i) for i in range(8)),
    )
    windows = [dt.timedelta(days=d) for d in (7, 30, 90, 365)]
    specs = [
        PredictorSpec(
            value_frame=ValueFrame(df=wide, value_cols=[f"v{i}"]),
            lookbehind_distances=windows,
            aggregators=strings_to_aggregators(["mean", "max", "count"]),
            fallback=0,
        )
        for i in range(8)
    ]
    fused = process_temporal_specs_fused(
        specs, PredictionTimeFrame(df=pred_frame)
    )
    # 8 x 4 x 3 = 96 feature columns + the prediction_time_uuid key
    assert len(fused.columns) == 96 + 1, fused.columns
    plan = _plan(fused)
    assert plan.count("Join") == 1, plan
    n_aggs = (
        plan.count("HashAggregate")
        + plan.count("SortAggregate")
        + plan.count("ObjectHashAggregate")
    )
    assert n_aggs <= 2, plan


def test_sketch_and_frequency_partials_hash_aggregate(spark):
    """The new tier families must stay in codegen'd HashAggregate like
    the moment partials (struct-free long/double schemas)."""
    import datetime as dt

    from timeseriesflattener_spark.plans.sketch import partial_sketch
    from timeseriesflattener_spark.plans.topk import partial_frequencies

    df = spark.createDataFrame(
        [("c", dt.datetime(2024, 1, 1), 1.5, "tool")],
        "conv_id string, ts timestamp, value double, etype string",
    )
    for frame in (
        partial_sketch(df, "value", tier="1m"),
        partial_frequencies(df, "etype", tier="1m"),
    ):
        plan = _plan(frame)
        assert "HashAggregate" in plan, plan
        assert "SortAggregate" not in plan, plan


def test_fused_specs_share_one_join_and_agg(spark):
    """Two specs over the SAME wide df (disjoint value_cols subsets)
    collapse to ONE join + ONE aggregation; values match the unfused
    per-spec computation exactly."""
    from timeseriesflattener_spark.operators.temporal import process_temporal_spec

    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-03\n2,2021-01-03")
    wide = str_to_df(
        spark,
        """entity_id,x,y,timestamp
        1,1,10,2021-01-01
        1,2,20,2021-01-02
        2,5,50,2021-01-02""",
    )
    spec_x = PredictorSpec(
        value_frame=ValueFrame(df=wide, value_cols=["x"]),
        lookbehind_distances=[dt.timedelta(days=2)],
        aggregators=strings_to_aggregators(["mean", "max"]),
        fallback=0,
    )
    spec_y = PredictorSpec(
        value_frame=ValueFrame(df=wide, value_cols=["y"]),
        lookbehind_distances=[dt.timedelta(days=30)],
        aggregators=strings_to_aggregators(["sum"]),
        fallback=-1.0,
    )
    from timeseriesflattener_spark.operators.temporal import (
        process_temporal_specs_fused,
    )

    pred0 = PredictionTimeFrame(df=pred_frame)
    fused_plan = _plan(process_temporal_specs_fused([spec_x, spec_y], pred0))
    assert fused_plan.count("Join") == 1, fused_plan  # ONE temporal join for both specs
    n_aggs = (
        fused_plan.count("HashAggregate")
        + fused_plan.count("SortAggregate")
        + fused_plan.count("ObjectHashAggregate")
    )
    assert n_aggs <= 2, fused_plan  # partial + final of ONE fused aggregation

    fused = Flattener(
        predictiontime_frame=PredictionTimeFrame(df=pred_frame)
    ).aggregate_timeseries(specs=[spec_x, spec_y])
    plan = _plan(fused.df)
    # 1 temporal join + 1 assembly join (unfused would pay 2 + 2)
    assert plan.count("Join") == 2, plan

    pred = PredictionTimeFrame(df=pred_frame)
    sep_x = process_temporal_spec(spec_x, pred)
    sep_y = process_temporal_spec(spec_y, pred)
    expect = {
        r["prediction_time_uuid"]: r.asDict()
        for r in sep_x.join(sep_y, "prediction_time_uuid").collect()
    }
    got = {r["prediction_time_uuid"]: r.asDict() for r in fused.df.collect()}
    assert set(got) == set(expect)
    for uuid, row in expect.items():
        for col, v in row.items():
            assert got[uuid][col] == v, (uuid, col, v, got[uuid][col])
    # spec-order column contract preserved under fusion
    feat_cols = [c for c in fused.df.columns if "_within_" in c]
    assert feat_cols == [
        "pred_x_within_0_to_2_days_mean_fallback_0",
        "pred_x_within_0_to_2_days_max_fallback_0",
        "pred_y_within_0_to_30_days_sum_fallback_-1.0",
    ]


def test_stepped_path_fuses_shared_frames(spark):
    """step_size chunking keeps frame identity: specs sharing a df fuse
    into one temporal join (not one per spec), and stepped output equals
    the unstepped output exactly."""
    import datetime as dtm

    pred_frame = str_to_df(
        spark,
        "entity_id,pred_timestamp\n1,2021-01-03\n1,2021-02-10\n2,2021-02-11",
    )
    wide = str_to_df(
        spark,
        """entity_id,x,y,timestamp
        1,1,10,2021-01-01
        1,2,20,2021-02-08
        2,5,50,2021-02-09""",
    )
    spec_x = PredictorSpec(
        value_frame=ValueFrame(df=wide, value_cols=["x"]),
        lookbehind_distances=[dt.timedelta(days=7)],
        aggregators=strings_to_aggregators(["mean"]),
        fallback=-1.0,
    )
    spec_y = PredictorSpec(
        value_frame=ValueFrame(df=wide, value_cols=["y"]),
        lookbehind_distances=[dt.timedelta(days=40)],
        aggregators=strings_to_aggregators(["sum"]),
        fallback=0.0,
    )
    fl = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame))
    plain = {
        r["prediction_time_uuid"]: r.asDict()
        for r in fl.aggregate_timeseries([spec_x, spec_y]).df.collect()
    }
    stepped_df = fl.aggregate_timeseries(
        [spec_x, spec_y], step_size=dtm.timedelta(days=20)
    ).df
    stepped = {r["prediction_time_uuid"]: r.asDict() for r in stepped_df.collect()}
    assert stepped == plain
    # 2 chunks (39 days / 20-day steps), yet one fused temporal join + 1
    # assembly join, as unstepped: the chunk is a join predicate
    plan = stepped_df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 2, plan
    # the fused join carries the UNION lookdistance range (40 days)
    assert plan.count("-3456000000000") >= 2, plan
