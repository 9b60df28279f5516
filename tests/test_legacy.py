"""v1-compatible facade (legacy TimeseriesFlattener API)."""

from __future__ import annotations

import datetime as dt
import math

from timeseriesflattener_spark.legacy import TimeseriesFlattener, expand_group_spec
from timeseriesflattener_spark import strings_to_aggregators
from timeseriesflattener_spark.specs import PredictorSpec
from timeseriesflattener_spark.testing import rows_as_dicts, str_to_df


def test_legacy_add_spec_and_age(spark):
    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03\n2,2021-01-03")
    values = str_to_df(
        spark,
        """entity_id,value,timestamp
        1,1,2021-01-01
        1,2,2021-01-02
        1,4,2021-01-03""",
    )
    dob = str_to_df(spark, "entity_id,date_of_birth\n1,2000-01-03\n2,1990-01-03")

    def run(boundary):
        flattener = TimeseriesFlattener(prediction_times_df=pred, boundary=boundary)
        flattener.add_spec(
            PredictorSpec.from_primitives(
                df=values,
                entity_id_col_name="entity_id",
                lookbehind_days=[1],
                aggregators=["mean"],
                fallback=float("nan"),
            )
        )
        flattener.add_age_from_date_of_birth(dob)
        return {r["entity_id"]: r for r in rows_as_dicts(flattener.get_df())}

    # default = v1 semantics (v1/flattened_dataset.py:266-273): the value
    # AT the prediction instant (2021-01-03, value 4) is EXCLUDED -> mean 2.0
    # — reported under v1 NAMES (single_specs.py:78-93): min=0 renders as
    # "within_1_days", age as "{prefix}_age_in_years"
    rows = run("v1")
    assert rows[1]["pred_value_within_1_days_mean_fallback_nan"] == 2.0
    assert math.isnan(rows[2]["pred_value_within_1_days_mean_fallback_nan"])
    # age: 2021-01-03 - 2000-01-03 = 7671 days / 365.25
    assert rows[1]["pred_age_in_years"] == 7671 / 365.25
    # opt-in v2 closed windows include the prediction-instant value -> mean 3.0
    assert run("v2")[1]["pred_value_within_1_days_mean_fallback_nan"] == 3.0


def test_legacy_incident_outcome(spark):
    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-01\n1,2021-08-01")
    outcomes = str_to_df(spark, "entity_id,timestamp\n1,2021-01-20")
    flattener = TimeseriesFlattener(prediction_times_df=pred)
    flattener.add_incident_outcome(outcomes, lookahead_days=30)
    rows = rows_as_dicts(flattener.get_df())
    # the 2021-08-01 pred time is after the outcome -> dropped
    assert len(rows) == 1
    assert rows[0]["outc_incident"] == 1


def test_expand_group_spec(spark):
    a = str_to_df(spark, "entity_id,value,timestamp\n1,1,2021-01-01")
    b = str_to_df(spark, "entity_id,value,timestamp\n1,2,2021-01-01")
    specs = expand_group_spec(
        {"hba1c": a, "hdl": b},
        lookdistance_days=[30, 365],
        aggregators=["mean", "max"],
        fallbacks=[0],
    )
    assert len(specs) == 2  # one per (df, fallback)
    assert all(len(s.normalised_lookperiod) == 2 for s in specs)
    assert {s.value_frame.value_col_names[0] for s in specs} == {"hba1c", "hdl"}


def test_legacy_v1_column_names(spark):
    """v1 column-name goldens verbatim from the reference suite:
    ``outc_value_within_2_days_maximum_fallback_nan_dichotomous``
    (test_add_values.py:395-406), static ``pred_male``
    (:438-452), interval ``within_{min}_to_{max}_days`` and the
    naming="v2" opt-out."""
    import datetime as dtm

    from timeseriesflattener_spark.specs import OutcomeSpec, StaticSpec
    from timeseriesflattener_spark.frames import StaticFrame, ValueFrame

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-11-05 00:00:00")
    events = str_to_df(spark, "entity_id,timestamp,value\n1,2021-11-06 00:00:01,1")
    male = str_to_df(spark, "entity_id,male\n1,1")

    def build(naming):
        fl = TimeseriesFlattener(prediction_times_df=pred, naming=naming)
        fl.add_spec(
            OutcomeSpec(
                value_frame=ValueFrame(df=events),
                lookahead_distances=[dtm.timedelta(days=2)],
                aggregators=strings_to_aggregators(["max"]),
                fallback=float("nan"),
            )
        )
        fl.add_static_spec(male)
        return fl.get_df()

    v1_cols = set(build("v1").columns)
    assert "outc_value_within_2_days_maximum_fallback_nan_dichotomous" in v1_cols
    assert "pred_male" in v1_cols
    v2_cols = set(build("v2").columns)
    assert "outc_value_within_0_to_2_days_max_fallback_nan" in v2_cols

    # interval window renders min_to_max
    fl = TimeseriesFlattener(prediction_times_df=pred)
    fl.add_spec(
        OutcomeSpec(
            value_frame=ValueFrame(df=events),
            lookahead_distances=[(dtm.timedelta(days=1), dtm.timedelta(days=10))],
            aggregators=strings_to_aggregators(["max"]),
            fallback=0,
        )
    )
    assert "outc_value_within_1_to_10_days_maximum_fallback_0_dichotomous" in fl.get_df().columns


def test_legacy_feature_cache(spark, tmp_path, monkeypatch):
    """v1 cache contract (ref ``v1/flattened_dataset.py:53-100,388-421``,
    goldens modeled on ``v1/tests/test_feature_cache/test_cache_to_disk.py``):
    a cached get_df returns identical frames WITHOUT recompute (hit
    asserted by counting Flattener invocations), and a data change
    invalidates the fingerprint."""
    import os

    from timeseriesflattener_spark.sources.io import FeatureCache
    import timeseriesflattener_spark.legacy as L

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03\n2,2021-01-03")
    values = str_to_df(
        spark,
        """entity_id,value,timestamp
        1,1,2021-01-01
        1,2,2021-01-02""",
    )
    sex = str_to_df(spark, "entity_id,female\n1,1\n2,0")
    cache_dir = str(tmp_path / "feature_cache")

    calls = {"n": 0}
    real_agg = L.Flattener.aggregate_timeseries

    def counting_agg(self, specs):
        calls["n"] += 1
        return real_agg(self, specs)

    monkeypatch.setattr(L.Flattener, "aggregate_timeseries", counting_agg)

    def build(vals):
        fl = TimeseriesFlattener(
            prediction_times_df=pred,
            cache=FeatureCache(spark, cache_dir),
        )
        fl.add_spec(
            PredictorSpec.from_primitives(
                df=vals,
                entity_id_col_name="entity_id",
                lookbehind_days=[5],
                aggregators=["latest"],
                fallback=float("nan"),
            )
        )
        fl.add_static_spec(sex, column_prefix="pred")
        return fl

    first = {r["entity_id"]: r for r in rows_as_dicts(build(values).get_df())}
    assert calls["n"] == 1
    assert len(os.listdir(cache_dir)) == 2  # one frame per spec

    # second run: full hit -> identical frames, ZERO Flattener passes
    second = {r["entity_id"]: r for r in rows_as_dicts(build(values).compute())}
    assert calls["n"] == 1
    assert set(first) == set(second)
    for k in first:
        for col, v in first[k].items():
            w = second[k][col]
            assert (v == w) or (
                isinstance(v, float) and math.isnan(v) and math.isnan(w)
            ), (k, col, v, w)

    # changed input rows -> fingerprint miss -> recompute of that spec only
    more = str_to_df(
        spark,
        """entity_id,value,timestamp
        1,1,2021-01-01
        1,2,2021-01-02
        2,9,2021-01-02""",
    )
    third = {r["entity_id"]: r for r in rows_as_dicts(build(more).get_df())}
    assert calls["n"] == 2
    assert len(os.listdir(cache_dir)) == 3  # new predictor frame; static reused
    assert third[1]["pred_value_within_5_days_latest_fallback_nan"] == 2.0
    assert third[2]["pred_value_within_5_days_latest_fallback_nan"] == 9.0
    assert third[1]["pred_female"] == 1


def _cached_flattener(spark, pred, cache_dir, values, sex, static_only=False):
    """predictor, static, predictor — cached in ``cache_dir`` (None: no
    cache); ``static_only`` queues the static spec alone."""
    from timeseriesflattener_spark.sources.io import FeatureCache

    cache = FeatureCache(spark, cache_dir) if cache_dir else None
    fl = TimeseriesFlattener(prediction_times_df=pred, cache=cache)
    predictors = [
        PredictorSpec.from_primitives(
            df=df,
            entity_id_col_name="entity_id",
            lookbehind_days=[days],
            aggregators=[agg],
            fallback=0,
        )
        for df, days, agg in (
            (values, 5, "mean"),
            (values.withColumnRenamed("value", "other"), 10, "sum"),
        )
    ]
    if not static_only:
        fl.add_spec(predictors[0])
    fl.add_static_spec(sex, column_prefix="pred")
    if not static_only:
        fl.add_spec(predictors[1])
    return fl


def test_legacy_cache_miss_is_computed_once(spark, tmp_path):
    """A cold cached get_df returns the entries just written: the
    caller's action reads them back and runs no temporal aggregation
    again (the fused flatten ran once per entry, inside its put)."""
    from timeseriesflattener_spark.operators.temporal import TIMEDELTA_COL

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03\n2,2021-01-03")
    values = str_to_df(spark, "entity_id,value,timestamp\n1,1,2021-01-01\n2,2,2021-01-02")
    sex = str_to_df(spark, "entity_id,female\n1,1\n2,0")
    cold = _cached_flattener(spark, pred, str(tmp_path / "c"), values, sex).get_df()
    plan = cold._jdf.queryExecution().executedPlan().toString()
    assert TIMEDELTA_COL not in plan, plan
    key = "prediction_time_uuid"
    plain = _cached_flattener(spark, pred, None, values, sex).get_df()
    want = {r[key]: r for r in plain.collect()}
    assert {r[key]: r for r in cold.collect()} == want


def test_legacy_cache_column_order_ignores_cache_state(spark, tmp_path):
    """Cold, warm and partly warm cached runs return the columns in spec
    order, whichever specs the cache already held."""
    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03\n2,2021-01-03")
    values = str_to_df(spark, "entity_id,value,timestamp\n1,1,2021-01-01\n2,2,2021-01-02")
    sex = str_to_df(spark, "entity_id,female\n1,1\n2,0")
    full, part = str(tmp_path / "full"), str(tmp_path / "part")
    cold = _cached_flattener(spark, pred, full, values, sex).get_df().columns
    warm = _cached_flattener(spark, pred, full, values, sex).get_df().columns
    _cached_flattener(spark, pred, part, values, sex, static_only=True).get_df()
    partly = _cached_flattener(spark, pred, part, values, sex).get_df().columns
    plain = _cached_flattener(spark, pred, None, values, sex).get_df().columns
    assert cold == warm == partly == plain, (cold, warm, partly, plain)
    assert cold[-3:] == [
        "pred_value_within_5_days_mean_fallback_0",
        "pred_female",
        "pred_other_within_10_days_summed_fallback_0",
    ]


def test_legacy_compute_alias(spark):
    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03")
    fl = TimeseriesFlattener(prediction_times_df=pred)
    assert fl.compute().collect() == fl.get_df().collect()


def test_dichotomous_checks_batched(spark, monkeypatch):
    """N outcome specs over one value frame trigger ONE eager
    count_distinct job (v1 serialised one per column)."""
    import datetime as dtm

    from timeseriesflattener_spark.frames import ValueFrame
    from timeseriesflattener_spark.specs import OutcomeSpec

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-11-05")
    events = str_to_df(
        spark,
        "entity_id,timestamp,a,b,c\n1,2021-11-06,1,5,0\n1,2021-11-07,0,6,0",
    )
    fl = TimeseriesFlattener(prediction_times_df=pred)
    # two specs over the SAME df object (disjoint value_cols subsets):
    # the eager dichotomous check batches every column into one job
    frame = ValueFrame(df=events, value_cols=["a"])
    frame2 = ValueFrame(df=events, value_cols=["b", "c"])
    for vf, days in ((frame, 2), (frame2, 5)):
        fl.add_spec(
            OutcomeSpec(
                value_frame=vf,
                lookahead_distances=[dtm.timedelta(days=days)],
                aggregators=strings_to_aggregators(["max"]),
                fallback=float("nan"),
            )
        )

    agg_jobs = {"n": 0}
    df_cls = type(frame.df)  # classic vs connect DataFrame both covered
    real_agg = df_cls.agg

    def counting(self, *a, **k):
        agg_jobs["n"] += 1
        return real_agg(self, *a, **k)

    monkeypatch.setattr(df_cls, "agg", counting)
    flags = fl._dichotomous_flags()
    assert agg_jobs["n"] == 1
    key = id(frame.df)
    assert flags[(key, "a")] is True  # {0,1}
    assert flags[(key, "b")] is True  # {5,6}
    assert flags[(key, "c")] is True  # {0}
    cols = set(fl.get_df().columns)
    assert "outc_a_within_2_days_maximum_fallback_nan_dichotomous" in cols
    assert "outc_b_within_5_days_maximum_fallback_nan_dichotomous" in cols


def test_legacy_cache_dot_in_fallback_name(spark, tmp_path):
    """Feature names with dots (fallback_0.5) survive the cache select."""
    from timeseriesflattener_spark.sources.io import FeatureCache

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03")
    vals = str_to_df(spark, "entity_id,value,timestamp\n1,4,2021-01-02")

    def run():
        fl = TimeseriesFlattener(
            prediction_times_df=pred,
            cache=FeatureCache(spark, str(tmp_path / "c")),
        )
        fl.add_spec(
            PredictorSpec.from_primitives(
                df=vals,
                entity_id_col_name="entity_id",
                lookbehind_days=[5],
                aggregators=["mean"],
                fallback=0.5,
            )
        )
        return fl.get_df().first()

    assert run()["pred_value_within_5_days_mean_fallback_0.5"] == 4.0
    assert run()["pred_value_within_5_days_mean_fallback_0.5"] == 4.0  # cache hit path


def test_expand_group_spec_multiple_fallbacks_fused(spark):
    """Reference v1 group specs accept MULTIPLE fallbacks per df
    (``v1/feature_specs/group_specs.py:39``); the facade aliases the
    value column per fallback on ONE shared df so the specs pass
    validation AND fuse to one join per source df. Output names carry
    the v1 scheme with the alias marker stripped."""
    a = str_to_df(
        spark,
        "entity_id,value,timestamp\n1,3,2021-01-01\n2,7,2021-01-02",
    )
    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-05\n3,2021-01-05")
    specs = expand_group_spec(
        {"hba1c": a},
        lookdistance_days=[30],
        aggregators=["mean"],
        fallbacks=[0, float("nan")],
    )
    assert len(specs) == 2
    # both specs share ONE df object -> Flattener fuses them
    assert specs[0].value_frame.df is specs[1].value_frame.df

    fl = TimeseriesFlattener(prediction_times_df=pred)
    fl.add_spec(specs)
    out = fl.get_df()
    cols = set(out.columns)
    assert "pred_hba1c_within_30_days_mean_fallback_0" in cols
    assert "pred_hba1c_within_30_days_mean_fallback_nan" in cols
    assert not any("__fb" in c for c in cols)
    rows = {r["entity_id"]: r for r in rows_as_dicts(out)}
    assert rows[1]["pred_hba1c_within_30_days_mean_fallback_0"] == 3.0
    assert rows[3]["pred_hba1c_within_30_days_mean_fallback_0"] == 0.0
    assert math.isnan(rows[3]["pred_hba1c_within_30_days_mean_fallback_nan"])

    # optimized logical plan (the AQE executed-plan string repeats
    # initial+final sections and double-counts nodes):
    # 1 temporal join + 1 assembly join — NOT one temporal join per fallback
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 2, plan


def test_predictor_group_spec_create_combinations(spark):
    """Top-level PredictorGroupSpec parity (ref ``specs/from_legacy.py:
    45-110``): v1 fn names map to v2 aggregators, entity col inferred
    ('entity'/'borger' substring) and renamed, one spec per
    (df, fallback), specs per df share ONE frame (fusable). The
    reference's latest->Earliest mapping bug is NOT replicated."""
    from timeseriesflattener_spark import NamedDataframe, PredictorGroupSpec

    hba1c = str_to_df(spark, "borger_id,value,timestamp\n1,4,2021-01-02")
    hdl = str_to_df(spark, "entityID,value,timestamp\n1,2,2021-01-02")
    specs = PredictorGroupSpec(
        lookbehind_days=[30, (30, 90)],
        named_dataframes=[NamedDataframe(hba1c, "hba1c"), NamedDataframe(hdl, "hdl")],
        aggregation_fns=["maximum", "change_per_day"],
        fallback=[0, float("nan")],
    ).create_combinations()
    assert len(specs) == 4  # 2 dfs x 2 fallbacks
    assert all(s.value_frame.entity_id_col_name == "entity_id" for s in specs)
    assert {a.name for s in specs for a in s.aggregators} == {"max", "slope"}
    by_base = {}
    for s in specs:
        base = s.value_frame.value_col_names[0].split("__fb")[0]
        by_base.setdefault(base, []).append(s)
    assert set(by_base) == {"hba1c", "hdl"}
    for base, group in by_base.items():
        assert group[0].value_frame.df is group[1].value_frame.df  # fusable

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-05")
    fl = TimeseriesFlattener(prediction_times_df=pred)
    fl.add_spec(specs)
    row = fl.get_df().first().asDict()
    assert row["pred_hba1c_within_30_days_maximum_fallback_0"] == 4.0
    assert row["pred_hdl_within_30_days_maximum_fallback_0"] == 2.0
    assert math.isnan(row["pred_hba1c_within_30_to_90_days_maximum_fallback_nan"])


def test_v1_spec_factories(spark):
    """v1 ctor-shaped spec factories produce v1 column names through the
    facade, including the classic main_test golden value 3.0
    (ref ``main_test.py:62-103`` shape)."""
    import pytest as _pt

    from timeseriesflattener_spark.legacy import v1_outcome_spec, v1_predictor_spec

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03")
    values = str_to_df(
        spark,
        "entity_id,value,timestamp\n1,1,2021-01-01\n1,2,2021-01-02\n1,4,2021-01-03",
    )
    fl = TimeseriesFlattener(prediction_times_df=pred, boundary="v2")
    fl.add_spec(
        v1_predictor_spec(
            timeseries_df=values,
            feature_base_name="value",
            lookbehind_days=1,
            aggregation_fn="mean",
            fallback=float("nan"),
        )
    )
    fl.add_spec(
        v1_outcome_spec(
            timeseries_df=values,
            feature_base_name="happened",
            lookahead_days=2,
            aggregation_fn="maximum",
            fallback=0,
        )
    )
    row = fl.get_df().first().asDict()
    # v2 closed window: (2 + 4) / 2
    assert row["pred_value_within_1_days_mean_fallback_nan"] == 3.0
    # 3 distinct outcome values -> not dichotomous, no suffix
    assert row["outc_happened_within_2_days_maximum_fallback_0"] == 4.0

    with _pt.raises(NotImplementedError, match="add_incident_outcome"):
        v1_outcome_spec(
            timeseries_df=values,
            feature_base_name="x",
            lookahead_days=2,
            aggregation_fn="maximum",
            fallback=0,
            incident=True,
        )


def test_expand_group_spec_duplicate_fallbacks_deduped(spark):
    """Repeated fallback values (legal in v1 group specs) are
    de-duplicated by their column-name rendering — duplicates would
    collide into identical output names once the __fb marker is
    stripped (ADVICE r3). 2.0 and 2 render the same -> one spec."""
    vals = str_to_df(
        spark,
        """entity_id,value,timestamp
        1,1,2021-01-01""",
    )
    specs = expand_group_spec(
        {"val": vals},
        lookdistance_days=[5],
        aggregators=["mean"],
        fallbacks=[0, 0.0, 2],
    )
    assert len(specs) == 2  # 0/0.0 collapse; 2 distinct
    fl = TimeseriesFlattener(prediction_times_df=str_to_df(
        spark, "entity_id,timestamp\n1,2021-01-03"
    ))
    fl.add_spec(specs)
    cols = fl.get_df().columns
    assert len(cols) == len(set(cols)), cols
    assert "pred_val_within_5_days_mean_fallback_0" in cols
    assert "pred_val_within_5_days_mean_fallback_2" in cols


def test_legacy_cold_cache_runs_one_flatten_and_one_count(spark, tmp_path, monkeypatch):
    """Three PredictorSpecs over one value frame, cold cache: the fused
    flatten runs once for all three entries, and the frame is counted
    once for the three fingerprints. The entity column passes through a
    Python udf that counts its calls: every run of the temporal join
    calls it the same number of times, and a count prunes it."""
    from pyspark.sql import functions as F

    from timeseriesflattener_spark.frames import ValueFrame
    from timeseriesflattener_spark.sources.io import FeatureCache

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03\n2,2021-01-03")
    raw = str_to_df(
        spark,
        """entity_id,a,b,c,timestamp
        1,1,10,100,2021-01-01
        2,2,20,200,2021-01-02
        1,3,30,300,2021-01-02""",
    )
    calls = spark.sparkContext.accumulator(0)

    def seen(v):
        calls.add(1)
        return v

    wide = raw.withColumn("entity_id", F.udf(seen, "long")(F.col("entity_id")))
    counted = []
    real_count = type(wide).count

    def count(self):
        counted.append(self)
        return real_count(self)

    monkeypatch.setattr(type(wide), "count", count)

    def flattener(cache):
        fl = TimeseriesFlattener(prediction_times_df=pred, cache=cache)
        for col, days, agg in (("a", 5, "mean"), ("b", 10, "sum"), ("c", 20, "max")):
            fl.add_spec(
                PredictorSpec(
                    value_frame=ValueFrame(df=wide, value_cols=[col]),
                    lookbehind_distances=[dt.timedelta(days=days)],
                    aggregators=strings_to_aggregators([agg]),
                    fallback=0,
                )
            )
        return fl

    key = "prediction_time_uuid"
    want = {r[key]: r for r in flattener(None).get_df().collect()}
    one_pass = calls.value  # the uncached flatten: one join, one aggregation
    assert one_pass > 0
    counted.clear()
    cold = flattener(FeatureCache(spark, str(tmp_path / "c"))).get_df()
    assert sum(df is wide for df in counted) == 1
    assert calls.value == 2 * one_pass
    assert {r[key]: r for r in cold.collect()} == want


def test_failed_cache_put_leaves_no_entry(spark, tmp_path, monkeypatch):
    """A put whose write fails publishes nothing: ``get`` misses, and the
    next cached get_df recomputes the spec instead of failing on a
    half-written entry."""
    import os

    from pyspark.sql import functions as F
    import pytest

    from timeseriesflattener_spark.sources.io import FeatureCache

    pred = str_to_df(spark, "entity_id,timestamp\n1,2021-01-03\n2,2021-01-03")
    values = str_to_df(spark, "entity_id,value,timestamp\n1,1,2021-01-01\n2,2,2021-01-02")
    sex = str_to_df(spark, "entity_id,female\n1,1\n2,0")
    cache_dir = str(tmp_path / "c")
    cache = FeatureCache(spark, cache_dir)
    # not a local relation: the error must raise in the write job, not
    # while the plan is optimised
    bad = spark.range(3).withColumn("boom", F.raise_error(F.lit("write failed")).cast("string"))
    key = FeatureCache.fingerprint({"spec": "failing"}, input_rows=2)
    with pytest.raises(Exception, match="write failed"):
        cache.put(key, bad)
    assert cache.get(key) is None
    assert os.listdir(cache_dir) == []

    real_put = FeatureCache.put
    failures = [True]

    def put(self, key, df):
        if failures:  # the first put of the run fails
            failures.pop()
            df = df.withColumn("boom", F.raise_error(F.lit("write failed")).cast("string"))
        return real_put(self, key, df)

    monkeypatch.setattr(FeatureCache, "put", put)
    with pytest.raises(Exception, match="write failed"):
        _cached_flattener(spark, pred, cache_dir, values, sex).get_df()
    got = _cached_flattener(spark, pred, cache_dir, values, sex).get_df()
    plain = _cached_flattener(spark, pred, None, values, sex).get_df()
    k = "prediction_time_uuid"
    assert {r[k]: r for r in got.collect()} == {r[k]: r for r in plain.collect()}
