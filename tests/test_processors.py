"""Port of reference processor golden tests
(``processors/temporal_test.py:22-342``, ``processors/static_test.py:11-68``)."""

from __future__ import annotations

import datetime as dt

from timeseriesflattener_spark import (
    Flattener,
    MeanAggregator,
    PredictionTimeFrame,
    PredictorSpec,
    StaticFrame,
    StaticSpec,
    TimeDeltaSpec,
    TimestampValueFrame,
    ValueFrame,
)
from timeseriesflattener_spark.testing import rows_as_dicts, str_to_df

from .conftest import assert_rows_match

NAN = float("nan")


def test_aggregate_over_fallback(spark):
    """Ref ``temporal_test.py:22-45``: all values outside window -> fallback 0."""
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-03")
    value_frame = str_to_df(spark, "entity_id,value,timestamp\n1,5,2020-06-01")
    result = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
        specs=[
            PredictorSpec(
                value_frame=ValueFrame(df=value_frame),
                lookbehind_distances=[dt.timedelta(days=2)],
                aggregators=[MeanAggregator()],
                fallback=0,
            )
        ]
    )
    assert rows_as_dicts(result.df)[0]["pred_value_within_0_to_2_days_mean_fallback_0"] == 0


def test_aggregate_with_null_values_in_window(spark):
    """Ref ``temporal_test.py:48-70``: nulls inside the window are skipped."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "entity_id": [1, 1],
            "value": [1.0, None],
            "timestamp": pd.to_datetime(["2021-01-01", "2021-01-02"]),
        }
    )
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-03")
    result = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
        specs=[
            PredictorSpec(
                value_frame=ValueFrame(df=spark.createDataFrame(pdf)),
                lookbehind_distances=[dt.timedelta(days=3)],
                aggregators=[MeanAggregator()],
                fallback=0,
            )
        ]
    )
    assert rows_as_dicts(result.df)[0]["pred_value_within_0_to_3_days_mean_fallback_0"] == 1.0


def test_multiple_values_multiple_aggregators(spark):
    """Ref ``temporal_test.py:267-291``: 2 value cols x mean."""
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-01")
    value_frame = str_to_df(spark, "entity_id,timestamp,value_1,value_2\n1,2021-01-01,1,2")
    result = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
        specs=[
            PredictorSpec(
                value_frame=ValueFrame(df=value_frame),
                lookbehind_distances=[dt.timedelta(days=1)],
                aggregators=[MeanAggregator()],
                fallback=0,
            )
        ]
    )
    assert_rows_match(
        rows_as_dicts(result.df),
        [
            {
                "prediction_time_uuid": "1-2021-01-01 00:00:00.000000",
                "pred_value_1_within_0_to_1_days_mean_fallback_0": 1.0,
                "pred_value_2_within_0_to_1_days_mean_fallback_0": 2.0,
            }
        ],
    )


def test_timedelta_spec_years(spark):
    """Ref ``temporal_test.py:234-264``: 366-day delta in years =
    366/365.25 = 1.002053388090349 (whole-day truncation BEFORE division)."""
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-01\n2,2021-01-01")
    value_frame = str_to_df(spark, "entity_id,timestamp\n1,2020-01-01")
    result = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
        specs=[
            TimeDeltaSpec(
                init_frame=TimestampValueFrame(df=value_frame),
                output_name="age",
                fallback=0,
                time_format="years",
            )
        ]
    )
    assert_rows_match(
        rows_as_dicts(result.df.select("prediction_time_uuid", "pred_age_years_fallback_0")),
        [
            {
                "prediction_time_uuid": "1-2021-01-01 00:00:00.000000",
                "pred_age_years_fallback_0": 1.002053388090349,
            },
            {
                "prediction_time_uuid": "2-2021-01-01 00:00:00.000000",
                "pred_age_years_fallback_0": 0.0,
            },
        ],
    )


def test_timedelta_spec_rejects_duplicate_entities(spark):
    import pytest

    value_frame = str_to_df(spark, "entity_id,timestamp\n1,2020-01-01\n1,2020-06-01")
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-01")
    spec = TimeDeltaSpec(
        init_frame=TimestampValueFrame(df=value_frame), output_name="age", fallback=0
    )
    with pytest.raises(ValueError, match="one value per"):
        Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
            specs=[spec]
        )


def test_static_spec_multiple_values(spark):
    """Ref ``processors/static_test.py:11-68``."""
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-01")
    static_frame = str_to_df(spark, "entity_id,value_1,value_2\n1,a,b")
    result = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
        specs=[
            StaticSpec(
                value_frame=StaticFrame(df=static_frame), column_prefix="pred", fallback=0
            )
        ]
    )
    row = rows_as_dicts(result.df)[0]
    assert row["pred_value_1_fallback_0"] == "a"
    assert row["pred_value_2_fallback_0"] == "b"


def test_entity_feature_nullability(spark):
    """A time-delta feature with a non-null fallback is coalesced, so it
    is non-nullable; one without a fallback and every static feature
    (the reference fills no static nulls) stay nullable."""
    pred_frame = str_to_df(spark, "entity_id,pred_timestamp\n1,2021-01-01\n2,2021-01-01")
    births = TimestampValueFrame(df=str_to_df(spark, "entity_id,timestamp\n1,2020-01-01"))
    static_frame = str_to_df(spark, "entity_id,sex\n1,1")
    result = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
        specs=[
            TimeDeltaSpec(init_frame=births, output_name="age", fallback=0),
            TimeDeltaSpec(init_frame=births, output_name="age_raw", fallback=None),
            StaticSpec(
                value_frame=StaticFrame(df=static_frame), column_prefix="pred", fallback=0
            ),
        ]
    )
    nullable = {f.name: f.nullable for f in result.df.schema.fields}
    assert nullable["pred_age_days_fallback_0"] is False
    assert nullable["pred_age_raw_days_fallback_None"] is True
    assert nullable["pred_sex_fallback_0"] is True
    rows = {r["entity_id"]: r for r in result.df.collect()}
    assert rows[2]["pred_age_days_fallback_0"] == 0.0
    assert rows[2]["pred_age_raw_days_fallback_None"] is None
    assert rows[2]["pred_sex_fallback_0"] is None


def test_sliding_window_golden(spark):
    """Ref ``temporal_test.py:294-342``: 6 pred times, 9 values,
    lookbehinds {10d, 365d}, step_size=365d — full golden output."""
    pred_frame = str_to_df(
        spark,
        """entity_id,pred_timestamp
        1,2011-01-01
        1,2014-01-01
        1,2016-01-01
        1,2018-01-01
        1,2020-01-01
        1,2022-01-01""",
    )
    value_frame = str_to_df(
        spark,
        """entity_id,timestamp,value
        1,2011-01-01,1
        1,2012-01-01,2
        1,2013-01-01,3
        1,2014-01-01,4
        1,2015-01-01,5
        1,2016-01-01,6
        1,2019-01-01,9
        1,2021-01-01,11
        1,2021-01-01,12""",
    )
    result = Flattener(predictiontime_frame=PredictionTimeFrame(df=pred_frame)).aggregate_timeseries(
        specs=[
            PredictorSpec(
                value_frame=ValueFrame(df=value_frame),
                lookbehind_distances=[dt.timedelta(days=10), dt.timedelta(days=365)],
                aggregators=[MeanAggregator()],
                fallback=0,
            )
        ],
        step_size=dt.timedelta(days=365),
    )
    c10 = "pred_value_within_0_to_10_days_mean_fallback_0"
    c365 = "pred_value_within_0_to_365_days_mean_fallback_0"
    expected = [
        {"prediction_time_uuid": "1-2011-01-01 00:00:00.000000", c10: 1.0, c365: 1.0},
        {"prediction_time_uuid": "1-2014-01-01 00:00:00.000000", c10: 4.0, c365: 3.5},
        {"prediction_time_uuid": "1-2016-01-01 00:00:00.000000", c10: 6.0, c365: 5.5},
        {"prediction_time_uuid": "1-2018-01-01 00:00:00.000000", c10: 0.0, c365: 0.0},
        {"prediction_time_uuid": "1-2020-01-01 00:00:00.000000", c10: 0.0, c365: 9.0},
        {"prediction_time_uuid": "1-2022-01-01 00:00:00.000000", c10: 0.0, c365: 11.5},
    ]
    assert_rows_match(
        rows_as_dicts(result.df), expected, sort_keys=["prediction_time_uuid"]
    )
