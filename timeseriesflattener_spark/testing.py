"""Test helpers mirroring the reference's CSV-in-string fixtures
(``testing/utils_for_testing.py:41-89``), built on pandas ->
``spark.createDataFrame`` (Arrow path), and a probe counting the Spark
jobs a call starts."""

from __future__ import annotations

import io
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def str_to_pandas(string: str) -> pd.DataFrame:
    """Parse an inline CSV string; trailing inline comments after a final
    comma (as used throughout the reference tests) are tolerated."""
    lines = []
    for raw in string.strip().splitlines():
        line = raw.strip()
        if not line:
            continue
        if "#" in line:
            line = line.split("#", 1)[0].strip().rstrip(",")
        lines.append(line)
    df = pd.read_csv(io.StringIO("\n".join(lines)))
    for col in df.columns:
        if "timestamp" in col or col in ("ts", "birthday"):
            df[col] = pd.to_datetime(df[col])
    return df


def str_to_df(spark: SparkSession, string: str) -> DataFrame:
    return spark.createDataFrame(str_to_pandas(string))


def rows_as_dicts(df: DataFrame) -> list[dict]:
    return [row.asDict() for row in df.collect()]


def jobs_started(spark: SparkSession, fn):
    """(fn's result, ids of the Spark jobs it started), from the status
    tracker of a job group set around the call."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
