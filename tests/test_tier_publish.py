"""Tier publishing without read-back jobs: ledger row counts come from
parquet footers and ledger decisions are read with pyarrow, so they must
equal what a Spark read of the published data and of the ledger says;
ledger appends are atomic; the compaction row guard still holds. A merge
writes once per tier, and reads of the store's partials take their
schema from a footer instead of a Spark inference job."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameReader, DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from timeseriesflattener_spark.plans.tiers import TierStore, _day_dir, _parquet_rows
from timeseriesflattener_spark.sources.transcripts import derive_channels, synthesize_transcripts
from timeseriesflattener_spark.streaming.incremental import merge_batch
from timeseriesflattener_spark.testing import jobs_started

VALUE_COLS = ["text_len", "n_tokens"]


@pytest.fixture(scope="module")
def channels(spark):
    t = synthesize_transcripts(spark, n_conversations=16, avg_turns=8, seed=31, span_days=2)
    return derive_channels(t).cache()


def _build(store, channels):
    """Bulk build (with a day that has no rows), unit build, two merges
    of batches that each touch every day, then a compaction."""
    base = channels.filter(F.col("turn_idx") % 3 == 0)
    days = store._raw_days(channels)
    ghost = max(days) + dt.timedelta(days=1)
    store.materialize(base, days=[days[0], ghost], bulk=True)
    store.materialize(base, days=days[1:])
    merge_batch(store, channels.filter(F.col("turn_idx") % 3 == 1), batch_id=0)
    merge_batch(store, channels.filter(F.col("turn_idx") % 3 == 2), batch_id=1)
    store.compact_day("1m", days[-1])
    return days


@pytest.fixture(scope="module")
def published(spark, channels, tmp_path_factory):
    """A store built by every publish path, with each ledger row paired
    with Spark's count of the directory it describes, taken the moment
    the row is appended (the directory as published)."""
    store = TierStore(spark, str(tmp_path_factory.mktemp("publish")), VALUE_COLS)
    real_append = TierStore._append_ledger
    seen: list[tuple[dict, int, int | None]] = []

    def spy(self, row):
        published_rows = spark.read.parquet(_day_dir(self.root, row["tier"], row["day"])).count()
        finer_rows = None
        if row["source"].startswith("tier:"):
            finer = row["source"].split(":")[1]
            finer_rows = spark.read.parquet(_day_dir(self.root, finer, row["day"])).count()
        seen.append((dict(row), published_rows, finer_rows))
        real_append(self, row)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(TierStore, "_append_ledger", spy)
        days = _build(store, channels)
    return store, days, seen


def test_ledger_counts_equal_spark_counts_of_published_dirs(published):
    store, days, seen = published
    sources = {row["source"] for row, _, _ in seen}
    assert sources == {"raw:bulk", "tier:1m:bulk", "tier:1h:bulk", "raw", "tier:1m",
                       "tier:1h", "merge", "merge:1m", "compact"}
    for row, published_rows, finer_rows in seen:
        assert row["output_rows"] == published_rows, row
        if finer_rows is not None:
            assert row["input_rows"] == finer_rows, row
        if row["source"].startswith(("merge", "compact")):
            assert row["input_rows"] == row["output_rows"], row
    # the day with no rows published a schema-bearing empty partition
    assert any(r["output_rows"] == 0 and r["day"] > max(days) for r, _, _ in seen)
    # and the events on disk are the rows recorded
    key = ("tier", "day", "source", "input_rows", "output_rows", "job_id")
    on_disk = sorted(
        tuple(r[k] for k in key) for r in store.read_ledger().collect() if r["source"] != "test"
    )
    assert on_disk == sorted(tuple(r[k] for k in key) for r, _, _ in seen)


def test_completed_units_equals_spark_latest_event_rule(published):
    store, days, _ = published

    def spark_rule():
        return {
            (r["tier"], r["day"])
            for r in store.read_ledger()
            .groupBy("tier", "day")
            .agg(F.max(F.struct("finished_at", "state")).alias("last"))
            .filter(F.col("last.state") == "done")
            .collect()
        }

    # repeated (bulk/unit, merge, compact) events per unit
    assert store.completed_units() == spark_rule()
    assert ("1m", days[-1]) in store.completed_units()

    def event(tier, day, state, at):
        return {"tier": tier, "day": day, "state": state, "source": "test", "input_rows": 0,
                "output_rows": 0, "wall_s": 0.0, "attempt": 1, "job_id": "test",
                "finished_at": at}

    late = dt.datetime(2100, 1, 1)
    # a later non-done event reopens a unit; on a finished_at tie the
    # state breaks it; a later done event closes a unit again
    store._append_ledger(event("1h", days[0], "failed", late))
    store._append_ledger(event("1d", days[0], "done", late))
    store._append_ledger(event("1d", days[0], "failed", late))
    store._append_ledger(event("1m", days[0], "failed", late))
    store._append_ledger(event("1m", days[0], "done", late + dt.timedelta(seconds=1)))
    store._append_ledger(event("1m", dt.date(1999, 1, 1), "failed", late))
    got = store.completed_units()
    assert got == spark_rule()
    assert ("1h", days[0]) not in got and ("1d", days[0]) not in got
    assert ("1m", days[0]) in got and ("1m", dt.date(1999, 1, 1)) not in got


def test_publishing_runs_no_count_or_is_empty(spark, channels, tmp_path, monkeypatch):
    """Every parquet publish path — bulk and unit materialisation, a
    replay-keyed merge of a two-day batch, compaction — learns its row
    counts and ledger decisions without a Spark ``count``/``isEmpty``."""
    days = TierStore(spark, str(tmp_path / "days"), VALUE_COLS)._raw_days(channels)
    assert len(days) >= 2

    def refuse(self, *args, **kwargs):
        raise AssertionError("read-back Spark job on a publish path")

    monkeypatch.setattr(ClassicDataFrame, "count", refuse)
    monkeypatch.setattr(ClassicDataFrame, "isEmpty", refuse)
    bulk = TierStore(spark, str(tmp_path / "bulk"), VALUE_COLS)
    bulk.materialize(channels, days=days, bulk=True)
    unit = TierStore(spark, str(tmp_path / "unit"), VALUE_COLS)
    unit.materialize(channels, days=days)
    assert len(merge_batch(bulk, channels.filter(F.col("turn_idx") % 2 == 0), batch_id=0)) >= 2
    bulk.compact_day("1h", days[0])
    monkeypatch.undo()
    assert {r["source"] for r in bulk.read_ledger().collect()} == {
        "raw:bulk", "tier:1m:bulk", "tier:1h:bulk", "merge", "merge:1m", "compact"}


def test_torn_ledger_write_leaves_ledger_readable(spark, channels, tmp_path, monkeypatch):
    store = TierStore(spark, str(tmp_path / "torn"), VALUE_COLS, tiers=["1m"])
    days = store._raw_days(channels)
    store.materialize(channels, days=days[:1])
    real_write = pq.write_table

    def torn_write(table, where, *args, **kwargs):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 torn")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        store.materialize(channels, days=days[1:2])
    monkeypatch.setattr(pq, "write_table", real_write)

    assert store.read_ledger().count() == 1
    assert store.completed_units() == {("1m", days[0])}
    # the unit whose event was torn is not done, so a resume recomputes it
    assert store.materialize(channels, days=days[:2])["computed"] == [("1m", days[1])]
    assert store.completed_units() == {("1m", days[0]), ("1m", days[1])}


def test_compaction_that_drops_rows_raises_and_changes_nothing(
    spark, channels, tmp_path, monkeypatch
):
    store = TierStore(spark, str(tmp_path / "guard"), VALUE_COLS, tiers=["1m"])
    day = store._raw_days(channels)[0]
    store.materialize(channels, days=[day])
    ddir = _day_dir(store.root, "1m", day)
    files_before = sorted(os.listdir(ddir))
    rows_before = sorted(map(tuple, store.read_tier_day("1m", day).collect()))
    assert len(rows_before) > 1
    events_before = store.read_ledger().count()
    real_coalesce = ClassicDataFrame.coalesce
    monkeypatch.setattr(
        ClassicDataFrame, "coalesce", lambda self, n: real_coalesce(self.limit(1), n)
    )

    with pytest.raises(RuntimeError, match="compaction row mismatch"):
        store.compact_day("1m", day)
    monkeypatch.undo()

    assert sorted(os.listdir(ddir)) == files_before
    assert sorted(map(tuple, store.read_tier_day("1m", day).collect())) == rows_before
    assert store.read_ledger().count() == events_before
    assert "compact" not in {r["source"] for r in store.read_ledger().collect()}
    assert not [d for d in os.listdir(os.path.dirname(ddir)) if ".compact-" in d]


def test_merge_writes_once_per_tier_and_store_reads_start_no_job(
    spark, channels, tmp_path, monkeypatch
):
    store = TierStore(spark, str(tmp_path / "jobs"), VALUE_COLS)
    store.materialize(channels.filter(F.col("turn_idx") % 2 == 0), bulk=True)
    days = store._raw_days(channels)
    assert len(days) == 2

    writes: list[str] = []
    reads: list[tuple[tuple, list[int]]] = []
    real_write, real_read = DataFrameWriter.parquet, DataFrameReader.parquet

    def spy_write(self, path, *args, **kwargs):
        writes.append(path)
        return real_write(self, path, *args, **kwargs)

    def spy_read(self, *paths, **kwargs):
        df, jobs = jobs_started(spark, lambda: real_read(self, *paths, **kwargs))
        reads.append((paths, jobs))
        return df

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_write)
    monkeypatch.setattr(DataFrameReader, "parquet", spy_read)
    # both days already hold 1m partials, so both have base 1m
    assert merge_batch(store, channels.filter(F.col("turn_idx") % 2 == 1), batch_id=0) == days
    monkeypatch.undo()

    assert len(writes) == 3, writes
    base_dirs = {_day_dir(store.root, "1m", d) for d in days}
    assert [set(paths) for paths, _ in reads] == [base_dirs, base_dirs]
    assert [jobs for _, jobs in reads] == [[], []]
    for read in (lambda: store.read_tier("1h"), lambda: store.read_tier_day("1d", days[0])):
        df, jobs = jobs_started(spark, read)
        assert jobs == [], jobs
        assert df.columns[:2] == ["conv_id", "bucket_start"]


def test_footer_schema_equals_spark_inferred_schema(spark, channels, tmp_path):
    store = TierStore(spark, str(tmp_path / "schema"), VALUE_COLS)
    days = store._raw_days(channels)
    ghost = max(days) + dt.timedelta(days=1)
    store.materialize(channels, days=days + [ghost], bulk=True)

    def fields(schema):
        return [(f.name, f.dataType, f.nullable) for f in schema.fields]

    for tier in ("1m", "1h", "1d"):
        assert _parquet_rows(_day_dir(store.root, tier, ghost)) == 0
        for day in days + [ghost]:
            inferred = spark.read.parquet(_day_dir(store.root, tier, day)).schema
            got = store.read_tier_day(tier, day).schema
            assert fields(got) == fields(inferred) and got == inferred, (tier, day)
        whole = store.read_tier(tier)
        assert whole.schema == spark.read.parquet(_day_dir(store.root, tier, days[0])).schema
        assert whole.count() == sum(_parquet_rows(_day_dir(store.root, tier, d)) for d in days)

    store.apply_retention({"1m": 0}, now=ghost + dt.timedelta(days=1))
    with pytest.raises(FileNotFoundError, match="tier '1m' has no day partitions"):
        store.read_tier("1m")
    with pytest.raises(FileNotFoundError, match="tier '1w' has no day partitions"):
        store.read_tier("1w")

