"""Bulk (one-job-per-tier) materialisation: identical output and resume
semantics to the per-unit path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timeseriesflattener_spark.plans.tiers import TierStore
from timeseriesflattener_spark.sources.transcripts import derive_channels, synthesize_transcripts

VALUE_COLS = ["text_len", "n_tokens", "tool_call"]


@pytest.fixture(scope="module")
def channels(spark):
    t = synthesize_transcripts(spark, n_conversations=25, avg_turns=10, seed=17, span_days=3)
    return derive_channels(t).cache()


def _points(store, tier):
    return {
        (r["conv_id"], r["bucket_start"]): tuple(
            round(r[f"{v}_mean"], 9) for v in VALUE_COLS
        )
        for r in store.read_points(tier).collect()
    }


def _partial_rows(store, tier):
    """Every column of every stored partial row of ``tier``."""
    df = store.read_tier(tier)
    return df.columns, sorted((tuple(r) for r in df.collect()), key=repr)


def _ledger_lineage(store):
    return sorted(
        (r["tier"], r["day"], r["source"].removesuffix(":bulk"), r["input_rows"], r["output_rows"])
        for r in store.read_ledger().collect()
    )


def test_bulk_equals_per_unit(spark, channels, tmp_path):
    per_unit = TierStore(spark, str(tmp_path / "unit"), VALUE_COLS)
    per_unit.materialize(channels)
    bulk = TierStore(spark, str(tmp_path / "bulk"), VALUE_COLS)
    bulk.materialize(channels, bulk=True)
    for tier in ("1m", "1h", "1d"):
        assert _partial_rows(bulk, tier) == _partial_rows(per_unit, tier), tier
    # same lineage: raw input -1, a finer-tier input counted from that
    # day's published rows, same output counts
    assert _ledger_lineage(bulk) == _ledger_lineage(per_unit)
    # resume after bulk: nothing recomputed
    r = bulk.materialize(channels, bulk=True)
    assert not r["computed"] and len(r["skipped"]) > 0
    # ledger marks bulk lineage
    sources = {row["source"] for row in bulk.read_ledger().collect()}
    assert sources == {"raw:bulk", "tier:1m:bulk", "tier:1h:bulk"}


def test_bulk_partial_resume(spark, channels, tmp_path):
    """Pre-complete one day per-unit; bulk computes only the rest."""
    store = TierStore(spark, str(tmp_path / "mix"), VALUE_COLS)
    days = store._raw_days(channels)
    store.materialize(channels, days=days[:1])  # per-unit, first day only
    r = store.materialize(channels, bulk=True)  # bulk for the remainder
    assert ("1m", days[0]) in r["skipped"]
    assert all(d != days[0] for (_, d) in r["computed"])
    ref = TierStore(spark, str(tmp_path / "ref"), VALUE_COLS)
    ref.materialize(channels)
    for tier in ("1m", "1h", "1d"):
        assert _points(store, tier) == _points(ref, tier), tier


def test_bulk_empty_day_readable(spark, channels, tmp_path):
    """A bulk-materialised day with no rows must publish a schema-bearing
    empty parquet (ADVICE r1): read_tier_day and a later unit-mode resume
    touching that day must not crash on schema inference."""
    import datetime as dt

    store = TierStore(spark, str(tmp_path / "empty"), VALUE_COLS)
    days = store._raw_days(channels)
    ghost = max(days) + dt.timedelta(days=1)  # no rows on this day
    store.materialize(channels, days=[*days, ghost], bulk=True)

    empty = store.read_tier_day("1m", ghost)
    assert empty.count() == 0
    assert "bucket_start" in empty.columns  # typed, not inferred-empty
    # whole-tier read across the empty day works too
    assert store.read_tier("1m").count() > 0
    # and unit-mode resume over the same days is a no-op, not a crash
    r = store.materialize(channels, days=[*days, ghost])
    assert not r["computed"]
