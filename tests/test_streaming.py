"""Incremental merge correctness: merging batches (any split, any
order) equals one-shot materialisation; plus a Structured Streaming
end-to-end smoke with availableNow."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from timeseriesflattener_spark.plans.tiers import TierStore, _day_dir
from timeseriesflattener_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    derive_channels,
    synthesize_transcripts,
)
from timeseriesflattener_spark.streaming.incremental import merge_batch, stream_into_store

VALUE_COLS = ["text_len", "n_tokens", "tool_call"]
CHANNEL_SCHEMA = "conv_id string, turn_idx int, ts timestamp, text_len double, n_tokens double, tool_call double"


@pytest.fixture(scope="module")
def channels(spark):
    t = synthesize_transcripts(spark, n_conversations=25, avg_turns=10, seed=21, span_days=2)
    return derive_channels(t).cache()


def _points(store, tier):
    return {
        (r["conv_id"], r["bucket_start"]): tuple(
            round(r[f"{vc}_mean"], 9) for vc in VALUE_COLS
        )
        for r in store.read_points(tier).collect()
    }


def test_merge_batches_equals_one_shot(spark, channels, tmp_path):
    ref = TierStore(spark, str(tmp_path / "ref"), VALUE_COLS)
    ref.materialize(channels)

    inc = TierStore(spark, str(tmp_path / "inc"), VALUE_COLS)
    # split by turn parity — both batches touch every day and entity,
    # so merge must combine, not overwrite
    merge_batch(inc, channels.filter(F.col("turn_idx") % 2 == 0))
    merge_batch(inc, channels.filter(F.col("turn_idx") % 2 == 1))

    # the channel values are integers, so every stored sum is exact in
    # any summation order: the partial rows must be equal, not close
    days = inc._raw_days(channels)
    got = _stored_partials(inc, days)
    assert len(got) == 3 * len(days)
    assert got == _stored_partials(ref, days)

    ledger = inc.read_ledger()
    assert ledger.filter(F.col("source").startswith("merge")).count() > 0


def test_structured_streaming_availablenow(spark, channels, tmp_path):
    in_dir = str(tmp_path / "in")
    channels.write.mode("overwrite").parquet(in_dir)

    store = TierStore(spark, str(tmp_path / "stream"), VALUE_COLS)
    q = stream_into_store(
        spark,
        in_dir,
        store,
        schema=CHANNEL_SCHEMA,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    ref = TierStore(spark, str(tmp_path / "ref2"), VALUE_COLS)
    ref.materialize(channels)
    assert _points(store, "1h") == _points(ref, "1h")


def test_two_streams_into_one_store_equal_one_shot(spark, channels, tmp_path):
    """Batch ids restart at 0 for every checkpoint. Even turns stream
    from one directory and checkpoint, odd turns from another, into one
    store: the second stream's batch 0 must merge, not pass for a replay
    of the first stream's batch 0. Re-running the second stream's batch
    0 after its commit is lost (a crash between merge and commit) stays
    a no-op."""
    store = TierStore(spark, str(tmp_path / "two"), VALUE_COLS)
    for parity in (0, 1):
        in_dir = str(tmp_path / f"in{parity}")
        channels.filter(F.col("turn_idx") % 2 == parity).write.parquet(in_dir)
        stream_into_store(
            spark, in_dir, store, schema=CHANNEL_SCHEMA,
            checkpoint_dir=str(tmp_path / f"ckpt{parity}"),
        ).awaitTermination(300)

    ref = TierStore(spark, str(tmp_path / "ref"), VALUE_COLS)
    ref.materialize(channels)
    days = ref._raw_days(channels)
    want = _stored_partials(ref, days)
    assert _stored_partials(store, days) == want

    for name in ("0", ".0.crc"):  # the commit and its checksum file
        os.remove(str(tmp_path / "ckpt1" / "commits" / name))
    stream_into_store(
        spark, str(tmp_path / "in1"), store, schema=CHANNEL_SCHEMA,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    ).awaitTermination(300)
    assert os.path.isfile(str(tmp_path / "ckpt1" / "commits" / "0"))  # batch 0 ran again
    assert _stored_partials(store, days) == want


def _count_sums(store, tier):
    """(count, sum) per bucket — the stats that DETECT double-counting
    (means are invariant when identical rows merge twice)."""
    return {
        (r["conv_id"], r["bucket_start"]): (
            r["text_len_count"],
            round(r["text_len_sum"], 9),
        )
        for r in store.read_points(tier).collect()
    }


def _stored_partials(store, days):
    """Every stored partial row per published (tier, day) partition."""
    return {
        (tier, day): sorted((tuple(r) for r in store.read_tier_day(tier, day).collect()), key=repr)
        for tier in ("1m", "1h", "1d")
        for day in days
        if os.path.isdir(_day_dir(store.root, tier, day))
    }


def test_late_batch_after_retention_merges_into_surviving_tier(spark, channels, tmp_path):
    """A late batch for a day whose 1m partition retention already
    removed combines into that day's 1h partials: 1h/1d equal a fresh
    build over all rows, 1m stays absent, and a replay changes nothing."""
    late = channels.filter(F.col("turn_idx") % 4 == 3)
    store = TierStore(spark, str(tmp_path / "retained"), VALUE_COLS)
    store.materialize(channels.filter(F.col("turn_idx") % 4 != 3), bulk=True)
    days = store._raw_days(channels)
    old = days[0]
    removed = store.apply_retention({"1m": 0}, now=old + dt.timedelta(days=1))
    assert removed == [("1m", f"day={old.isoformat()}")]

    assert old in merge_batch(store, late, batch_id=5)
    got = _stored_partials(store, days)
    assert ("1m", old) not in got
    fresh = TierStore(spark, str(tmp_path / "fresh"), VALUE_COLS)
    fresh.materialize(channels, bulk=True)
    want = _stored_partials(fresh, days)
    del want[("1m", old)]
    assert got == want
    merged = {(r["tier"], r["day"]): r["source"] for r in store.read_ledger().collect()
              if r["source"].startswith("merge")}
    assert merged[("1h", old)] == "merge" and merged[("1d", old)] == "merge:1h"

    merge_batch(store, late, batch_id=5)  # at-least-once replay
    assert _stored_partials(store, days) == got


def test_merge_batch_replay_is_idempotent(spark, channels, tmp_path):
    """foreachBatch is at-least-once: replaying the SAME batch_id must
    not combine the same rows into the 1m partials twice (ADVICE r1)."""
    ref = TierStore(spark, str(tmp_path / "refr"), VALUE_COLS)
    ref.materialize(channels)

    inc = TierStore(spark, str(tmp_path / "incr"), VALUE_COLS)
    even = channels.filter(F.col("turn_idx") % 2 == 0)
    odd = channels.filter(F.col("turn_idx") % 2 == 1)
    merge_batch(inc, even, batch_id=0)
    merge_batch(inc, even, batch_id=0)  # crash-replay of batch 0
    merge_batch(inc, odd, batch_id=1)
    merge_batch(inc, odd, batch_id=1)  # crash-replay of batch 1

    for tier in ("1m", "1h", "1d"):
        assert _count_sums(inc, tier) == _count_sums(ref, tier), tier

    # without a batch_id the merge is NOT idempotent (documented):
    # replaying doubles counts and sums
    naive = TierStore(spark, str(tmp_path / "naive"), VALUE_COLS)
    merge_batch(naive, even)
    merge_batch(naive, even)
    once = TierStore(spark, str(tmp_path / "once"), VALUE_COLS)
    merge_batch(once, even)
    doubled = _count_sums(naive, "1m")
    single = _count_sums(once, "1m")
    assert doubled.keys() == single.keys()
    assert all(doubled[k][0] == 2 * single[k][0] for k in single)


def test_snapshot_diff_ingest(spark, channels, tmp_path):
    """Iceberg snapshot-diff analog: late-arriving data FILES re-open only
    the units they touch; already-ingested files are never rescanned; a
    repeat call with no new files is a no-op."""
    from timeseriesflattener_spark.streaming.incremental import ingest_new_files

    in_dir = str(tmp_path / "snap_in")
    even = channels.filter(F.col("turn_idx") % 2 == 0)
    odd = channels.filter(F.col("turn_idx") % 2 == 1)
    even.coalesce(1).write.mode("overwrite").parquet(in_dir)

    store = TierStore(spark, str(tmp_path / "snap_store"), VALUE_COLS)
    first = ingest_new_files(store, in_dir)
    assert len(first) >= 1
    # a late file lands (backfill drop) — only IT is ingested
    odd.coalesce(1).write.mode("append").parquet(in_dir)
    second = ingest_new_files(store, in_dir)
    assert len(second) >= 1 and not set(second) & set(first)
    # no new files -> no-op
    assert ingest_new_files(store, in_dir) == []

    ref = TierStore(spark, str(tmp_path / "snap_ref"), VALUE_COLS)
    ref.materialize(channels)
    for tier in ("1m", "1h", "1d"):
        assert _count_sums(store, tier) == _count_sums(ref, tier), tier


def test_ingest_crash_between_merge_and_manifest(spark, channels, tmp_path):
    """ADVICE r2 #2: a crash AFTER merge but BEFORE the manifest append,
    with MORE files landing before the retry, must not double-count the
    already-merged files — the pending record fixes the replay key."""
    import os

    from timeseriesflattener_spark.streaming import incremental as I

    in_dir = str(tmp_path / "crash_in")
    even = channels.filter(F.col("turn_idx") % 2 == 0)
    odd = channels.filter(F.col("turn_idx") % 2 == 1)
    even.coalesce(1).write.mode("overwrite").parquet(in_dir)

    store = TierStore(spark, str(tmp_path / "crash_store"), VALUE_COLS)

    # simulate the crash: run ingest but blow up inside _commit_batch
    real_commit = I._commit_batch

    def exploding_commit(manifest, pending_path, files):
        raise RuntimeError("crash before manifest append")

    I._commit_batch = exploding_commit
    try:
        import pytest as _pt

        with _pt.raises(RuntimeError):
            I.ingest_new_files(store, in_dir)
    finally:
        I._commit_batch = real_commit
    # merge completed, manifest did NOT; pending record exists
    assert os.path.isfile(os.path.join(store.root, "ingest_pending.json"))
    assert not os.path.isfile(os.path.join(store.root, "ingest_manifest.txt"))

    # more files land BEFORE the retry — the old bug: a fresh file-set
    # hash re-merges the even files on top of the crashed (completed) merge
    odd.coalesce(1).write.mode("append").parquet(in_dir)
    ingested = I.ingest_new_files(store, in_dir)
    # retry ingests the pending set (as a ledgered no-op) plus the new file
    assert len(ingested) >= 2

    ref = TierStore(spark, str(tmp_path / "crash_ref"), VALUE_COLS)
    ref.materialize(channels)
    for tier in ("1m", "1h", "1d"):
        assert _count_sums(store, tier) == _count_sums(ref, tier), tier
    # steady state: no pending left, repeat is a no-op
    assert not os.path.isfile(os.path.join(store.root, "ingest_pending.json"))
    assert I.ingest_new_files(store, in_dir) == []


def test_publish_crash_before_ledger_append_replays_as_noop(
    spark, channels, tmp_path
):
    """ADVICE r2 #3: the job marker published atomically with the data
    dir covers the publish->ledger-append crash window — the replay of
    the same batch_id sees the marker and skips the 1m re-combine."""
    from timeseriesflattener_spark.plans import tiers as T_
    from timeseriesflattener_spark.streaming import incremental as I

    even = channels.filter(F.col("turn_idx") % 2 == 0)
    store = TierStore(spark, str(tmp_path / "pub_store"), VALUE_COLS)

    # crash: ledger append raises AFTER the data dir swap
    real_append = type(store)._append_ledger
    calls = {"n": 0}

    def exploding_append(self, row):
        calls["n"] += 1
        if calls["n"] == 1 and row["tier"] == "1m":
            raise RuntimeError("crash before ledger append")
        return real_append(self, row)

    import pytest as _pt

    type(store)._append_ledger = exploding_append
    try:
        with _pt.raises(RuntimeError):
            I.merge_batch(store, even, batch_id=7)
    finally:
        type(store)._append_ledger = real_append

    # replay of batch 7 (foreachBatch at-least-once): must be a no-op
    # for the published 1m unit despite the missing ledger row
    I.merge_batch(store, even, batch_id=7)

    once = TierStore(spark, str(tmp_path / "pub_once"), VALUE_COLS)
    I.merge_batch(once, even, batch_id=7)
    for tier in ("1m", "1h", "1d"):
        assert _count_sums(store, tier) == _count_sums(once, tier), tier


def test_compaction_between_crash_and_replay_keeps_the_replay_a_noop(
    spark, channels, tmp_path
):
    """A merge crashes after its base day's swap and before that day's
    ledger append, so the ``_job-*`` marker inside the day directory is
    the only proof the batch was combined. Compacting that day must carry
    the marker over: the replay then equals a clean merge on every tier
    instead of combining the batch a second time."""
    even = channels.filter(F.col("turn_idx") % 2 == 0)
    odd = channels.filter(F.col("turn_idx") % 2 == 1)
    store = TierStore(spark, str(tmp_path / "compacted"), VALUE_COLS)
    store.materialize(even, bulk=True)
    days = store._raw_days(odd)

    real_append = TierStore._append_ledger
    crashed = []

    def exploding_append(self, row):
        if row["source"] == "merge" and not crashed:
            crashed.append(row["day"])
            raise RuntimeError("crash before the base day's ledger append")
        return real_append(self, row)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(TierStore, "_append_ledger", exploding_append)
        with pytest.raises(RuntimeError, match="base day"):
            merge_batch(store, odd, batch_id=11)
    store.compact_day("1m", crashed[0])
    merge_batch(store, odd, batch_id=11)

    clean = TierStore(spark, str(tmp_path / "clean"), VALUE_COLS)
    clean.materialize(even, bulk=True)
    merge_batch(clean, odd, batch_id=11)
    assert _stored_partials(store, days) == _stored_partials(clean, days)


def test_crash_between_day_publishes_of_one_base_job(spark, channels, tmp_path):
    """A merge's base job writes every touched day at once and then
    publishes them one by one. A crash on the second day's ledger append
    (after its swap) leaves the first day ledgered and the second marked
    inside its directory; the replay combines neither again."""
    even = channels.filter(F.col("turn_idx") % 2 == 0)
    odd = channels.filter(F.col("turn_idx") % 2 == 1)
    store = TierStore(spark, str(tmp_path / "two_day"), VALUE_COLS)
    store.materialize(even, bulk=True)
    days = store._raw_days(odd)
    assert len(days) == 2

    real_append = TierStore._append_ledger
    base_publishes = []

    def exploding_append(self, row):
        if row["source"] == "merge":
            base_publishes.append(row["day"])
            if len(base_publishes) == 2:
                raise RuntimeError("crash before the second day's ledger append")
        return real_append(self, row)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(TierStore, "_append_ledger", exploding_append)
        with pytest.raises(RuntimeError, match="second day"):
            merge_batch(store, odd, batch_id=9)
    assert base_publishes == days

    def staging_dirs():
        return [d for d in os.listdir(store.root) if d.startswith("_staging-")]

    assert staging_dirs() == []
    merge_batch(store, odd, batch_id=9)  # at-least-once replay
    assert staging_dirs() == []

    clean = TierStore(spark, str(tmp_path / "two_day_clean"), VALUE_COLS)
    clean.materialize(even, bulk=True)
    merge_batch(clean, odd, batch_id=9)
    for tier in ("1m", "1h", "1d"):
        assert _count_sums(store, tier) == _count_sums(clean, tier), tier
    combines = [(r["tier"], r["day"]) for r in store.read_ledger().collect() if r["source"] == "merge"]
    assert combines == [("1m", days[0])]


def test_ingest_skips_in_progress_and_hidden_files(spark, channels, tmp_path):
    """Spark's listing rule: a writer's ``_temporary`` attempt files and
    ``.``-prefixed staging files beside the real file are not data."""
    import shutil

    from timeseriesflattener_spark.streaming.incremental import ingest_new_files

    even = channels.filter(F.col("turn_idx") % 2 == 0)
    in_dir = tmp_path / "landing"
    even.coalesce(1).write.parquet(str(in_dir))
    other = tmp_path / "other"
    channels.filter(F.col("turn_idx") % 2 == 1).coalesce(1).write.parquet(str(other))
    (real,) = [str(in_dir / f) for f in os.listdir(in_dir) if f.endswith(".parquet")]
    (odd_file,) = [str(other / f) for f in os.listdir(other) if f.endswith(".parquet")]
    attempt = in_dir / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    shutil.copy(odd_file, attempt / "part-00000.parquet")
    shutil.copy(odd_file, in_dir / ".part-00000.parquet")

    store = TierStore(spark, str(tmp_path / "landing_store"), VALUE_COLS)
    assert ingest_new_files(store, str(in_dir)) == [real]
    ref = TierStore(spark, str(tmp_path / "landing_ref"), VALUE_COLS)
    ref.materialize(even)
    for tier in ("1m", "1h", "1d"):
        assert _count_sums(store, tier) == _count_sums(ref, tier), tier
