"""Incremental tier maintenance: merge new transcript turns into the
materialised continuous aggregates without recomputing history.

The reference has no streaming at all (SURVEY.md §2.6) — its closest
analog is ``step_size`` chunking. Here incrementality falls out of the
algebra: partial states combine, so

    new 1m partials(batch)  ∪  existing base partials(day)
        --combine-->  updated base partials(day)
        --rollup-->   updated coarser partials(day)

The base is the finest tier still holding the day (1m unless retention
dropped it). Each merge touches only the (tier, day) units the batch
lands in, and runs one Spark write job per tier over all of them — the
same day-partitioned write-and-publish step (``TierStore._write_days``)
that ``materialize`` uses — not one per (tier, day). The ledger records
the units like any other materialisation (source="merge").

Two entry points:

- ``merge_batch(store, batch_df)`` — the micro-batch kernel (pure
  batch-DataFrame logic, unit-testable).
- ``stream_into_store(spark, input_path, store)`` — Structured
  Streaming wrapper: ``readStream`` on a parquet directory ->
  ``foreachBatch(merge_batch)`` with a checkpointLocation. foreachBatch
  is only AT-LEAST-ONCE: a micro-batch can replay after a crash between
  a publish and the streaming checkpoint commit. The base combine step is
  not naturally idempotent (replaying it would double-count sums), so
  ``merge_batch`` ledgers every publish under ``job_id =
  "stream-{key}-{batch_id}"`` (``key`` from the checkpoint directory)
  and skips (tier, day) units already ledgered for that job — replays
  become no-ops, giving effectively-once results. Late data within a
  day merges naturally (combine is order-independent); a watermark is
  unnecessary because state lives in the store, not in streaming
  memory.
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import start_stream
from ..plans import rollup as R
from ..plans.tiers import TierStore, _day_dir, _visible


def merge_batch(
    store: TierStore, batch: DataFrame, batch_id: int | str | None = None
) -> list[dt.date]:
    """Merge a batch of raw rows into every tier. Returns affected days.

    Each day merges into its base tier: the finest tier of ``store.tiers``
    that still holds the day, or 1m for a new day. Retention may already
    have dropped a day's finer partitions; the batch's 1m partials are
    then combined into the base tier's existing partials, the coarser
    tiers are rolled up from the result, and the dropped finer tiers stay
    absent. The days are grouped by base tier, and each group runs one
    combine job for the base tier and one rollup job per coarser tier,
    each writing all of the group's days at once.

    ``batch_id`` makes the merge idempotent under foreachBatch's
    at-least-once replay: units already ledgered under this batch's
    job_id are skipped, so re-running the same batch never combines the
    same rows into the base tier twice. Pass None only for ad-hoc
    batches that will not be replayed.
    """
    if getattr(store, "format", "parquet") != "parquet":
        raise NotImplementedError(
            "streaming merge targets the parquet partition layout; for an "
            "Iceberg store run batch materialize() per micro-batch window "
            "(the MERGE-INTO streaming path needs a live catalog to build on)"
        )
    days = store._raw_days(batch)
    if not days:
        return []
    job_id = f"stream-{batch_id}" if batch_id is not None else "stream"
    bases = {
        day: next(
            (t for t in store.tiers if os.path.isdir(_day_dir(store.root, t, day))), "1m"
        )
        for day in days
    }

    already: set[tuple[str, dt.date]] = set()
    if batch_id is not None:
        ledger = store._ledger_table(["tier", "day", "state", "job_id"])
        already = {
            (tier, day)
            for tier, day, state, job in zip(*(c.to_pylist() for c in ledger.columns))
            if job == job_id and state == "done"
        }
        # the job marker travels INSIDE the published data directory
        # (written before the atomic os.replace), so a crash in the
        # window between publish and ledger append still leaves proof —
        # without it, a replay would re-combine already-published base
        # partials and double-count
        for day, base in bases.items():
            if (base, day) not in already and os.path.isfile(
                os.path.join(_day_dir(store.root, base, day), f"_job-{job_id}")
            ):
                already.add((base, day))

    by_base: dict[str, list[dt.date]] = {}
    for day, base in bases.items():
        by_base.setdefault(base, []).append(day)
    for base, base_days in by_base.items():
        # a replayed batch never re-combines a day whose base it already
        # combined
        todo = [day for day in base_days if (base, day) not in already]
        if todo:
            new_1m = R.partial_aggregate(
                batch.filter(F.to_date(F.col(store.ts_col)).isin([F.lit(d) for d in todo])),
                store.value_cols,
                entity_col=store.entity_col,
                ts_col=store.ts_col,
                order_col=store.order_col,
                tier="1m",
                salt_partitions=store.salt_partitions,
            )
            stored = [p for p in (_day_dir(store.root, base, d) for d in todo) if os.path.isdir(p)]
            if stored:
                # combine = rollup into the base tier (for 1m: same width);
                # a new day's rows pass through as single-row groups
                merged = R.rollup(
                    store._read_partials(stored).unionByName(new_1m),
                    store.value_cols,
                    to_tier=base,
                    entity_col=store.entity_col,
                )
            else:
                merged = new_1m
            store._write_days(merged, base, todo, "merge", job_id, job_marker=True)

        # coarser tiers rebuild from the stored base partials of the days —
        # a deterministic overwrite, so re-running them on replay is safe
        # (and necessary if the crash hit between the base and a coarser
        # publish)
        coarser = [t for t in store.tiers if R.TIER_SECONDS[t] > R.TIER_SECONDS[base]]
        if not coarser:
            continue
        fine = store._read_partials([_day_dir(store.root, base, day) for day in base_days])
        for tier in coarser:
            rolled = R.rollup(fine, store.value_cols, to_tier=tier, entity_col=store.entity_col)
            store._write_days(rolled, tier, base_days, f"merge:{base}", job_id, job_marker=True)
    return days


def stream_into_store(
    spark: SparkSession,
    input_path: str,
    store: TierStore,
    schema: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Structured Streaming: watch ``input_path`` for new parquet files
    of raw turns and merge each micro-batch into the tier store.
    ``max_files_per_trigger`` bounds micro-batch size (availableNow
    otherwise drains everything already present in ONE batch).

    Batch ids restart at 0 for every checkpoint, so the merge's replay
    key is the batch id under a key of ``checkpoint_dir``: a replay on
    the same checkpoint finds its units done, while a second stream (or
    a fresh checkpoint) into the same store is merged, not skipped."""
    stream_key = _batch_token([os.path.abspath(checkpoint_dir)])

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch(store, batch_df, batch_id=f"{stream_key}-{batch_id}")

    return start_stream(
        spark, input_path, schema, checkpoint_dir, transform=lambda s: s, sink=_merge,
        max_files_per_trigger=max_files_per_trigger, available_now=available_now,
    )


# ------------------------------------------------- snapshot-diff ingest

def list_data_files(input_dir: str) -> list[str]:
    """All parquet data files under ``input_dir`` (recursing into
    day-partition subdirectories), sorted for deterministic batch ids.
    Directories and files are filtered by Spark's own rule
    (``_visible``), so a writer's in-progress ``_temporary`` attempt
    files and ``.``-prefixed staging files are never ingested."""
    found: list[str] = []
    for root, dirs, files in os.walk(input_dir):
        dirs[:] = [d for d in dirs if _visible(d)]
        for f in files:
            if f.endswith(".parquet") and _visible(f):
                found.append(os.path.join(root, f))
    return sorted(found)


def ingest_new_files(
    store: TierStore, input_dir: str, schema: str | None = None
) -> list[str]:
    """Snapshot-diff ingestion — the Iceberg ``incrementalScan`` analog
    over the parquet layout (no Iceberg runtime jar in this sandbox;
    with a real catalog this becomes snapshot-id bookkeeping instead of
    a file manifest).

    Lists the input table's data files, diffs against the manifest of
    files already ingested into ``store``, reads ONLY the new files and
    merges them into every tier — so late-arriving data files (backfill
    drops, upstream compactions landing new partitions) re-open exactly
    the (tier, day) units they touch, without rescanning ingested data.

    Crash-safe: the pending file list (and its batch token) is recorded
    DURABLY before the merge starts, so the replay key cannot depend on
    files that arrive later — a crash between merge and manifest append
    resumes from the recorded pending set (whose token matches the
    half-done merge, making the replay a no-op via ``merge_batch``) and
    only then diffs for newer files. Returns the newly ingested paths.
    """
    manifest = os.path.join(store.root, "ingest_manifest.txt")
    pending_path = os.path.join(store.root, "ingest_pending.json")
    seen: set[str] = set()
    if os.path.isfile(manifest):
        with open(manifest) as fh:
            seen = {line.strip() for line in fh if line.strip()}

    ingested: list[str] = []
    # resume a crashed batch first: its token was fixed when it was
    # recorded, so later arrivals cannot change the replay key
    pending = _read_pending(pending_path)
    if pending is not None:
        files = [f for f in pending["files"] if f not in seen]
        if files:
            _merge_files(store, files, pending["token"], schema)
            _commit_batch(manifest, pending_path, files)
            seen.update(files)
            ingested.extend(files)
        else:
            os.remove(pending_path)

    new = [f for f in list_data_files(input_dir) if f not in seen]
    if not new:
        return ingested
    batch_token = _batch_token(new)
    _write_pending(pending_path, {"token": batch_token, "files": new})
    _merge_files(store, new, batch_token, schema)
    _commit_batch(manifest, pending_path, new)
    return ingested + new


def _batch_token(files: Sequence[str]) -> str:
    import hashlib

    return hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]


def _read_pending(path: str) -> dict | None:
    import json

    if not os.path.isfile(path):
        return None
    try:
        with open(path) as fh:
            pending = json.load(fh)
        if isinstance(pending.get("files"), list) and pending.get("token"):
            return pending
    except (ValueError, OSError):
        pass
    return None  # torn write before the batch started: nothing was merged


def _write_pending(path: str, pending: dict) -> None:
    import json

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(pending, fh)
    os.replace(tmp, path)


def _merge_files(
    store: TierStore, files: Sequence[str], token: str, schema: str | None
) -> None:
    reader = store.spark.read
    if schema:
        reader = reader.schema(schema)
    # the recorded file-set hash keys idempotent replay exactly like a
    # streaming batch id
    merge_batch(store, reader.parquet(*files), batch_id=token)


def _commit_batch(manifest: str, pending_path: str, files: Sequence[str]) -> None:
    with open(manifest, "a") as fh:
        fh.writelines(f + "\n" for f in files)
    if os.path.isfile(pending_path):
        os.remove(pending_path)
