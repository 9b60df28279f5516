"""Materialised continuous-aggregate tiers with a checkpoint ledger,
retention policy, and per-unit lineage/metrics.

North-rule requirements covered here (BASELINE.json):

- **checkpoint-resumable incremental aggregation**: work is split into
  (tier, day) units; every completed unit appends a ledger row; a
  killed job re-runs only units the ledger doesn't mark done. This is
  the scale-out replacement for the reference's per-feature DiskCache
  keyed by spec fingerprint + row count
  (``v1/feature_cache/cache_to_disk.py:74-148``) and its ctime-based
  "most recent file" lookup (``:52-72``), which cannot survive
  concurrent writers or partial failures.
- **per-partition lineage + metrics**: the ledger row records the
  source (raw vs finer tier), input/output row counts, wall seconds
  and attempt number — queryable as a table. Every parquet publish goes
  through one step (``TierStore._publish_unit``): the row counts come
  from the parquet footers of the files just written, not from a Spark
  read-back, and the ledger decisions (``completed_units``, a merge's
  replay set) read the event files with pyarrow — no Spark job runs
  to publish or to decide what to skip. Reads of the store's own
  partials (``TierStore._read_partials``) take their schema from one
  parquet footer, so Spark runs no schema-inference job either.
- **retention**: fine tiers age out first (drop whole day partitions),
  coarse tiers persist — ``apply_retention``.

Storage formats (``TierStore(format=...)``):

- ``"parquet"`` (default): partition-per-directory layout standing in
  for Iceberg — the layout mirrors an Iceberg table partitioned by
  (tier, day) and every publish is partition-atomic (write to a tmp
  dir, ``os.replace``):

      {root}/partials/tier={tier}/day={YYYY-MM-DD}/part-*.parquet
      {root}/ledger/*.parquet      (append-only events; latest wins)

- ``"iceberg"``: each tier is a catalog table
  ``{iceberg_table_prefix}_{tier}`` partitioned by ``day``; publishes
  use ``writeTo(...).overwritePartitions()`` (a real atomic snapshot
  commit), reads use ``spark.table`` with a partition predicate, and
  retention issues a partition ``DELETE``. Requires an Iceberg runtime
  jar + a configured Spark catalog; constructing the store raises a
  clear error when the probe (``iceberg_available``) fails — this
  sandbox has no jar, so the path is exercised by a skipif-guarded
  test and the parquet default stays bit-identical to round 3. The
  ledger/job-marker bookkeeping stays file-based under ``root`` in
  both modes (it predates the catalog and must survive without one).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import uuid as uuidlib
from dataclasses import dataclass, field
from typing import Callable, Sequence

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException
from pyspark.sql.pandas.types import from_arrow_schema

from . import rollup as R

LEDGER_SCHEMA = (
    "tier string, day date, state string, source string, input_rows long, "
    "output_rows long, wall_s double, attempt int, job_id string, finished_at timestamp"
)
#: the same columns as written to each ledger event file
LEDGER_ARROW_SCHEMA = pa.schema(
    [
        ("tier", pa.string()),
        ("day", pa.date32()),
        ("state", pa.string()),
        ("source", pa.string()),
        ("input_rows", pa.int64()),
        ("output_rows", pa.int64()),
        ("wall_s", pa.float64()),
        ("attempt", pa.int32()),
        ("job_id", pa.string()),
        ("finished_at", pa.timestamp("us")),
    ]
)


def _day_dir(root: str, tier: str, day: dt.date) -> str:
    return os.path.join(root, "partials", f"tier={tier}", f"day={day.isoformat()}")


def _visible(name: str) -> bool:
    """Spark's rule for the names its file reader lists: a ``.``-prefixed
    name is hidden, and a ``_``-prefixed one is metadata unless it is a
    ``key=value`` partition directory."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _data_files(path: str) -> list[str]:
    """The parquet data files of the directory ``path``: the names
    Spark's reader lists (``_visible``), so job markers, ``_SUCCESS`` and
    checksum files are skipped."""
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if _visible(f)]


def _parquet_rows(path: str) -> int:
    """Rows in the parquet directory ``path``, summed from its files'
    footers (no Spark job)."""
    return sum(pq.read_metadata(f).num_rows for f in _data_files(path))


def iceberg_available(spark: SparkSession) -> bool:
    """Probe for an Iceberg runtime on the session's JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


@dataclass
class TierStore:
    """Manages materialised partial-aggregate tiers under ``root``."""

    spark: SparkSession
    root: str
    value_cols: Sequence[str]
    entity_col: str = "conv_id"
    ts_col: str = "ts"
    #: only seeds the deterministic salt of ``salt_partitions``
    #: (``partial_aggregate``); it does not enter the partial state
    order_col: str | None = "turn_idx"
    tiers: Sequence[str] = field(default_factory=lambda: list(R.TIER_ORDER))
    salt_partitions: int | None = None
    #: per-tier parquet codec: the 1m tier is write-hot and expires in
    #: days -> lz4 (measured ~14% faster writes than snappy at 2M convs,
    #: ~same size); coarse tiers live long -> zstd (~21% smaller)
    tier_codec: dict = field(
        default_factory=lambda: {"1m": "lz4", "1h": "zstd", "1d": "zstd"}
    )
    #: test seam — called before each unit is computed; raising aborts the job
    on_unit_start: Callable[[str, dt.date], None] | None = None
    #: "parquet" (default, partition-per-directory) or "iceberg"
    #: (catalog tables; needs a runtime jar — see module docstring)
    format: str = "parquet"
    #: catalog.namespace.table prefix for format="iceberg"; each tier
    #: becomes f"{prefix}_{tier}" partitioned by day
    iceberg_table_prefix: str = "tsf.tiers"

    def __post_init__(self) -> None:
        if self.format not in ("parquet", "iceberg"):
            raise ValueError(f"unknown TierStore format {self.format!r}")
        if self.format == "iceberg" and not iceberg_available(self.spark):
            raise RuntimeError(
                "TierStore(format='iceberg') needs an Iceberg runtime on the "
                "Spark classpath and a configured catalog (e.g. "
                "spark.sql.catalog.tsf=org.apache.iceberg.spark.SparkCatalog); "
                "probe failed — use format='parquet' (default) instead"
            )

    def _codec(self, tier: str) -> str:
        return self.tier_codec.get(tier, "snappy")

    def _tier_table(self, tier: str) -> str:
        return f"{self.iceberg_table_prefix}_{tier}"

    # --------- iceberg write/read seams (no jar in this sandbox: these
    # run only under a real catalog; kept thin and declarative) ---------

    def _iceberg_publish(self, partials: DataFrame, tier: str, days: Sequence[dt.date]) -> None:
        """Overwrite exactly the ``days`` partitions in one atomic
        snapshot commit (the real Iceberg analog of the parquet path's
        per-day tmp-dir + os.replace). Uses an explicit partition
        predicate rather than ``overwritePartitions()``: dynamic
        overwrite only replaces partitions PRESENT in the source, so a
        recomputed day whose new partials are empty would silently keep
        its stale rows (the parquet path publishes a schema-bearing
        empty partition for that case — the predicate DELETEs it here)."""
        table = self._tier_table(tier)
        dated = partials.withColumn(
            "day", F.to_date(F.timestamp_micros(F.col("bucket_start")))
        )
        try:
            self.spark.table(table)
            exists = True
        except AnalysisException:
            # table genuinely absent -> first publish creates it; any
            # OTHER failure (catalog outage, permissions) propagates —
            # routing it into create() would corrupt an existing table
            exists = False
        writer = dated.writeTo(table).option(
            "write.parquet.compression-codec", self._codec(tier)
        )
        if exists:
            writer.overwrite(F.col("day").isin([F.lit(d) for d in days]))
        else:
            writer.partitionedBy(F.col("day")).create()

    def _iceberg_read_day(self, tier: str, day: dt.date) -> DataFrame:
        return (
            self.spark.table(self._tier_table(tier))
            .filter(F.col("day") == F.lit(day))
            .drop("day")
        )

    @property
    def ledger_dir(self) -> str:
        return os.path.join(self.root, "ledger")

    # ---------------- ledger ----------------

    def _ledger_files(self) -> list[str]:
        if not os.path.isdir(self.ledger_dir):
            return []
        return [
            os.path.join(self.ledger_dir, f)
            for f in os.listdir(self.ledger_dir)
            if f.startswith("event-") and f.endswith(".parquet")
        ]

    def _ledger_table(self, columns: list[str]) -> pa.Table:
        """``columns`` of every ledger event, read with pyarrow."""
        return pads.dataset(
            self._ledger_files(), schema=LEDGER_ARROW_SCHEMA, format="parquet"
        ).to_table(columns=columns)

    def read_ledger(self) -> DataFrame:
        """The lineage/metrics table. Empty frame if nothing ran yet."""
        if not self._ledger_files():
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        return self.spark.read.parquet(self.ledger_dir)

    def completed_units(self) -> set[tuple[str, dt.date]]:
        """Units whose latest event by ``(finished_at, state)`` is done."""
        ledger = self._ledger_table(["tier", "day", "finished_at", "state"])
        last: dict[tuple[str, dt.date], tuple[dt.datetime, str]] = {}
        for tier, day, at, state in zip(*(c.to_pylist() for c in ledger.columns)):
            last[(tier, day)] = max(last.get((tier, day), (at, state)), (at, state))
        return {unit for unit, (_, state) in last.items() if state == "done"}

    def _append_ledger(self, row: dict) -> None:
        """Append one ledger event. Written with pyarrow directly — a
        Spark job per tiny ledger row costs ~0.3s x units (measured 28s
        of pure overhead on a 93-unit run) — and read back the same way
        for the store's own decisions (``_ledger_table``). Its row counts
        come from parquet footers (``_parquet_rows``), never from a
        Spark scan. The event is written under a ``.``-prefixed name and
        renamed into place, so a torn write leaves a file that neither
        Spark nor ``_ledger_files`` reads."""
        os.makedirs(self.ledger_dir, exist_ok=True)
        name = f"event-{uuidlib.uuid4().hex}.parquet"
        tmp = os.path.join(self.ledger_dir, f".{name}.tmp")
        pq.write_table(pa.Table.from_pylist([row], schema=LEDGER_ARROW_SCHEMA), tmp)
        os.replace(tmp, os.path.join(self.ledger_dir, name))

    def _ledger_done(
        self, tier: str, day: dt.date, source: str, job_id: str,
        input_rows: int, output_rows: int, wall_s: float,
    ) -> None:
        self._append_ledger(
            {
                "tier": tier,
                "day": day,
                "state": "done",
                "source": source,
                "input_rows": input_rows,
                "output_rows": output_rows,
                "wall_s": wall_s,
                "attempt": 1,
                "job_id": job_id,
                "finished_at": dt.datetime.now(),
            }
        )

    def _publish_unit(
        self, staged: str, tier: str, day: dt.date, source: str, job_id: str,
        wall_s: float, input_rows: int | None = None, job_marker: bool = False,
    ) -> None:
        """Publish the parquet directory ``staged`` as the (tier, day)
        partition: count its rows from the footers, optionally drop a
        ``_job-{job_id}`` marker inside it, swap it in with ``os.replace``
        and append the ledger event. The marker is published atomically
        with the data, so a crash between the swap and the ledger append
        still shows that this job produced the unit. ``input_rows``
        defaults to the published count."""
        rows = _parquet_rows(staged)
        if job_marker:
            with open(os.path.join(staged, f"_job-{job_id}"), "w") as fh:
                fh.write(source)
        out_dir = _day_dir(self.root, tier, day)
        os.makedirs(os.path.dirname(out_dir), exist_ok=True)
        if os.path.isdir(out_dir):
            shutil.rmtree(out_dir)
        os.replace(staged, out_dir)
        self._ledger_done(
            tier, day, source, job_id,
            rows if input_rows is None else input_rows, rows, wall_s,
        )

    # ---------------- materialisation ----------------

    def _raw_days(self, raw: DataFrame) -> list[dt.date]:
        rows = raw.select(F.to_date(self.ts_col).alias("d")).distinct().collect()
        return sorted(r["d"] for r in rows)

    def materialize(
        self,
        raw: DataFrame,
        days: Sequence[dt.date] | None = None,
        bulk: bool = False,
    ) -> dict:
        """Incrementally materialise all tiers for the given days
        (default: every day present in ``raw``). Resumable: units already
        marked done in the ledger are skipped. Returns run metrics.

        One kernel (``_materialize_days``) builds every (tier, day)
        partition; ``bulk`` only sets how many days one Spark job covers.
        ``bulk=True`` runs it once per tier over all missing days — the
        production shape at 100 TB, where per-job fixed costs (planning,
        scheduling, scan setup) would otherwise multiply by the day count;
        its ledger sources carry a ``:bulk`` suffix. ``bulk=False`` runs it
        once per day, one job per (tier, day), calling ``on_unit_start``
        just before each day. Output, ledger granularity, resume semantics
        and the on-disk layout are identical.
        """
        job_id = uuidlib.uuid4().hex[:12]
        days = list(days) if days is not None else self._raw_days(raw)
        done = self.completed_units()
        computed, skipped = [], []

        for tier_i, tier in enumerate(self.tiers):
            finer = self.tiers[tier_i - 1] if tier_i > 0 else None
            todo = [day for day in days if (tier, day) not in done]
            skipped.extend((tier, day) for day in days if (tier, day) in done)
            if not todo:
                continue
            for job_days in [todo] if bulk else [[day] for day in todo]:
                if self.on_unit_start is not None:
                    for day in job_days:
                        self.on_unit_start(tier, day)
                self._materialize_days(raw, tier, finer, job_days, job_id, bulk)
                computed.extend((tier, day) for day in job_days)
        return {"job_id": job_id, "computed": computed, "skipped": skipped}

    def _materialize_days(
        self, raw: DataFrame, tier: str, finer: str | None, days: list[dt.date],
        job_id: str, bulk: bool,
    ) -> None:
        """``days`` of one tier through ``_write_days``: one
        partitioned-write job, then a per-day publish. ``input_rows`` is
        -1 for a raw source and the finer day's row count for a
        finer-tier source."""
        t0 = time.time()
        day_set = {d.isoformat() for d in days}
        if finer is None:
            source = "raw"
            base = raw
            if "ts_day" in raw.columns:
                # day-partitioned source: prune to the days' partitions
                base = base.filter(F.col("ts_day").isin(sorted(day_set)))
            else:
                base = base.filter(
                    F.to_date(F.col(self.ts_col)).isin([F.lit(d) for d in days])
                )
            # no repartition of raw by entity: the map-side combiner
            # already shrinks what the groupBy exchange carries, and a
            # repartition would shuffle the full raw rows (measured slower)
            partials = R.partial_aggregate(
                base.drop("ts_day") if "ts_day" in raw.columns else base,
                self.value_cols,
                entity_col=self.entity_col,
                ts_col=self.ts_col,
                order_col=self.order_col,
                tier=tier,
                salt_partitions=self.salt_partitions,
            )
        else:
            source = f"tier:{finer}"
            if self.format == "iceberg":
                finer_df = (
                    self.spark.table(self._tier_table(finer))
                    .filter(F.col("day").isin([F.lit(d) for d in days]))
                    .drop("day")
                )
            else:
                finer_df = self._read_partials([_day_dir(self.root, finer, d) for d in days])
            partials = R.rollup(
                finer_df,
                self.value_cols,
                to_tier=tier,
                entity_col=self.entity_col,
            )
        if bulk:
            source += ":bulk"

        if self.format == "iceberg":
            # one snapshot commit covers every day of the job
            self._iceberg_publish(partials, tier, days)
            wall = time.time() - t0
            counts = self._iceberg_day_counts(tier, days)
            inputs = self._iceberg_day_counts(finer, days) if finer else {}
            for day in days:
                self._ledger_done(
                    tier, day, source, job_id,
                    inputs.get(day, 0) if finer else -1, counts.get(day, 0), wall / len(days),
                )
            return

        input_rows = {
            day: _parquet_rows(_day_dir(self.root, finer, day)) if finer else -1 for day in days
        }
        self._write_days(partials, tier, days, source, job_id, input_rows=input_rows)

    def _write_days(
        self, partials: DataFrame, tier: str, days: list[dt.date], source: str,
        job_id: str, input_rows: dict[dt.date, int] | None = None,
        job_marker: bool = False,
    ) -> None:
        """Write ``partials`` of one tier as its ``days`` partitions in a
        single ``partitionBy("day")`` job, then publish each day with
        ``_publish_unit``. ``input_rows`` maps a day to its ledger
        ``input_rows`` (default: the published count). The staging
        directory is removed even when a publish fails; days already
        published stay published."""
        t0 = time.time()
        staging = os.path.join(self.root, f"_staging-{tier}-{job_id}")
        try:
            (
                partials.withColumn(
                    "day", F.to_date(F.timestamp_micros(F.col("bucket_start")))
                )
                .repartition("day")
                .write.partitionBy("day")
                .option("compression", self._codec(tier))
                .mode("overwrite")
                .parquet(staging)
            )
            wall = time.time() - t0
            for day in days:
                src = os.path.join(staging, f"day={day.isoformat()}")
                if not os.path.isdir(src):
                    # day with no rows: write a schema-bearing empty parquet,
                    # not a bare directory — read_tier_day / a later rollup
                    # from this day would otherwise crash on 'Unable to infer schema'
                    partials.limit(0).write.option(
                        "compression", self._codec(tier)
                    ).mode("overwrite").parquet(src)
                self._publish_unit(
                    src, tier, day, source, job_id, wall / len(days),
                    input_rows=None if input_rows is None else input_rows[day],
                    job_marker=job_marker,
                )
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _iceberg_day_counts(self, tier: str, days: Sequence[dt.date]) -> dict[dt.date, int]:
        return {
            r["day"]: r["n"]
            for r in self.spark.table(self._tier_table(tier))
            .filter(F.col("day").isin([F.lit(d) for d in days]))
            .groupBy("day")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    # ---------------- reads ----------------

    def _read_partials(self, paths: Sequence[str]) -> DataFrame:
        """The store's own partial directories ``paths`` as one frame.
        The schema comes from the first data file's footer, so Spark
        runs no schema-inference job: every partition is written by
        ``_write_days`` from the same partial schema, and Spark reads a
        given schema back as nullable, as its own inference would."""
        if not paths:
            raise FileNotFoundError("no partial directory to read")
        files = _data_files(paths[0])
        if not files:
            raise FileNotFoundError(f"no parquet data file in {paths[0]} to take the partial schema from")
        schema = from_arrow_schema(pq.read_schema(files[0]))
        return self.spark.read.schema(schema).parquet(*paths)

    def read_tier_day(self, tier: str, day: dt.date) -> DataFrame:
        if self.format == "iceberg":
            return self._iceberg_read_day(tier, day)
        return self._read_partials([_day_dir(self.root, tier, day)])

    def read_tier(self, tier: str) -> DataFrame:
        if self.format == "iceberg":
            return self.spark.table(self._tier_table(tier)).drop("day")
        base = os.path.join(self.root, "partials", f"tier={tier}")
        days = sorted(d for d in os.listdir(base) if d.startswith("day=")) if os.path.isdir(base) else []
        if not days:
            raise FileNotFoundError(f"tier {tier!r} has no day partitions under {base}")
        return self._read_partials([os.path.join(base, d) for d in days])

    def read_points(self, tier: str) -> DataFrame:
        """Finalised rolled-up points for a tier."""
        return R.finalize(self.read_tier(tier), self.value_cols, entity_col=self.entity_col)

    # ---------------- compaction ----------------

    def compact_day(
        self, tier: str, day: dt.date, target_files: int = 1
    ) -> tuple[int, int]:
        """Rewrite a (tier, day) partition into ``target_files`` files —
        the small-files treatment: incremental merges and streaming
        publishes each leave their own file set, and at 100 TB a day
        touched by hundreds of micro-batches degrades every later scan
        (footer opens + tiny row groups). Values are untouched (asserted
        by count); the rewrite is partition-atomic like every publish,
        and the ledger records it as source="compact" lineage. The
        partition's ``_job-*`` markers move with it, so a merge's replay
        proof survives compaction. Returns (files_before, files_after).

        format="iceberg": the partition is rewritten through the same
        read -> coalesce -> overwritePartitions shape (snapshot-atomic);
        file counts come from the table's ``.files`` metadata table. On
        a managed catalog, Iceberg's ``rewrite_data_files`` procedure is
        the richer alternative — this path keeps the TierStore contract
        (count-asserted, ledgered) identical across formats."""
        if self.format == "iceberg":
            return self._iceberg_compact_day(tier, day, target_files)
        out_dir = _day_dir(self.root, tier, day)
        before = len([f for f in os.listdir(out_dir) if f.endswith(".parquet")])
        t0 = time.time()
        rows_before = _parquet_rows(out_dir)
        tmp = out_dir + f".compact-{uuidlib.uuid4().hex[:8]}"
        (
            self._read_partials([out_dir])
            .coalesce(target_files)
            .write.option("compression", self._codec(tier))
            .mode("overwrite")
            .parquet(tmp)
        )
        rows_after = _parquet_rows(tmp)
        if rows_after != rows_before:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compaction row mismatch {rows_before} -> {rows_after} for {tier}/{day}"
            )
        # carry over the job markers: a merge that crashed between this
        # day's swap and its ledger append has no other proof that its
        # batch was combined, and its replay would combine it again
        for name in os.listdir(out_dir):
            if name.startswith("_job-"):
                shutil.copyfile(os.path.join(out_dir, name), os.path.join(tmp, name))
        self._publish_unit(
            tmp, tier, day, "compact", f"compact-{uuidlib.uuid4().hex[:8]}",
            time.time() - t0, input_rows=rows_before,
        )
        after = len([f for f in os.listdir(out_dir) if f.endswith(".parquet")])
        return before, after

    def _iceberg_compact_day(
        self, tier: str, day: dt.date, target_files: int
    ) -> tuple[int, int]:
        table = self._tier_table(tier)

        def n_files() -> int:
            try:
                return (
                    self.spark.table(f"{table}.files")
                    .filter(F.col("partition.day") == F.lit(day))
                    .count()
                )
            except Exception:
                return -1  # metadata table unavailable on this catalog

        before = n_files()
        t0 = time.time()
        df = self._iceberg_read_day(tier, day)
        rows_before = df.count()
        self._iceberg_publish(df.coalesce(target_files), tier, [day])
        rows_after = self._iceberg_read_day(tier, day).count()
        if rows_after != rows_before:
            raise RuntimeError(
                f"compaction row mismatch {rows_before} -> {rows_after} for {tier}/{day}"
            )
        self._ledger_done(
            tier, day, "compact", f"compact-{uuidlib.uuid4().hex[:8]}",
            rows_before, rows_after, time.time() - t0,
        )
        return before, n_files()

    # ---------------- retention ----------------

    def apply_retention(self, keep_days: dict[str, int], now: dt.date) -> list[tuple[str, str]]:
        """Drop day partitions older than each tier's horizon. Returns the
        (tier, day) partitions removed. Typical policy keeps 1m briefly,
        1h longer, 1d forever: {'1m': 7, '1h': 90}. format="iceberg"
        issues one partition-predicate DELETE per tier (a metadata-only
        drop for whole partitions)."""
        removed: list[tuple[str, str]] = []
        if self.format == "iceberg":
            for tier, keep in keep_days.items():
                cutoff = now - dt.timedelta(days=keep)
                table = self._tier_table(tier)
                try:
                    old = (
                        self.spark.table(table)
                        .filter(F.col("day") < F.lit(cutoff))
                        .select("day")
                        .distinct()
                        .collect()
                    )
                except AnalysisException:
                    continue  # tier table not created yet; a transient
                    # read failure is NOT "nothing due" and propagates
                if not old:
                    continue
                self.spark.sql(
                    f"DELETE FROM {table} WHERE day < DATE '{cutoff.isoformat()}'"
                )
                removed.extend((tier, f"day={r['day'].isoformat()}") for r in old)
            return removed
        for tier, keep in keep_days.items():
            cutoff = now - dt.timedelta(days=keep)
            base = os.path.join(self.root, "partials", f"tier={tier}")
            if not os.path.isdir(base):
                continue
            for entry in sorted(os.listdir(base)):
                if not entry.startswith("day="):
                    continue
                day = dt.date.fromisoformat(entry.split("=", 1)[1])
                if day < cutoff:
                    shutil.rmtree(os.path.join(base, entry))
                    removed.append((tier, entry))
        return removed
