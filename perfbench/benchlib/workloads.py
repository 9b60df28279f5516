"""The three closed-loop workloads.

Each workload generates its inputs from the seed (``generate``), brings
the library to its starting state (``prepare``), and then runs ``step``
back to back: one driver thread, one operation at a time, each waiting
for the previous result, as feature jobs, serialized micro-batches and
analysts do. Every timed operation consumes every output column
(parquet sink or ``toPandas``); none ends in ``count()``.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

from . import gen, oracle, plan_guard
from .spans import Span, Tracer
from .spark_status import Execution, SparkStatus, catalyst_phases

VALUE_COLS = ["text_len", "n_tokens"]


@dataclass
class OpRecord:
    kind: str
    op_id: int
    seconds: float
    cpu_s: float
    errors: list[str]
    span: Span | None = None
    executions: list[Execution] = field(default_factory=list)
    #: per-operation layer readings, filled only when traced
    layer: dict = field(default_factory=dict)
    result: object = None

    @property
    def ok(self) -> bool:
        return not self.errors

    @property
    def traced(self) -> bool:
        return self.span is not None


class Workload:
    name = ""
    #: operation kinds whose time and CPU are ``op_s_p50``'s and
    #: ``op_cpu_s_p50``'s samples (see ``latency_groups``)
    primary: tuple[str, ...] = ()
    #: index of the first measured step; ``warmup`` runs the steps before it
    warmup_steps = 1

    def __init__(self, spark, status: SparkStatus, tracer: Tracer, cpu, work: str, seed: int) -> None:
        self.spark = spark
        self.cpu = cpu
        self.status = status
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.inputs = ""
        self.info: dict = {}

    def generate(self, into: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def step(self, i: int) -> list[OpRecord]:
        raise NotImplementedError

    def latency_groups(self, primary: list[OpRecord]) -> list[list[OpRecord]]:
        """The primary operations of one step, grouped into the units
        whose summed time and CPU are ``op_s_p50``'s samples."""
        return [primary]

    def warmup(self) -> list[OpRecord]:
        """Untimed, checked operations before the measured window."""
        return [r for i in range(self.warmup_steps) for r in self.step(i)]

    def finish(self) -> list[str]:
        return []

    def layer_metrics(self, records: list[OpRecord]) -> dict[str, float]:
        return {}

    # --------------------------------------------------------------- helpers

    def timed(self, kind: str, op_id: int, fn: Callable[[], object], check: Callable[[object], list[str]]) -> OpRecord:
        """Run one operation: time it, then (untimed) check its executed
        plans and its output. An exception fails the operation."""
        first = self.status.execution_count()
        result, errors = None, []
        cpu0 = self.cpu.seconds()
        t0 = time.perf_counter()
        with self.tracer.span(kind, op_id) as sp:
            try:
                result = fn()
            except Exception as exc:  # the run goes on; the operation counts as failed
                errors.append(f"{kind} raised {type(exc).__name__}: {str(exc)[:300]}")
        seconds = time.perf_counter() - t0
        cpu_s = self.cpu.seconds() - cpu0
        rec = OpRecord(kind, op_id, seconds, cpu_s, errors, span=sp, result=result)
        if not errors:
            rec.executions = self.status.executions_since(first)
            rec.errors += plan_guard.check(kind, rec.executions)
            try:
                rec.errors += check(result)
            except Exception as exc:
                rec.errors.append(f"{kind} check raised {type(exc).__name__}: {str(exc)[:300]}")
        return rec


def _median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0


def _sum_stages(tracer: Tracer, sp: Span, attr: str, only_ops: str | None = None) -> float:
    stages = {s["stage_id"]: s for t in tracer.subtree(sp) for s in t.stages}
    return float(
        sum(s[attr] for s in stages.values() if only_ops is None or only_ops in s["operators"])
    )


def _traced(records: list[OpRecord], kind: str) -> list[OpRecord]:
    return [r for r in records if r.kind == kind and r.traced and r.ok]


# ====================================================================== flatten


class FlattenFeatures(Workload):
    """Point-in-time lookbehind/lookahead flattening. Never touches tiers,
    Gorilla or streaming: the control for changes to those layers."""

    name = "flatten_features"
    primary = ("flatten",)
    #: the first flatten in a session spends most of its time compiling
    #: (JIT and generated code) and is three times as slow as the next;
    #: it is also the most sensitive to CPU contention from other tenants
    warmup_steps = 1
    SAMPLE = 24
    FRAMES = {"labs": ["crp", "hba1c"], "meds": ["dose_mg", "n_items"]}

    def generate(self, into: str) -> None:
        self.info["rows"] = gen.gen_flatten(self.seed, into)

    def prepare(self) -> None:
        pred = pq.read_table(os.path.join(self.inputs, "pred.parquet")).to_pandas()
        rng = np.random.default_rng([self.seed, 3])
        self.sample = pred.iloc[np.sort(rng.choice(len(pred), self.SAMPLE, replace=False))]
        self.expected = None
        self.n_pred = len(pred)

    def _specs(self):
        from timeseriesflattener_spark import (
            BooleanOutcomeSpec, PredictorSpec, StaticFrame, StaticSpec, TimeDeltaSpec,
            TimestampValueFrame, ValueFrame, strings_to_aggregators,
        )

        def rd(name):
            return self.spark.read.parquet(os.path.join(self.inputs, f"{name}.parquet"))

        looks = [dt.timedelta(days=d) for d in oracle.LOOKBEHIND_DAYS]
        lo, hi = oracle.INTERVAL_DAYS
        looks.append((dt.timedelta(days=lo), dt.timedelta(days=hi)))
        aggs = strings_to_aggregators(list(oracle.AGGREGATORS))
        specs = [PredictorSpec(ValueFrame(rd(f)), looks, aggs, fallback=0) for f in self.FRAMES]
        specs += [
            BooleanOutcomeSpec(
                TimestampValueFrame(rd("events")),
                [dt.timedelta(days=oracle.OUTCOME_DAYS)],
                strings_to_aggregators(["max"]),
                output_name="event",
            ),
            StaticSpec(StaticFrame(rd("static")), column_prefix="pred", fallback=0),
            TimeDeltaSpec(TimestampValueFrame(rd("birth")), fallback=0, output_name="age", time_format="years"),
        ]
        return rd("pred"), specs

    def step(self, i: int) -> list[OpRecord]:
        from timeseriesflattener_spark import Flattener, PredictionTimeFrame

        out_dir = os.path.join(self.work, f"flat-out-{i}")
        layer: dict = {}

        def run():
            pred_df, specs = self._specs()
            with self.tracer.span("flattener.build", i):
                t0 = time.perf_counter()
                out = Flattener(PredictionTimeFrame(pred_df)).aggregate_timeseries(specs)
                layer["build_s"] = time.perf_counter() - t0
            if self.tracer.enabled:
                # plans the query once more than an untraced run does
                with self.tracer.overhead(), self.tracer.span("flattener.catalyst", i):
                    layer.update(catalyst_phases(out.df))
            with self.tracer.span("flattener.write", i):
                out.df.write.mode("overwrite").parquet(out_dir)
            return out_dir

        rec = self.timed("flatten", i, run, self._check)
        rec.layer = layer
        if rec.traced and rec.ok:
            layer["agg_exprs"] = float(plan_guard.aggregate_functions(rec.executions))
            rows = 0.0
            for e in rec.executions:
                for _name, desc, mets in self.status.node_metrics(e.execution_id, plan_guard.JOIN):
                    if "__value_entity_id" in desc:
                        rows += mets.get("number of output rows", 0.0)
            layer["join_rows"] = rows
        shutil.rmtree(out_dir, ignore_errors=True)
        return [rec]

    def _check(self, out_dir) -> list[str]:
        if self.expected is None:
            self.expected = oracle.flatten_expected(self.inputs, self.sample, self.FRAMES)
        got = oracle.read_rows(os.path.join(out_dir, "*.parquet"))
        errors = []
        if len(got) != self.n_pred:
            errors.append(f"flatten output has {len(got)} rows, want {self.n_pred}")
        keys = ["entity_id", "pred_timestamp"]
        want = self.expected.assign(pred_timestamp=oracle.to_micros(self.expected.pred_timestamp))
        got = got.assign(pred_timestamp=oracle.to_micros(got.pred_timestamp))
        sample = self.sample[keys].assign(pred_timestamp=oracle.to_micros(self.sample.pred_timestamp))
        got = got.merge(sample, on=keys)[list(want.columns)]
        errors += oracle.mismatches(got, want, keys, rel=1e-7, abs_=1e-9)
        return errors

    def layer_metrics(self, records: list[OpRecord]) -> dict[str, float]:
        recs = _traced(records, "flatten")
        if not recs:
            return {}
        join_rows = _median([r.layer.get("join_rows", 0.0) for r in recs])
        return {
            "flattener.build_s": _median([r.layer["build_s"] for r in recs]),
            "flattener.agg_exprs": _median([r.layer["agg_exprs"] for r in recs]),
            "flattener.catalyst_optimize_s": _median([r.layer["optimization"] for r in recs]),
            "flattener.catalyst_plan_s": _median([r.layer["planning"] for r in recs]),
            "flattener.join_rows": join_rows,
            "flattener.join_rows_per_pred": join_rows / self.n_pred,
            "flattener.executor_cpu_s": _median([_sum_stages(self.tracer, r.span, "cpu_s") for r in recs]),
            "flattener.executor_run_s": _median([_sum_stages(self.tracer, r.span, "run_s") for r in recs]),
            "flattener.shuffle_write_bytes": _median(
                [_sum_stages(self.tracer, r.span, "shuffle_write_bytes") for r in recs]
            ),
            "flattener.spill_bytes": _median([_sum_stages(self.tracer, r.span, "spill_bytes") for r in recs]),
            "flattener.driver_gap_s": _median([r.layer["driver_gap_s"] for r in recs]),
        }


# ================================================================ transcripts


class _TierBase(Workload):
    def generate(self, into: str) -> None:
        self.info["rows"] = gen.gen_transcripts(self.seed, into)

    def _store(self, root: str):
        from timeseriesflattener_spark.plans.tiers import TierStore

        return TierStore(self.spark, root, value_cols=VALUE_COLS)

    def _bulk_build(self, store, files: list[str], op_id: int = -1, days=None) -> float:
        with self.tracer.span("tiers.materialize", op_id):
            t0 = time.perf_counter()
            store.materialize(self.spark.read.parquet(*files), days=days, bulk=True)
            return time.perf_counter() - t0

    def _encode(self, files: list[str], out_dir: str, op_id: int = -1) -> None:
        from timeseriesflattener_spark.functions.gorilla import encode_chunks

        with self.tracer.span("gorilla.encode", op_id):
            chunks = encode_chunks(self.spark.read.parquet(*files), "text_len", tier="1h")
            chunks.write.mode("overwrite").parquet(out_dir)

    def _archive_stats(self, archive_glob: str) -> dict[str, float]:
        df = oracle.read_rows(
            archive_glob,
            columns="sum(octet_length(chunk)) AS b, sum(n_points) AS p, count(*) AS c, "
            "count(*) FILTER (WHERE n_points > 128) AS multi, max(n_points) AS maxp",
        )
        b, p, c, multi, maxp = (float(df.iloc[0][k]) for k in ("b", "p", "c", "multi", "maxp"))
        return {"bytes_per_point": b / p, "multiblock_share": multi / c, "max_points": maxp, "points": p}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _day_us(d: dt.date) -> int:
    return int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


class TierIngest(_TierBase):
    """The write path: a bulk backfill and a 1h Gorilla archive of the
    base corpus in set-up, then micro-batch files landing through
    ``ingest_new_files`` and archived the same way, with compaction and
    retention after the first merge and every second one after it.
    Archiving the base in set-up also starts the Python workers, so the
    first merge does not pay for them."""

    name = "tier_ingest"
    primary = ("merge",)
    #: set-up's bulk build and archive already run the rollup, Gorilla and
    #: parquet-write paths a merge runs, and a warm-up merge would add a
    #: sixth to the run
    warmup_steps = 0
    MAINTAIN_EVERY = 2
    #: 1m partials older than a day age out, so the first maintenance pass
    #: drops those of every base day but the last; late batches reach
    #: back one day only, so no merge lands on a day whose 1m partials
    #: are gone
    RETENTION = {"1m": 1}

    def prepare(self) -> None:
        self.store_root = os.path.join(self.work, "store")
        self.landing = os.path.join(self.work, "landing")
        self.archive = os.path.join(self.work, "archive")
        os.makedirs(self.landing)
        self.store = self._store(self.store_root)
        self.base_files = sorted(glob.glob(os.path.join(self.inputs, "base", "*.parquet")))
        self.info["tier_build_s"] = self._bulk_build(self.store, self.base_files)
        self._encode(self.base_files, os.path.join(self.archive, "base"))
        self.landed: list[str] = []
        self.touched: set[dt.date] = set()
        self.all_days = [gen.TRANSCRIPT_START.date() + dt.timedelta(days=k) for k in range(gen.DAYS)]
        self.newest = self.all_days[-1]

    def _raw_files(self) -> list[str]:
        return self.base_files + self.landed

    def step(self, i: int) -> list[OpRecord]:
        out = [self._merge(i)]
        if i % self.MAINTAIN_EVERY == 0:
            out.append(self._maintain(i))
        return out

    def _merge(self, i: int) -> OpRecord:
        from timeseriesflattener_spark.streaming.incremental import ingest_new_files

        src = os.path.join(self.inputs, "batches", f"batch-{i:04d}.parquet")
        if not os.path.isfile(src):
            raise RuntimeError(f"all {gen.BATCHES} batch files landed; use fewer --seconds")
        dst = os.path.join(self.landing, os.path.basename(src))
        os.replace(src, dst)
        ledger_before = set(os.listdir(self.store.ledger_dir))

        def merge():
            # timed from the file landing until every tier and the archive are published
            with self.tracer.span("incremental.ingest", i):
                ingest_new_files(self.store, self.landing)
            self._encode([dst], os.path.join(self.archive, f"batch-{i:04d}"), i)
            return dst

        days = sorted(
            dt.datetime.fromtimestamp(d // 1_000_000, dt.timezone.utc).date()
            for d in oracle.read_rows(dst, columns=f"DISTINCT epoch_us(ts) // {oracle.DAY_US} * {oracle.DAY_US} AS d")["d"]
        )
        self.landed.append(dst)
        self.touched.update(days)
        rec = self.timed("merge", i, merge, lambda _: self._check_days(days) + self._check_archive(i, dst))
        if rec.traced and rec.ok:
            new = sorted(set(os.listdir(self.store.ledger_dir)) - ledger_before)
            rewritten = sum(
                int(pq.read_table(os.path.join(self.store.ledger_dir, f)).column("output_rows")[0].as_py())
                for f in new
            )
            rec.layer = {
                "units": float(len(new)),
                "rewrite_ratio": rewritten / oracle.partial_keys_changed(dst),
            }
        return rec

    def _maintain(self, i: int) -> OpRecord:
        def run():
            with self.tracer.span("tiers.compact", i):
                for tier in ("1m", "1h", "1d"):
                    self.store.compact_day(tier, self.newest)
            with self.tracer.span("tiers.retention", i):
                self.store.apply_retention(self.RETENTION, now=self.newest)

        return self.timed("maintain", i, run, lambda _: self._check_days(sorted(self.touched)) + self._check_retention())

    def _aged_out(self, tier: str, day: dt.date) -> bool:
        keep = self.RETENTION.get(tier)
        return keep is not None and day < self.newest - dt.timedelta(days=keep)

    def _check_retention(self) -> list[str]:
        """After retention every tier holds exactly the days it keeps."""
        errors = []
        for tier in ("1m", "1h", "1d"):
            dirs = glob.glob(os.path.join(self.store_root, "partials", f"tier={tier}", "day=*"))
            got = {dt.date.fromisoformat(os.path.basename(d).split("=", 1)[1]) for d in dirs}
            want = {d for d in self.all_days if not self._aged_out(tier, d)}
            if got != want:
                errors.append(
                    f"after retention tier {tier} holds days {sorted(got - want)} it should not"
                    f" and lacks {sorted(want - got)}"
                )
        return errors

    def _check_days(self, days: list[dt.date]) -> list[str]:
        want = oracle.day_stats_expected(self._raw_files(), [_day_us(d) for d in days], VALUE_COLS)
        cols = ", ".join(["conv_id", "bucket_start"] + [f"{c}__{s}" for c in VALUE_COLS for s in ("n", "sum", "min", "max")])
        got = oracle.read_rows(
            os.path.join(self.store_root, "partials", "tier=1d", "day=*", "*.parquet"),
            where=f"bucket_start IN ({', '.join(str(_day_us(d)) for d in days)})",
            columns=cols,
        )
        return oracle.mismatches(got, want, ["conv_id", "bucket_start"], exact=tuple(f"{c}__n" for c in VALUE_COLS))

    def _check_archive(self, i: int, batch_file: str) -> list[str]:
        got = oracle.read_rows(os.path.join(self.archive, f"batch-{i:04d}", "*.parquet"), columns="sum(n_points) AS p")
        want = pq.read_metadata(batch_file).num_rows
        p = int(got.iloc[0]["p"])
        return [] if p == want else [f"archive holds {p} points for batch {i}, want {want}"]

    def finish(self) -> list[str]:
        """The merged store must equal a from-scratch bulk build over
        every raw file landed, on every day a merge touched."""
        if not self.landed:
            return []
        fresh_root = os.path.join(self.work, "fresh")
        fresh = self._store(fresh_root)
        days = sorted(self.touched)
        self._bulk_build(fresh, self._raw_files(), days=days)
        errors = []
        for tier in ("1m", "1h", "1d"):
            for d in days:
                path = os.path.join("partials", f"tier={tier}", f"day={d.isoformat()}", "*.parquet")
                if not glob.glob(os.path.join(self.store_root, path)):
                    if not self._aged_out(tier, d):
                        errors.append(f"merged store lacks {tier}/{d}")
                    continue
                got = oracle.read_rows(os.path.join(self.store_root, path))
                want = oracle.read_rows(os.path.join(fresh_root, path))
                errs = oracle.mismatches(got, want, ["conv_id", "bucket_start"])
                errors += [f"merged {tier}/{d} vs bulk build: {e}" for e in errs]
        shutil.rmtree(fresh_root, ignore_errors=True)
        turns = sum(pq.read_metadata(f).num_rows for f in self._raw_files())
        stored = _dir_bytes(os.path.join(self.store_root, "partials")) + _dir_bytes(self.archive)
        self.info["store_bytes_per_turn"] = stored / turns
        # the days merges rewrote, where small files would pile up
        day_dirs = [
            d
            for day in days
            for d in glob.glob(os.path.join(self.store_root, "partials", "tier=*", f"day={day.isoformat()}"))
        ]
        self.info["files_per_day"] = float(
            np.mean([len(glob.glob(os.path.join(d, "*.parquet"))) for d in day_dirs])
        )
        self.info.update(self._archive_stats(os.path.join(self.archive, "*", "*.parquet")))
        return errors

    def layer_metrics(self, records: list[OpRecord]) -> dict[str, float]:
        merges = _traced(records, "merge")
        out: dict[str, float] = {}
        led = oracle.read_rows(os.path.join(self.store.ledger_dir, "*.parquet"), where="source LIKE '%:bulk'")
        for tier in ("1m", "1h", "1d"):
            out[f"tiers.materialize_s.{tier}"] = float(led.loc[led.tier == tier, "wall_s"].sum())
        build = self.tracer.by_name("tiers.materialize")
        if build:
            out["tiers.executor_cpu_s"] = _sum_stages(self.tracer, build[0], "cpu_s")
            out["tiers.shuffle_write_bytes"] = _sum_stages(self.tracer, build[0], "shuffle_write_bytes")
        out["tiers.files_per_day"] = self.info.get("files_per_day", 0.0)
        out["gorilla.bytes_per_point"] = self.info.get("bytes_per_point", 0.0)
        out["gorilla.multiblock_chunk_share"] = self.info.get("multiblock_share", 0.0)
        if merges:
            def child(r: OpRecord, name: str) -> float:
                return sum(c.wall for c in self.tracer.children(r.span) if c.name == name)

            out.update(
                {
                    "incremental.ingest_s": _median([child(r, "incremental.ingest") for r in merges]),
                    "incremental.units_published": _median([r.layer["units"] for r in merges]),
                    "incremental.spark_jobs": _median(
                        [float(sum(s.jobs for s in self.tracer.subtree(r.span))) for r in merges]
                    ),
                    "incremental.driver_gap_s": _median([r.layer["driver_gap_s"] for r in merges]),
                    "incremental.rewrite_ratio": _median([r.layer["rewrite_ratio"] for r in merges]),
                    "gorilla.encode_s": _median([child(r, "gorilla.encode") for r in merges]),
                }
            )
        maint = _traced(records, "maintain")
        if maint:
            out["tiers.compact_s"] = _median([sum(c.wall for c in self.tracer.children(r.span) if c.name == "tiers.compact") for r in maint])
            out["tiers.retention_s"] = _median([sum(c.wall for c in self.tracer.children(r.span) if c.name == "tiers.retention") for r in maint])
        return out


class TierQuery(_TierBase):
    """The read path: gap-filled point reads, aligned 24 x 1h windows and
    Gorilla chunk decodes over three parameter sets, against a bulk-built
    store and an archive of the whole corpus. (A merge rewrites each day it touches
    into one file per tier at this corpus size, so merges in set-up would
    add no fragmentation; ``tier_ingest`` measures them.)"""

    name = "tier_query"
    primary = ("points_query", "window_query", "chunk_query")
    N_PARAMS = 3
    N_CONVS = 40
    WINDOW_BUCKETS = 24
    #: the warm-up round takes operation id 0, so measured steps start at 1
    warmup_steps = 1

    def prepare(self) -> None:
        self.store_root = os.path.join(self.work, "store")
        self.archive = os.path.join(self.work, "archive")
        self.store = self._store(self.store_root)
        self.raw_files = sorted(glob.glob(os.path.join(self.inputs, "base", "*.parquet")))
        self._bulk_build(self.store, self.raw_files)
        self._encode(self.raw_files, self.archive)
        self.info.update(self._archive_stats(os.path.join(self.archive, "*.parquet")))

        # each parameter set reads one base day and 40 conversations active
        # on it, two of them long, so chunks with more than 130 points decode
        rng = np.random.default_rng([self.seed, 4])
        start = gen.TRANSCRIPT_START.date()
        self.params = []
        for k in range(self.N_PARAMS):
            lo = _day_us(start + dt.timedelta(days=k))
            hi = lo + oracle.DAY_US
            active = sorted(oracle.read_rows(
                os.path.join(self.inputs, "base", "*.parquet"),
                where=f"epoch_us(ts) >= {lo} AND epoch_us(ts) < {hi}",
                columns="DISTINCT conv_id",
            )["conv_id"])
            heavy = [c for c in active if gen.is_heavy(int(c.split("-")[1]))]
            light = [c for c in active if c not in heavy]
            n_heavy = min(2, len(heavy))
            pick = list(rng.choice(heavy, n_heavy, replace=False)) + list(
                rng.choice(light, self.N_CONVS - n_heavy, replace=False)
            )
            self.params.append({"convs": sorted(pick), "lo": lo, "hi": hi})
        self.expected: dict[tuple[str, int], object] = {}

    def _want(self, kind: str, k: int, compute):
        if (kind, k) not in self.expected:
            self.expected[(kind, k)] = compute()
        return self.expected[(kind, k)]

    def step(self, i: int) -> list[OpRecord]:
        """One analyst session: the three queries over each parameter set
        in turn. A step outlasts the measured window, so every run times
        the same sequence of queries however fast the host is."""
        return [r for k in range(self.N_PARAMS) for r in self._round(i * self.N_PARAMS + k, k)]

    def latency_groups(self, primary: list[OpRecord]) -> list[list[OpRecord]]:
        """One sample per round: the three queries over one parameter set."""
        rounds: dict[int, list[OpRecord]] = {}
        for r in primary:
            rounds.setdefault(r.op_id, []).append(r)
        return list(rounds.values())

    def warmup(self) -> list[OpRecord]:
        """The first round of the three queries pays for compiling their
        paths and runs about twice as long as later rounds."""
        return self._round(0, 0)

    def _round(self, op: int, k: int) -> list[OpRecord]:
        from pyspark.sql import functions as F
        from timeseriesflattener_spark.functions.gorilla import decode_chunks
        from timeseriesflattener_spark.plans.fastpath import flatten_aligned
        from timeseriesflattener_spark.plans.gapfill import fill_gaps

        p = self.params[k]
        in_convs = F.col("conv_id").isin(p["convs"])
        bucket = F.col("bucket_start")
        hour = oracle.HOUR_US

        def points():
            pts = self.store.read_points("1m").filter(in_convs & (bucket >= p["lo"]) & (bucket < p["hi"]))
            cols = ["text_len_mean", "n_tokens_sum"]
            return fill_gaps(pts.select("conv_id", "bucket_start", *cols), cols, "1m", method="linear").toPandas()

        def window():
            part = self.store.read_tier("1h").filter(
                in_convs & (bucket >= p["lo"] - (self.WINDOW_BUCKETS - 1) * hour) & (bucket < p["hi"])
            )
            out = flatten_aligned(part, VALUE_COLS, self.WINDOW_BUCKETS, "1h").filter(bucket >= p["lo"])
            return out.toPandas()

        # the chunk range is not hour-aligned, so the chunks at its ends
        # decode points that the trim drops
        c_lo, c_hi = p["lo"] + hour // 2, p["hi"] - hour // 2

        def chunks():
            lo = dt.datetime.fromtimestamp(c_lo / 1e6, dt.timezone.utc)
            hi = dt.datetime.fromtimestamp(c_hi / 1e6, dt.timezone.utc)
            src = self.spark.read.parquet(self.archive).filter(in_convs)
            return decode_chunks(src, "text_len", time_range=(lo, hi), tier="1h").toPandas()

        def check_points(got) -> list[str]:
            want = self._want("points", k, lambda: oracle.gapfill_expected(self.raw_files, p["convs"], p["lo"], p["hi"]))
            got = got.assign(bucket_start=got.bucket_start.astype("int64"))
            return oracle.mismatches(got, want, ["conv_id", "bucket_start"], exact=("is_gap",))

        def check_window(got) -> list[str]:
            want = self._want(
                "window", k,
                lambda: oracle.window_expected(self.raw_files, p["convs"], p["lo"], p["hi"], self.WINDOW_BUCKETS),
            )
            got = got[list(want.columns)].assign(bucket_start=got.bucket_start.astype("int64"))
            return oracle.mismatches(got, want, ["conv_id", "bucket_start"], exact=("text_len_count",))

        def check_chunks(got) -> list[str]:
            want = self._want("chunks", k, lambda: oracle.points_expected(self.raw_files, p["convs"], c_lo, c_hi))
            got = got.assign(ts_us=oracle.to_micros(got["ts"]))[["conv_id", "ts_us", "text_len"]]
            return oracle.mismatches(got, want, ["conv_id", "ts_us"], exact=("text_len",))

        recs = [
            self.timed("points_query", op, points, check_points),
            self.timed("window_query", op, window, check_window),
            self.timed("chunk_query", op, chunks, check_chunks),
        ]
        if recs[0].traced and recs[0].ok:
            res = recs[0].result
            recs[0].layer["gap_rows_ratio"] = float(res["is_gap"].mean()) if len(res) else 0.0
            files = 0.0
            for e in recs[0].executions:
                for _n, _d, mets in self.status.node_metrics(e.execution_id, r"^Scan"):
                    files += mets.get("number of files read", 0.0)
            recs[0].layer["read_files"] = files
        if recs[1].traced and recs[1].ok:
            exploded = 0.0
            for e in recs[1].executions:
                for _n, _d, mets in self.status.node_metrics(e.execution_id, r"^Generate"):
                    exploded += mets.get("number of output rows", 0.0)
            n_out = len(self.expected[("window", k)])
            recs[1].layer["exploded_per_output"] = exploded / max(n_out, 1)
        if recs[2].traced and recs[2].ok:
            p_conv = ", ".join(f"'{c}'" for c in p["convs"])
            decoded = oracle.read_rows(
                os.path.join(self.archive, "*.parquet"),
                where=f"conv_id IN ({p_conv}) AND chunk_start < {c_hi} AND chunk_start > {c_lo - hour}",
                columns="sum(n_points) AS n",
            )
            n_ret = len(self.expected[("chunks", k)])
            recs[2].layer["points_returned_ratio"] = n_ret / max(float(decoded.iloc[0]["n"]), 1.0)
        for r in recs:
            r.result = None
        return recs

    def layer_metrics(self, records: list[OpRecord]) -> dict[str, float]:
        out: dict[str, float] = {
            "gorilla.bytes_per_point": self.info.get("bytes_per_point", 0.0),
            "gorilla.multiblock_chunk_share": self.info.get("multiblock_share", 0.0),
        }
        pq_, wq, cq = (_traced(records, k) for k in self.primary)
        if pq_:
            out["tiers.read_files"] = _median([r.layer["read_files"] for r in pq_])
            out["gapfill.executor_cpu_s"] = _median([_sum_stages(self.tracer, r.span, "cpu_s") for r in pq_])
            out["gapfill.gap_rows_ratio"] = _median([r.layer["gap_rows_ratio"] for r in pq_])
            out["points_query.driver_gap_s"] = _median([r.layer["driver_gap_s"] for r in pq_])
        if wq:
            out["fastpath.executor_cpu_s"] = _median([_sum_stages(self.tracer, r.span, "cpu_s") for r in wq])
            out["fastpath.exploded_rows_per_output"] = _median([r.layer["exploded_per_output"] for r in wq])
            out["window_query.driver_gap_s"] = _median([r.layer["driver_gap_s"] for r in wq])
        if cq:
            out["gorilla.decode_s"] = _median([r.span.wall for r in cq])
            out["gorilla.python_worker_run_s"] = _median(
                [_sum_stages(self.tracer, r.span, "run_s", only_ops="MapInPandas") for r in cq]
            )
            out["gorilla.points_returned_ratio"] = _median([r.layer["points_returned_ratio"] for r in cq])
            out["chunk_query.driver_gap_s"] = _median([r.layer["driver_gap_s"] for r in cq])
        return out


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (FlattenFeatures, TierIngest, TierQuery)}
