#!/usr/bin/env python3
"""Benchmark runner for timeseriesflattener_spark.

    python3 perfbench/run.py --workload flatten_features --seed 1 --seconds 3 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, sets it up, warms it up, then runs its operations back to back for
``--seconds`` seconds and checks every output. ``--trace 1`` runs the
same steps with spans on and reports the per-layer metrics instead of
the end-to-end ones. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
Everything the run writes stays under ``.perfbench_run/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import stats  # noqa: E402

#: input generation is repeated this many times per run; setup_s takes the median
GEN_REPEATS = 3
#: a stage attributed to a span may start or end this far outside it
#: (stage times have millisecond resolution)
SPAN_SLACK_S = 0.005


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail(f"no BENCHMARK.json in {ROOT}")
    with open(path) as fh:
        spec = json.load(fh)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not stats.valid_name(m["name"]):
            fail(f"bad metric name {m['name']!r}")
    return spec


def parse_args(workloads: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    return args


def start_spark(work: str, cores: int):
    """One SparkSession at local[<cores>], every scratch path inside
    ``work``, the UI off, and status-store limits raised so that no job,
    stage or SQL execution of a run is evicted before it is read."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])

    from timeseriesflattener_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "2g",
            # fixed JIT compiler threads, so that host.ProcessTreeCpu can
            # leave out their time exactly
            "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session, if one was started, and wait for the JVM and
    the Python workers it forked to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from benchlib.host import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    session = SparkSession.getActiveSession()
    try:
        if session is not None:
            session.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin (a pipe from this process) closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the workers are not our children, so they cannot be reaped here:
        # poll until they are gone, which they are once the JVM's pipes close
        deadline = time.monotonic() + 20
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def attribute(status, spans) -> None:
    """Read the stages Spark ran under each span's job group."""
    from dataclasses import asdict

    for sp in spans:
        sp.jobs, stages = status.stages_for_group(sp.group)
        sp.stages = [asdict(s) for s in stages]


def account(tracer, rec) -> None:
    """Span accounting for one traced operation: every stage of its
    subtree must lie inside the span. The driver gap is the span's wall
    time minus the time during which any of those stages was active."""
    sp = rec.span
    stages = {s["stage_id"]: s for t in tracer.subtree(sp) for s in t.stages}
    intervals = [(s["start"], s["end"]) for s in stages.values()]
    outside = [
        s["stage_id"] for s in stages.values()
        if s["start"] < sp.start - SPAN_SLACK_S or s["end"] > sp.end + SPAN_SLACK_S
    ]
    if outside:
        rec.errors.append(f"span accounting: stages {outside[:5]} lie outside span {sp.name}#{sp.op_id}")
    active = stats.interval_union(intervals, sp.start, sp.end)
    rec.layer["driver_gap_s"] = sp.wall - active
    rec.layer["stage_active_s"] = active


def run_window(wl, tracer, status, first_step: int, seconds: float) -> tuple[list, list[tuple[float, float, float]]]:
    """Closed loop: steps back to back until ``seconds`` have passed.
    Returns (records, (latency, CPU seconds, tracing seconds) of each
    group of primary operations the workload times as one)."""
    from py4j.protocol import Py4JJavaError

    records, steps = [], []
    i, t_end = first_step, time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        overhead0 = tracer.overhead_s
        recs = wl.step(i)
        overhead = tracer.overhead_s - overhead0
        i += 1
        if tracer.enabled:
            for r in recs:
                if r.span is None:
                    continue
                try:
                    attribute(status, tracer.subtree(r.span))
                except Py4JJavaError as exc:  # a job or stage was evicted before it was read
                    r.errors.append(f"trace attribution: {str(exc)[:300]}")
                    continue
                account(tracer, r)
        records += recs
        prim = [r for r in recs if r.kind in wl.primary]
        if prim and all(r.ok for r in prim):
            groups = wl.latency_groups(prim)
            for g in groups:
                steps.append((sum(r.seconds for r in g), sum(r.cpu_s for r in g), overhead / len(groups)))
    return records, steps


def summarize(records, kinds) -> dict[str, float | str]:
    """Median and tail of each operation kind: ``<kind>_s_p50`` and
    ``<kind>_s_tail``."""
    out: dict[str, float | str] = {}
    for kind in kinds:
        xs = [r.seconds for r in records if r.kind == kind and r.ok]
        if not xs:
            continue
        out[f"{kind}_s_p50"] = stats.median(xs)
        t = stats.tail(xs)
        out[f"{kind}_s_tail"] = (
            f"{t[0]:.4f} (p{t[1]:.1f}, n={t[2]})" if t else f"n/a (n={len(xs)}, needs more than 10)"
        )
    return out


def main() -> int:
    spec = load_spec()
    if not os.path.isfile(os.path.join(ROOT, "timeseriesflattener_spark", "__init__.py")):
        fail(f"the library timeseriesflattener_spark is not in {ROOT}")
    from benchlib.workloads import WORKLOADS

    args = parse_args(sorted(WORKLOADS))
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    # half the CPUs run tasks; the rest serve the JVM's compiler and GC
    # threads, the Python driver and the host's other tenants. On a shared
    # 4-CPU host this made merges and flattens faster and halved their
    # run-to-run spread, against local[4].
    cores = max(1, len(os.sched_getaffinity(0)) // 2)

    from benchlib import host
    from benchlib.spans import Tracer
    from benchlib.spark_status import SparkStatus

    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_start_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        import timeseriesflattener_spark as lib

        if not os.path.abspath(lib.__file__).startswith(ROOT + os.sep):
            fail(f"imported the library from {lib.__file__}, not from {ROOT}")
        status = SparkStatus(spark)
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace), run_tag=f"pb{args.seed}")
        cpu = host.ProcessTreeCpu(jvm_pid)
        wl = WORKLOADS[args.workload](spark, status, tracer, cpu, work, args.seed)

        gen_s = []
        for r in range(GEN_REPEATS):
            d = os.path.join(work, f"inputs-{r}")
            t = time.perf_counter()
            wl.generate(d)
            gen_s.append(time.perf_counter() - t)
        wl.inputs = os.path.join(work, "inputs-0")
        for r in range(1, GEN_REPEATS):
            shutil.rmtree(os.path.join(work, f"inputs-{r}"))
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        if args.trace:
            attribute(status, tracer.spans)
        setup_s = session_start_s + stats.median(gen_s) + prepare_s

        phases = {"session": session_start_s, "generate": sum(gen_s), "prepare": prepare_s}
        t = time.perf_counter()
        tracer.enabled = False
        warm = wl.warmup()
        phases["warmup"] = time.perf_counter() - t
        t = time.perf_counter()
        tracer.enabled = bool(args.trace)
        records, lat = run_window(wl, tracer, status, wl.warmup_steps, args.seconds)
        tracer.enabled = False
        phases["window"] = time.perf_counter() - t
        t = time.perf_counter()
        final_errors = wl.finish()
        phases["finish"] = time.perf_counter() - t
        t = time.perf_counter()
        marker = host.host_marker()
        phases["host_marker"] = time.perf_counter() - t
        peak_rss = host.peak_rss_mb(host.descendants(jvm_pid) + [jvm_pid])
        driver_peak_rss = host.peak_rss_mb([os.getpid()])
    finally:
        # on every path out, before anything below can exit the run
        stop_spark()

    all_recs = warm + records
    attempted = len(all_recs) + 1  # the final store / output check counts as one operation
    failed = sum(1 for r in all_recs if not r.ok) + (1 if final_errors else 0)
    for r in all_recs:
        for e in r.errors[:3]:
            print(f"FAILED {r.kind}#{r.op_id}: {e}", file=sys.stderr)
    for e in final_errors[:10]:
        print(f"FAILED final check: {e}", file=sys.stderr)
    if not lat:
        fail("no operation completed in the measured window", 3)

    e2e = {
        "setup_s": setup_s,
        "op_s_p50": stats.median([w for w, _, _ in lat]),
        "op_cpu_s_p50": stats.median([c for _, c, _ in lat]),
        "peak_rss_mb": peak_rss,
    }
    kinds = sorted({r.kind for r in records})
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": cores,
        "op_samples": len(lat),
        "ops_failed_ratio": failed / attempted,
        "session.start_s": session_start_s,
        "sources.gen_s": stats.median(gen_s),
        "prepare_s": prepare_s,
        "driver_peak_rss_mb": driver_peak_rss,
        **summarize(records, kinds),
        **{k: v for k, v in wl.info.items() if isinstance(v, (int, float))},
        "host": marker,
        "phases_s": phases,
        "samples": [[r.kind, r.op_id, r.seconds, r.cpu_s, r.ok] for r in all_recs],
    }
    if args.trace:
        layer = {
            "session.start_s": session_start_s,
            "sources.gen_s": stats.median(gen_s),
            "trace.overhead_s": stats.median([o for _, _, o in lat]),
            **wl.layer_metrics(records),
        }
        report["layer"] = layer
        tracer.dump(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.json"))

    with open(os.path.join(base, f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({**report, "end_to_end": e2e}, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in report.items():
        if k not in ("layer", "host", "phases_s", "samples"):
            print(f"{k}: {v}")
    for k, v in marker.items():
        print(f"host.{k}: {v}")
    for k, v in phases.items():
        print(f"phase.{k}: {v:.2f} s")
    for k, v in e2e.items():
        print(f"{k}: {v} {units.get(k, '')}")
    if args.trace:
        for k, v in report["layer"].items():
            print(f"{k}: {v} {units.get(k, '')}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = report.get("layer", {}) if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
