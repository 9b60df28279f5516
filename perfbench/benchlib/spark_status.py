"""Read Spark's own records of what ran, with the Spark UI off.

Three sources, all in the driver JVM and reachable over py4j:

- the application status store (jobs, stage metrics, the RDD operation
  graph of each stage, which names the SQL operators a stage runs);
- the SQL status store (one record per SQL execution: the final
  physical plan text, the plan graph and its metric values);
- a DataFrame's ``QueryExecution.tracker`` (Catalyst phase times).

The listener bus fills both stores asynchronously, so every reader
calls ``drain`` first.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL metric value as Spark renders it -> seconds, bytes or a
    count. Aggregated values read ``total (min, med, max ...)\\n<total>
    (<min>, ...)``; the total is taken."""
    line = text.strip().split("\n")[-1]
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparsable metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS[unit] if unit else value


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


@dataclass
class StageRecord:
    stage_id: int
    start: float
    end: float
    run_s: float
    cpu_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    operators: list[str] = field(default_factory=list)


@dataclass
class Execution:
    execution_id: int
    plan: str  # physical plan in Spark's "formatted" explain mode


class SparkStatus:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    # ---------------------------------------------------------- SQL store

    def execution_count(self) -> int:
        self.drain()
        return int(self._sql.executionsCount())

    def executions_since(self, first: int) -> list[Execution]:
        """Executions recorded after ``execution_count()`` returned
        ``first`` — with one driver thread, exactly those one operation
        started."""
        self.drain()
        n = int(self._sql.executionsCount())
        out = []
        for e in _seq(self._sql.executionsList(first, n - first)):
            out.append(Execution(int(e.executionId()), str(e.physicalPlanDescription())))
        return out

    def node_metrics(self, execution_id: int, node_pattern: str) -> list[tuple[str, str, dict]]:
        """(name, description, {metric name: value}) of every plan-graph
        node whose name matches ``node_pattern``."""
        self.drain()
        graph = self._sql.planGraph(execution_id)
        values = self._sql.executionMetrics(execution_id)
        out = []
        for node in _seq(graph.allNodes()):
            name = str(node.name())
            if not re.search(node_pattern, name):
                continue
            mets = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    mets[str(m.name())] = parse_metric(str(v.get()))
            out.append((name, str(node.desc()), mets))
        return out

    # ------------------------------------------------------- status store

    def stages_for_group(self, group: str) -> tuple[int, list[StageRecord]]:
        """(number of jobs, executed stages) run under a job group.
        Raises ``Py4JJavaError`` when a job or stage of the group was
        evicted before it was read; the runner then fails the operation."""
        self.drain()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        seen: set[int] = set()
        stages = []
        for jid in job_ids:
            job = self._store.job(jid)
            ids = str(job.stageIds().mkString(","))
            for sid in (int(x) for x in ids.split(",") if x):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                sub, comp = st.submissionTime(), st.completionTime()
                if not sub.isDefined():
                    continue  # skipped: its shuffle output was reused
                graph = self._store.operationGraphForStage(sid)
                ops = [str(c.name()) for c in _seq(graph.rootCluster().childClusters())]
                stages.append(
                    StageRecord(
                        stage_id=sid,
                        start=sub.get().getTime() / 1000.0,
                        end=(comp.get().getTime() if comp.isDefined() else sub.get().getTime()) / 1000.0,
                        run_s=st.executorRunTime() / 1000.0,
                        cpu_s=st.executorCpuTime() / 1e9,
                        shuffle_write_bytes=int(st.shuffleWriteBytes()),
                        spill_bytes=int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
                        operators=ops,
                    )
                )
        return len(job_ids), stages


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` (analysis already ran when it was built) and return
    the Catalyst phase times in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out
