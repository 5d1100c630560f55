"""Read Spark's own per-plan-node SQL metrics and task counters.

Everything here reads the driver's status stores (the SQL status store
behind ``spark._jsparkSession.sharedState().statusStore()`` and the
app status store); nothing launches a Spark job. Both stores are fed
asynchronously by the listener bus, so every read first drains it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

#: base units: seconds, bytes, plain counts
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}

#: plan nodes whose metrics the benchmark aggregates
PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas")
JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
_KEPT = PYTHON_NODES + JOIN_NODES + (
    "Scan", "Exchange", "BroadcastExchange", WRITE_NODE)


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric in base units.

    Accumulated metrics render as ``"total (min, med, max (...))\\n3.9 s
    (905 ms, ...)"``; single ones as ``"42 ms"``, ``"600.4 KiB"`` or
    ``"37,373"``.
    """
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


@dataclass
class Execution:
    """One finished SQL execution: wall interval (epoch seconds), its job
    ids, and the plan nodes the benchmark reads, as ``(name,
    description, {metric name: value})``."""

    id: int
    start: float
    end: float
    jobs: list[int]
    nodes: list[tuple[str, str, dict[str, float]]] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def total(self, node_names: tuple[str, ...], metric: str,
              desc_has: str = "") -> float:
        return sum(
            m.get(metric, 0.0) for name, desc, m in self.nodes
            if name.startswith(node_names) and desc_has in desc
        )

    def write_path(self) -> str:
        """Output directory of a parquet write ("" for other actions)."""
        for name, desc, _ in self.nodes:
            if name == WRITE_NODE:
                return desc[len(WRITE_NODE):].strip().split(",")[0]
        return ""


def job_ids(spark) -> list[int]:
    """Every job the status tracker knows, once the listener bus has
    delivered all events (the package sets no job groups, so jobs
    outside any group are all of them)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(None))


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class SqlMetrics:
    """Reader over the session's status stores."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def last_execution_id(self) -> int:
        self._drain()
        ids = [e.executionId() for e in _scala_list(self._sql.executionsList())]
        return max(ids, default=-1)

    def _finished_since(self, after: int, timeout_s: float):
        """Executions with id > ``after`` once all of them have finished.
        The status store records an execution's end a little after the
        action returns, so this polls until every one has."""
        deadline = time.monotonic() + timeout_s
        while True:
            self._drain()
            execs = [e for e in _scala_list(self._sql.executionsList())
                     if e.executionId() > after]
            if all(e.completionTime().isDefined() for e in execs):
                return execs
            if time.monotonic() > deadline:
                raise TimeoutError(f"SQL executions after {after} never finished")
            time.sleep(0.01)

    def executions_since(self, after: int, timeout_s: float = 30.0) -> list[Execution]:
        """Executions with id > ``after``, oldest first, once finished."""
        out = []
        for e in self._finished_since(after, timeout_s):
            eid = e.executionId()
            out.append(Execution(
                id=eid,
                start=e.submissionTime() / 1000.0,
                end=e.completionTime().get().getTime() / 1000.0,
                jobs=sorted(int(j) for j in _scala_list(e.jobs().keys().toList())),
                nodes=self._nodes(eid),
            ))
        return sorted(out, key=lambda x: x.id)

    def _nodes(self, eid: int) -> list[tuple[str, str, dict[str, float]]]:
        values = self._sql.executionMetrics(eid)
        nodes = []
        for node in _scala_list(self._sql.planGraph(eid).allNodes()):
            name = node.name()
            if not name.startswith(_KEPT):
                continue
            metrics = {}
            for m in _scala_list(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append((name, node.desc(), metrics))
        return nodes

    # ── tasks and task time ──────────────────────────────────────────

    def task_totals(self, jobs: list[int]) -> tuple[int, float]:
        """(tasks completed, executor run time in seconds) over the
        stages of ``jobs``."""
        self._drain()
        tracker = self._sc.statusTracker()
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        jvm, gateway = self._sc._jvm, self._sc._gateway
        no_status, no_quantiles = jvm.java.util.ArrayList(), gateway.new_array(jvm.double, 0)
        tasks, run_ms = 0, 0
        for s in stages:
            data = self._app.stageData(s, False, no_status, False, no_quantiles)
            for attempt in _scala_list(data):
                tasks += attempt.numCompleteTasks()
                run_ms += attempt.executorRunTime()
        return tasks, run_ms / 1000.0

    def cached_bytes(self) -> int:
        """Memory plus disk held by cached and checkpointed blocks."""
        self._drain()
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)
