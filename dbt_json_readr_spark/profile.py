"""Where a call spends its time, read back from Spark's own status stores.

``run(spark, fn, group)`` calls ``fn`` with its Spark jobs in the job
group ``group`` and returns one ``Profile`` of the call:

- **Process and driver:** wall time, the CPU time of this Python
  process, and the CPU time of the JVM process, whose threads are the
  local-mode executors (``/proc/<pid>/stat``).
- **Jobs and stages:** the ids of the group's jobs and, per stage
  attempt, its executor CPU and run time, task count, shuffle bytes
  read and written and bytes spilled, from the status store's
  ``stageData``.
- **SQL executions:** every execution the call started, with its
  description ("collect at …", "localCheckpoint at …"), its jobs and
  the nodes of its final plan graph (after AQE).  Each node carries
  its SQL metrics (rows out, durations, data and spill sizes, shuffle
  bytes, broadcast times), which ``parse_metric`` turns from their
  rendered strings into numbers.
- **Streaming:** a listener records each micro-batch the call ran: its
  input rows and, per state operator, the rows it holds and updated
  and its memory bytes.  The listener is removed on return.

Only the job group is set, never a job description: a description
would replace the executions' call-site descriptions.  The readers are
the session's status tracker, the SparkContext's status store and the
SQL status store, reached through py4j; an accessor that is missing
raises.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import asdict, dataclass, replace
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# seconds or bytes per rendered unit (Spark's msDurationToString and
# bytesToString)
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50, "EiB": 2**60,
}
_VALUE = re.compile(r"(\d[\d,]*(?:\.\d+)?)(?: ([A-Za-z]+))?")


def parse_metric(text: str) -> float:
    """A rendered SQL metric as a number: sizes in bytes, times in
    seconds, counts as they are ("1,000" is 1000).  A metric updated by
    several tasks renders on two lines; of "total (min, med, max …)"
    the total is kept, and of an average's "(min, med, max …):" the
    median."""
    head, _, last = text.rpartition("\n")
    values = _VALUE.findall(last)
    number, unit = values[1] if head and not head.startswith("total") else values[0]
    return float(number.replace(",", "")) * (_UNITS[unit] if unit else 1)


@dataclass
class Stage:
    id: int
    attempt: int
    name: str
    status: str
    tasks: int
    cpu_s: float
    run_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Operator:
    """A node of an execution's plan graph; ``desc`` is the node's own
    line of the plan, with its output, filters and scan locations."""

    name: str
    desc: str
    metrics: dict


@dataclass
class Execution:
    id: int
    description: str
    job_ids: tuple
    nodes: list


@dataclass
class Batch:
    """One micro-batch: ``state`` has a row per state operator."""

    query: str
    batch: int
    input_rows: int
    state: list


@dataclass
class Profile:
    group: str
    result: Any
    wall_s: float
    driver_cpu_s: float
    jvm_cpu_s: float
    jobs: tuple
    stages: list
    executions: list
    batches: list

    def to_json(self) -> dict:
        """The record without ``result``, as plain JSON values."""
        out = asdict(replace(self, result=None))
        del out["result"]
        return out


class _BatchListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.batches: list[Batch] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = [
            {
                "operator": so.operatorName,
                "rows": so.numRowsTotal,
                "rows_updated": so.numRowsUpdated,
                "memory_bytes": so.memoryUsedBytes,
            }
            for so in p.stateOperators
        ]
        self.batches.append(Batch(p.name, p.batchId, p.numInputRows, state))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _jvm_cpu_s(spark: SparkSession) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # type: ignore[union-attr]
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _newest_execution(store) -> int:
    execs = store.executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def _executions_since(store, mark: int) -> list[Execution]:
    execs = store.executionsList()
    out = []
    for i in reversed(range(execs.size())):
        e = execs.apply(i)
        eid = e.executionId()
        if eid <= mark:
            break
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid).allNodes()
        nodes = []
        for j in range(graph.size()):
            node = graph.apply(j)
            metrics, specs = {}, node.metrics()
            for k in range(specs.size()):
                value = values.get(specs.apply(k).accumulatorId())
                if value.isDefined():
                    metrics[specs.apply(k).name()] = parse_metric(value.get())
            nodes.append(Operator(node.name(), node.desc(), metrics))
        jobs = e.jobs().keySet().toSeq()
        job_ids = tuple(sorted(jobs.apply(j) for j in range(jobs.size())))
        out.append(Execution(eid, e.description(), job_ids, nodes))
    return out[::-1]


def _stages(spark: SparkSession, jobs: tuple) -> list[Stage]:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ids = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
    store = sc._jsc.sc().statusStore()  # type: ignore[union-attr]
    # the one stageData overload that resolves through py4j
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)  # type: ignore[union-attr]
    out = []
    for sid in ids:
        attempts = store.stageData(sid, False, None, False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            out.append(
                Stage(
                    sid,
                    sd.attemptId(),
                    sd.name(),
                    sd.status().toString(),
                    sd.numTasks(),
                    sd.executorCpuTime() / 1e9,
                    sd.executorRunTime() / 1e3,
                    sd.shuffleReadBytes(),
                    sd.shuffleWriteBytes(),
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                )
            )
    return out


def run(spark: SparkSession, fn: Callable[[], Any], group: str) -> Profile:
    """Call ``fn`` with its jobs in job group ``group`` and profile the
    call (module docstring).  Jobs an earlier call ran in the same
    group are not this call's."""
    sc = spark.sparkContext
    sql_store = spark._jsparkSession.sharedState().statusStore()  # type: ignore[attr-defined]
    listener = _BatchListener()
    earlier = set(sc.statusTracker().getJobIdsForGroup(group))
    mark = _newest_execution(sql_store)
    jvm0, cpu0, t0 = _jvm_cpu_s(spark), time.process_time(), time.perf_counter()
    spark.streams.addListener(listener)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)  # type: ignore[arg-type]
        wall, cpu, jvm = time.perf_counter() - t0, time.process_time() - cpu0, _jvm_cpu_s(spark) - jvm0
        # the stores and the listener fill from the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # type: ignore[union-attr]
        spark.streams.removeListener(listener)
    jobs = tuple(sorted(set(sc.statusTracker().getJobIdsForGroup(group)) - earlier))
    return Profile(
        group,
        result,
        wall,
        cpu,
        jvm,
        jobs,
        _stages(spark, jobs),
        _executions_since(sql_store, mark),
        listener.batches,
    )
