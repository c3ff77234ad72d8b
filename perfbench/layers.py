"""Per-layer readers that look at a running Spark application from outside.

Nothing here changes the program: every number is read back from Spark's
own bookkeeping after an operation finishes.

- Scheduler and executor counters come from the application status store
  (``SparkContext.statusStore``): the jobs an operation launched are the job
  ids that appeared while it ran (one client, so no other jobs interleave),
  and each job's stages are read with ``lastStageAttempt``.
- Planning time comes from the ``QueryExecution`` phase tracker of each
  finished query execution, handed over by a ``QueryExecutionListener``.
- Pinned bytes come from the RDD storage list (``getRDDStorageInfo``), where
  ``localCheckpoint`` blocks show up.
- Python worker traffic comes from the SQL status store's plan metrics.
- Streaming progress comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# SQL plan metrics that count bytes crossing the JVM/Python worker boundary.
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


@dataclass
class OpStats:
    """Counters summed over the Spark jobs of one or more operations."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    stage_busy_s: float = 0.0
    wall_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    skews: list[float] = field(default_factory=list)

    def add(self, other: OpStats) -> None:
        for k, v in vars(other).items():
            if k == "skews":
                self.skews.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in seconds."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def parse_size(text: str) -> int:
    """Total of a formatted SQL size metric (``"total (min, med, max ...)\\n1.2 KiB (...)"``
    or ``"1.2 KiB"``) in bytes."""
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([0-9.]+)\s*([KMGT]?i?B)", body)
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)]) if m else 0


class StatusReader:
    """Reads the status stores of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala.__getattr__("MODULE$"))
        self._quantiles = self._gw.new_array(self._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def last_execution_id(self) -> int:
        execs = self._sql.executionsList()
        return execs.last().executionId() if execs.nonEmpty() else -1

    def last_plan(self) -> str:
        """Physical plan text of the latest SQL execution."""
        return self._sql.executionsList().last().physicalPlanDescription()

    def jobs_stats(self, first: int, last: int) -> OpStats:
        """Counters of jobs ``first..last`` (inclusive) and their stages."""
        st = OpStats()
        intervals = []
        seen = set()
        for jid in range(first, last + 1):
            job = self._json(self._store.job(jid))
            st.jobs += 1
            for sid in job["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._json(self._store.lastStageAttempt(sid))
                if sd["status"] == "SKIPPED" or sd.get("submissionTime") is None:
                    continue
                st.stages += 1
                st.tasks += sd["numTasks"]
                st.failed_tasks += sd["numFailedTasks"]
                end = sd.get("completionTime") or sd["submissionTime"]
                intervals.append((sd["submissionTime"], end))
                st.run_s += sd["executorRunTime"] / 1e3
                st.cpu_s += sd["executorCpuTime"] / 1e9
                st.input_rows += sd["inputRecords"]
                st.input_bytes += sd["inputBytes"]
                st.shuffle_read_bytes += sd["shuffleReadBytes"]
                st.shuffle_write_bytes += sd["shuffleWriteBytes"]
                st.spill_bytes += sd["diskBytesSpilled"]
                if sd["shuffleReadBytes"] > 0 and sd["numTasks"] > 1:
                    summ = self._store.taskSummary(sid, sd["attemptId"], self._quantiles)
                    if summ.isDefined():
                        med, top = self._json(summ.get())["executorRunTime"]
                        if med > 0:
                            st.skews.append(top / med)
        st.stage_busy_s = _union_seconds(intervals)
        return st

    def python_bytes(self, first_exec: int, last_exec: int) -> int:
        """Bytes sent to and returned from Python workers by SQL executions
        ``first_exec..last_exec``, from their plan metrics."""
        total = 0
        for eid in range(first_exec, last_exec + 1):
            ex = self._sql.execution(eid)
            if not ex.isDefined():
                continue
            ids = [
                m["accumulatorId"] for m in self._json(ex.get().metrics()) if m["name"] in _PY_METRICS
            ]
            if not ids:
                continue
            values = self._sql.executionMetrics(eid)
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += parse_size(v.get())
        return total

    def gc_seconds(self) -> float:
        """Collection time of every garbage collector of the JVM so far. In
        local mode the driver JVM is also the executor."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def pinned_bytes(self) -> int:
        """Memory plus disk bytes of RDD blocks held in storage right now
        (``localCheckpoint`` and ``persist`` blocks)."""
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so listener counters cover exactly the work that has finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def listen(self, plans: PlanTimes, stream: StreamProgress) -> None:
        """Register the listeners, after delivering older events."""
        from pyspark.java_gateway import ensure_callback_server_started

        self.drain()
        ensure_callback_server_started(self._gw)
        self.spark._jsparkSession.listenerManager().register(plans)
        self.spark.streams.addListener(stream)

    def unlisten(self, plans: PlanTimes, stream: StreamProgress) -> None:
        """Deliver pending events, then unregister the listeners."""
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(plans)
        self.spark.streams.removeListener(stream)


class PlanTimes:
    """A ``QueryExecutionListener``: the analysis + optimisation + physical
    planning seconds of every query execution that finishes, from its
    ``QueryExecution`` phase tracker, in order."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self):
        self.seconds: list[float] = []

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        total = 0
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                total += p.get().durationMs()
        self.seconds.append(total / 1000.0)

    def onFailure(self, func_name, qe, exception):
        pass


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query while it is
    registered."""

    def __init__(self):
        self.batches = 0
        self.rows = 0
        self.batch_ms = 0
        self.state_rows = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches += 1
        self.rows += p.numInputRows
        self.batch_ms += p.durationMs.get("triggerExecution", 0)
        for op in p.stateOperators:
            self.state_rows = max(self.state_rows, op.numRowsTotal)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
