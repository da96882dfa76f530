"""Per-operation tracing from outside the package.

Each operation runs under its own Spark job group, one for its build phase
and one for its execute phase. Afterwards the tracer reads Spark's status
stores through py4j: the core store for jobs and each job's last stage
attempt, the SQL store for the SQL metrics of every query execution the
operation started, eager ones inside a query's construction included.
None of this needs the Spark UI. Spans stay in memory and are written as
JSON lines when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter

from py4j.protocol import Py4JJavaError


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# one py4j call reads all of an execution's metric declarations, as the
# Scala string of its SQLPlanMetric(name,accumulatorId,metricType) list
_PYTHON_METRIC = re.compile(r"SQLPlanMetric\(data (?:sent to|returned from) Python workers,(\d+),")
_BYTE_UNITS = {u: 1024 ** i for i, u in enumerate(["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"])}


def _size_bytes(text: str) -> float:
    """Bytes of a SQL size metric as the SQL store formats it, for
    example 'total (min, med, max (stageId: taskId))\n391.5 KiB (...)'."""
    num, unit = text.split("\n")[-1].split()[:2]
    return float(num) * _BYTE_UNITS[unit]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Reads of Spark's in-process status store (`AppStatusStore`)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def group(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)

    def jobs(self, group: str) -> list[dict]:
        """Finished jobs of `group`, each with its stages' task metrics."""
        self._bus.waitUntilEmpty(60_000)  # job-end events are delivered async
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self._store.job(jid)
            seq = jd.stageIds()
            stages = [self._stage(seq.apply(i)) for i in range(seq.size())]
            out.append({
                "id": jid,
                "name": jd.name(),
                "start": _opt_ms(jd.submissionTime()),
                "end": _opt_ms(jd.completionTime()),
                "tasks": jd.numTasks(),
                "failed_tasks": jd.numFailedTasks(),
                "stages": [s for s in stages if s is not None],
            })
        return out

    def input_bytes(self, group: str) -> int:
        """Bytes the finished jobs of `group` read from files or cached
        blocks; one py4j call per stage instead of the full `jobs` read."""
        self._bus.waitUntilEmpty(60_000)
        total = 0
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            seq = self._store.job(jid).stageIds()
            for i in range(seq.size()):
                try:
                    total += self._store.lastStageAttempt(seq.apply(i)).inputBytes()
                except Py4JJavaError:
                    continue  # evicted from the store
        return total

    def sql_executions(self) -> int:
        return self._sql.executionsCount()

    def python_bytes(self, first: int) -> float:
        """Bytes sent to plus received from Python workers by the SQL
        executions numbered `first` on."""
        total = 0.0
        execs = self._sql.executionsList(first, 1 << 30)
        for i in range(execs.size()):
            ex = execs.apply(i)
            ids = _PYTHON_METRIC.findall(ex.metrics().toString())
            if ids:
                values = self._sql.executionMetrics(ex.executionId())
                for acc in ids:
                    v = values.get(int(acc))
                    if v.isDefined():
                        total += _size_bytes(v.get())
        return total

    def _stage(self, sid: int) -> dict | None:
        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            return None  # evicted from the store
        return {
            "name": s.name(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "input_bytes": s.inputBytes(),
            "input_rows": s.inputRecords(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "peak_exec_mem_bytes": s.peakExecutionMemory(),
            "failed_tasks": s.numFailedTasks(),
        }


class Tracer:
    """Spans and layer counters for one traced pass."""

    def __init__(self, store: StatusStore):
        self.store = store
        self.spans: list[dict] = []
        self.totals: Counter = Counter()
        self.peak_exec_mem = 0
        self._op = 0
        self._marks: list[tuple[str, float]] = []

    # -- called by the operation while it runs --
    def phase(self, name: str) -> None:
        self._marks.append((name, time.time()))
        self.store.group(f"pb{self._op}:{name}")

    def begin(self) -> None:
        self._op += 1
        self._marks = []
        self._sql_first = self.store.sql_executions()

    def end(self, op_name: str) -> None:
        """Close the operation: read its jobs and SQL metrics, record spans."""
        t_end = time.time()
        self.store.group(None)
        t0 = time.perf_counter()
        op = self._op
        phases = []
        for i, (name, start) in enumerate(self._marks):
            stop = self._marks[i + 1][1] if i + 1 < len(self._marks) else t_end
            phases.append((name, start, stop, self.store.jobs(f"pb{op}:{name}")))
        self.totals["spark.python_bytes"] += self.store.python_bytes(self._sql_first)
        op_start = phases[0][1] if phases else t_end
        self.spans.append({"op": op, "name": op_name, "span": "op", "start": op_start, "end": t_end})
        intervals = []
        for name, start, stop, jobs in phases:
            self.spans.append({"op": op, "name": f"{op_name}.{name}", "span": name,
                               "parent": "op", "start": start, "end": stop})
            ivs = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
            intervals += ivs
            for j in jobs:
                self.spans.append({"op": op, "name": j["name"], "span": "job", "parent": name,
                                   "start": j["start"], "end": j["end"], "job": j["id"]})
                self._count_job(j, eager=(name == "build"))
            if name == "build":
                self.totals["operators.build_s"] += stop - start
                self.totals["operators.build_nojob_s"] += (stop - start) - covered(ivs, start, stop)
        self.totals["spark.job_busy_s"] += covered(intervals, op_start, t_end)
        self.totals["trace.read_s"] += time.perf_counter() - t0

    def _count_job(self, j: dict, eager: bool) -> None:
        t = self.totals
        t["spark.jobs"] += 1
        t["spark.tasks"] += j["tasks"]
        t["spark.failed_tasks"] += j["failed_tasks"]
        t["spark.stages"] += len(j["stages"])
        if eager:
            t["operators.eager_jobs"] += 1
            names = [j["name"]] + [s["name"] for s in j["stages"]]
            if any("checkpoint" in n.lower() for n in names):
                t["functions.checkpoint_jobs"] += 1
        if j["name"].startswith("parquet at"):
            t["sources.schema_jobs"] += 1
        for s in j["stages"]:
            t["spark.executor_run_s"] += s["run_s"]
            t["spark.executor_cpu_s"] += s["cpu_s"]
            t["spark.shuffle_write_bytes"] += s["shuffle_write_bytes"]
            t["spark.shuffle_read_bytes"] += s["shuffle_read_bytes"]
            t["spark.spill_bytes"] += s["spill_bytes"]
            t["sources.scan_bytes"] += s["input_bytes"]
            t["sources.scan_rows"] += s["input_rows"]
            self.peak_exec_mem = max(self.peak_exec_mem, s["peak_exec_mem_bytes"])

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
