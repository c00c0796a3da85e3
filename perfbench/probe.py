"""Tracing from outside the program: spans around calls into each layer, and
Spark facts read back from Spark's own status stores.

Attribution is by id range, not by time window: the harness is a closed loop
with one client, so every job and SQL execution whose id was allocated
between the start and the end of an operation belongs to that operation,
including jobs launched from the program's own worker threads (which do not
inherit the job group).
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# SQL plan metrics of the Python-worker operators (MapInPandas and kin).
PY_METRICS = {
    "time to run Python workers": "functions.python_total_s",
    "time to start Python workers": "functions.python_boot_s",
    "time to initialize Python workers": "functions.python_init_s",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_received",
}
WRITTEN_FILES = "number of written files"

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value (``"1.2 s"``, ``"85.7 KiB"``,
    ``"500"``, or the ``"total (min, med, max ...)\\n<total> (...)"`` form)
    in seconds, bytes or units."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """In-memory spans with parent ids; written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkProbe:
    """Reads the jobs, stages and SQL executions of one operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._jsc = jsc
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism

    def mark(self) -> tuple[int, int]:
        """(next job id, SQL execution count) — the start of an id range."""
        self._bus.waitUntilEmpty()
        return self._jsc.dagScheduler().nextJobId(), self._sql.executionsCount()

    def facts(self, since: tuple[int, int]) -> dict:
        """Spark facts of every job and SQL execution allocated since ``since``."""
        job_lo, exec_lo = since
        job_hi, exec_hi = self.mark()
        out = {
            "spark.jobs": job_hi - job_lo, "spark.stages": 0, "spark.tasks": 0,
            "spark.failed_tasks": 0, "spark.exchanges": 0,
            "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
            "spark.gc_s": 0.0, "spark.input_bytes": 0, "spark.output_bytes": 0,
            "spark.shuffle_write_bytes": 0, "sources.files_written": 0,
            **{k: 0.0 for k in PY_METRICS.values()},
        }
        stage_ids: set[int] = set()
        for jid in range(job_lo, job_hi):
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        intervals = []
        for sid in sorted(stage_ids):
            sd = self._stage(sid)
            if sd is None:
                continue
            start, end = _opt_s(sd.submissionTime()), _opt_s(sd.completionTime())
            if start is None:  # skipped: its map output came from an earlier job
                continue
            intervals.append((start, end if end is not None else start))
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numTasks()
            out["spark.failed_tasks"] += sd.numFailedTasks()
            out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
            out["spark.input_bytes"] += sd.inputBytes()
            out["spark.output_bytes"] += sd.outputBytes()
            out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spark.stage_active_s"] = _union_s(intervals)
        if exec_hi > exec_lo:
            execs = self._sql.executionsList(exec_lo, exec_hi - exec_lo)
            for i in range(execs.size()):
                self._sql_facts(execs.apply(i).executionId(), out)
        return out

    def _stage(self, sid: int):
        """The stage's last attempt, or None for a stage the store never
        registered (a job can list stages it skipped)."""
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.lastStageAttempt(sid)
        except Py4JJavaError as exc:
            if "NoSuchElementException" in str(exc.java_exception):
                return None
            raise

    def _sql_facts(self, exec_id: int, out: dict) -> None:
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            name = node.name()
            if name in ("Exchange", "BroadcastExchange"):
                out["spark.exchanges"] += 1
            if not ("Python" in name or "Pandas" in name or "Arrow" in name
                    or name.startswith("Execute")):
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                key = PY_METRICS.get(metric.name())
                if key is None and metric.name() == WRITTEN_FILES:
                    key = "sources.files_written"
                if key is None:
                    continue
                value = values.get(metric.accumulatorId())
                if value.isDefined():
                    out[key] += parse_metric(value.get())

    def jvm_peak_rss_mb(self) -> float:
        """High-water resident set of the Spark JVM (``VmHWM``), in MB."""
        pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")
