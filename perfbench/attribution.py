"""Outside-in attribution of Spark's own telemetry to benchmark calls.

The benchmark wraps each call into a layer in ``Tracer.span(name)``.
A span drains the listener bus, notes the highest job, stage and SQL
execution id, times the call, drains again and then reads what is new
from Spark's status stores. Attribution is by id window, not by job
group: jobs started from pool threads (the featurizer's concurrent fit
jobs) or by Spark itself carry no group but still fall in the window.
Everything is read after every span, because the stores keep only about
1,000 jobs, stages and executions. Nothing here touches ``caspr_spark``.

With tracing off, ``NullTracer.span`` only runs the call, so untimed
benchmark code is identical in both modes.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import defaultdict

# quantities a span records; bytes are summed over the window's stages
QUANTITIES = ("wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s",
              "gc_s", "shuffle_write_bytes", "input_bytes", "spill_bytes",
              "python_run_s", "python_bytes_sent")

# SQL metric names as PythonSQLMetrics declares them
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield


def _total(formatted: str) -> float:
    """Total from a SQL metric's display string, used only when the
    accumulator itself was already collected: ``'total (min, med, max
    ...)\\n12.8 s (...)'`` gives 12800 (ms) and ``'795.2 KiB (...)'``
    gives bytes."""
    m = re.search(r"\n([\d.,]+)\s*([A-Za-z]+)", formatted or "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


class Tracer:
    enabled = True

    def __init__(self, spark):
        jvm = spark._jvm
        sc = spark._jsc.sc()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._kv = self._store.store()
        # the SQL listener writes its executions into the same store
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._accs = jvm.org.apache.spark.util.AccumulatorContext
        forname = jvm.java.lang.Class.forName
        self._job_cls = forname("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = forname("org.apache.spark.status.StageDataWrapper")
        self._exec_cls = forname(
            "org.apache.spark.sql.execution.ui.SQLExecutionUIData")
        self.spans: dict[str, list[dict]] = defaultdict(list)
        self.windows: list[tuple[str, list[int]]] = []
        self.violations: list[str] = []
        self._drain()
        self._job_hw = self._max_id(self._kv, self._job_cls, _job_id)
        self._stage_hw = self._max_id(self._kv, self._stage_cls, _stage_id)
        self._exec_hw = self._max_id(self._kv, self._exec_cls, _exec_id)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    @staticmethod
    def _newer(kv, cls, key, hw: int) -> list:
        """Entries of ``cls`` with ``key > hw``, newest first; walks the
        natural index backwards so old entries are never visited."""
        out = []
        it = kv.view(cls).reverse().closeableIterator()
        try:
            while it.hasNext():
                w = it.next()
                if key(w) <= hw:
                    break
                out.append(w)
        finally:
            it.close()
        return out

    @staticmethod
    def _max_id(kv, cls, key) -> int:
        it = kv.view(cls).reverse().closeableIterator()
        try:
            return key(it.next()) if it.hasNext() else -1
        finally:
            it.close()

    def executor_totals(self) -> tuple[int, int]:
        """(input bytes, shuffle write bytes) over all executors."""
        self._drain()
        inp = sh = 0
        for e in self._conv.asJava(self._store.executorList(True)):
            inp += e.totalInputBytes()
            sh += e.totalShuffleWrite()
        return inp, sh

    @contextlib.contextmanager
    def span(self, name: str):
        self._drain()
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        end_ms = time.time() * 1000.0
        self._drain()
        rec = self._collect(name, wall, start_ms, end_ms)
        self.spans[name].append(rec)

    def _collect(self, name, wall, start_ms, end_ms) -> dict:
        rec = dict.fromkeys(QUANTITIES, 0.0)
        rec["wall_s"] = wall
        jobs = [w.info() for w in self._newer(self._kv, self._job_cls,
                                              _job_id, self._job_hw)]
        job_ids = sorted(j.jobId() for j in jobs)
        if job_ids:
            self._job_hw = job_ids[-1]
        self.windows.append((name, job_ids))
        busy = []
        for j in jobs:
            sub = j.submissionTime()
            done = j.completionTime()
            s = sub.get().getTime() if sub.isDefined() else start_ms
            e = done.get().getTime() if done.isDefined() else end_ms
            # ms clock: allow the job's own rounding either side
            if s < start_ms - 1 or e > end_ms + 1:
                self.violations.append(f"job {j.jobId()} ran outside {name}")
            busy.append((max(s, start_ms), min(e, end_ms)))
        rec["driver_s"] = max(0.0, wall - _union_ms(busy) / 1000.0)
        rec["jobs"] = len(jobs)
        stages = self._newer(self._kv, self._stage_cls, _stage_id,
                             self._stage_hw)
        if stages:
            self._stage_hw = max(_stage_id(w) for w in stages)
        window = set(job_ids)
        for w in stages:
            if not window & set(self._conv.asJava(w.jobIds())):
                self.violations.append(f"stage {w.info().stageId()} in "
                                       f"{name} has no job in the window")
            s = w.info()
            rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            rec["executor_cpu_s"] += s.executorCpuTime() / 1e9
            rec["gc_s"] += s.jvmGcTime() / 1e3
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rec["input_bytes"] += s.inputBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        execs = self._newer(self._kv, self._exec_cls, _exec_id,
                            self._exec_hw)
        if execs:
            self._exec_hw = max(_exec_id(e) for e in execs)
        for e in execs:
            values = None
            for m in self._conv.asJava(e.metrics()):
                if m.name() not in (_PY_RUN, _PY_SENT):
                    continue
                acc = self._accs.get(m.accumulatorId())
                if acc.isDefined():
                    v = float(acc.get().value())
                else:
                    if values is None:
                        values = self._conv.asJava(
                            self._sql.executionMetrics(e.executionId()))
                    v = _total(values.get(m.accumulatorId()))
                if m.name() == _PY_RUN:
                    rec["python_run_s"] += v / 1e3
                else:
                    rec["python_bytes_sent"] += v
        return rec

    def self_check(self, totals_before, totals_after) -> dict:
        """Every job of the traced section falls in exactly one span
        window, and the spans' input and shuffle bytes add up to the
        executor-summary delta over the section."""
        ids = [j for _, js in self.windows for j in js]
        contiguous = (not ids or sorted(ids) ==
                      list(range(min(ids), max(ids) + 1)))
        unique = len(ids) == len(set(ids))
        span_in = sum(r["input_bytes"] for rs in self.spans.values() for r in rs)
        span_sh = sum(r["shuffle_write_bytes"]
                      for rs in self.spans.values() for r in rs)
        d_in = totals_after[0] - totals_before[0]
        d_sh = totals_after[1] - totals_before[1]
        return {"jobs": len(ids), "one_window_per_job": contiguous and unique,
                "input_bytes": [span_in, d_in],
                "shuffle_write_bytes": [span_sh, d_sh],
                "violations": self.violations[:5],
                "ok": contiguous and unique and not self.violations
                      and span_in == d_in and span_sh == d_sh}


def _job_id(w) -> int:
    return w.info().jobId()


def _stage_id(w) -> int:
    return w.info().stageId()


def _exec_id(e) -> int:
    return e.executionId()


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total
