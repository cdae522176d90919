"""Spans around engine calls, with the Spark task totals of their jobs.

A span brackets one call into the engine. When tracing is on, the span
also tags the calling thread's jobs with ``setJobGroup`` and, once the
call returns, reads every job the span issued from the driver's status
store (which is populated even with ``spark.ui.enabled=false``).

Jobs are attributed by job-id window, not by group: the benchmark is a
single closed-loop client, so every job submitted between a span's start
and end belongs to it. The group alone would miss jobs that the engine
submits from its own Python threads (``build_index`` writes ``doc_stats``
from a plain ``threading.Thread``, whose JVM thread does not inherit the
caller's job group).

With tracing off a span is a bare wall-clock timer, so untraced runs pay
nothing for the instrument.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

# task totals summed over the distinct stages of a span's jobs
STAGE_FIELDS = ("tasks", "executor_run_ms", "jvm_cpu_ms", "gc_ms",
                "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "input_rows")


class Ledger:
    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.spans: list[dict] = []
        if trace:
            jsc = self.sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._dag = jsc.dagScheduler()
            self._no_status = self.sc._jvm.java.util.ArrayList()
            self._no_quantiles = self.sc._gateway.new_array(
                self.sc._jvm.double, 0)

    @contextmanager
    def span(self, name: str, skew: bool = False):
        """Time the enclosed call. ``skew`` also records the longest ÷
        median task duration of the span's busiest stage."""
        rec = {"name": name}
        first_job = self._dag.nextJobId() if self.trace else 0
        if self.trace:
            self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.trace:
                t1 = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._bus.waitUntilEmpty()
                rec.update(self._job_totals(first_job, self._dag.nextJobId(),
                                            skew))
                rec["bookkeeping_s"] = time.perf_counter() - t1
            self.spans.append(rec)

    def _job_totals(self, first: int, end: int, skew: bool) -> dict:
        out = dict.fromkeys(STAGE_FIELDS, 0)
        intervals = []
        stage_ids = set()
        for jid in range(first, end):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            sids = jd.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        busiest = None
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, self._no_status,
                                             False, self._no_quantiles)
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                run_ms = sd.executorRunTime()
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_ms"] += run_ms
                out["jvm_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                out["input_bytes"] += sd.inputBytes()
                out["input_rows"] += sd.inputRecords()
                if busiest is None or run_ms > busiest[0]:
                    busiest = (run_ms, sid, sd.attemptId())
        out["jobs"] = end - first
        out["job_ms"] = _union_ms(intervals)
        if skew:
            out["task_skew"] = self._task_skew(busiest) if busiest else 0.0
        return out

    def _task_skew(self, busiest) -> float:
        _, sid, attempt = busiest
        tasks = self._store.taskList(sid, attempt, 1 << 20)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(d.get())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0


def _union_ms(intervals: list) -> float:
    """Length of the union of [start, end] millisecond intervals."""
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
    return float(total)
