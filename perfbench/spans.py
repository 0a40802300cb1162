"""Spans around the benchmark's calls into the engine, with Spark counters.

A span records (name, start, end, parent, run id).  In a traced run each
call also runs under its own Spark job group, and once the call returns
its jobs, stages and tasks are read back from Spark's status store, which
is kept with the UI disabled.  Spans stay in memory until the run ends.

With tracing off, :meth:`Tracer.span` still times the call (the
end-to-end metrics are built from those durations) but sets no job
group and reads no counters.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager

#: per-call counters read from the status store; each becomes a per-layer
#: metric ``<call>.<counter>``
COUNTERS = ("jobs", "tasks", "executor_s", "shuffle_w_mb", "spill_mb")


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        #: seconds spent reading counters, outside every span
        self.bookkeeping_s = 0.0
        self._ids = itertools.count()
        self._stack: list[int] = []
        self._last_job = -1

    @contextmanager
    def span(self, name: str, call: bool = True):
        """Time the block.  ``call`` spans wrap one call into the engine
        and, when tracing, get their own job group and counters; the
        others (a cycle of calls) only group their children."""
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        sc = self.spark.sparkContext
        group = f"{self.run_id}:{sid}"
        traced = self.enabled and call
        if traced:
            sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if traced:
                t = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._counters(group))
                self.bookkeeping_s += time.perf_counter() - t
            self.spans.append(rec)

    def _counters(self, group: str) -> dict:
        """Jobs, completed stages' tasks, executor run time, shuffle
        write and spill of the jobs run under ``group``."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        out = dict.fromkeys(COUNTERS, 0)
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            g = job.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            out["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                for st in self._stage_attempts(store, ids.apply(k)):
                    if str(st.status()) != "COMPLETE":
                        continue
                    out["tasks"] += st.numCompleteTasks()
                    out["executor_s"] += st.executorRunTime() / 1e3
                    out["shuffle_w_mb"] += st.shuffleWriteBytes() / 1e6
                    out["spill_mb"] += (
                        st.diskBytesSpilled() + st.memoryBytesSpilled()
                    ) / 1e6
        self._last_job = newest
        return out

    def _stage_attempts(self, store, stage_id: int) -> list:
        sc = self.spark.sparkContext
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        seq = store.stageData(stage_id, False, no_status, False, no_quantiles)
        return [seq.apply(i) for i in range(seq.size())]

    @staticmethod
    def layer_metrics(name: str, spans: list[dict]) -> dict[str, float]:
        """Median duration and median counters of ``spans``, all named
        ``name``."""
        if not spans:
            raise KeyError(f"no span named {name}")
        out = {f"{name}.s": statistics.median(s["end"] - s["start"] for s in spans)}
        for c in COUNTERS:
            out[f"{name}.{c}"] = statistics.median(s.get(c, 0) for s in spans)
        return out

