"""Tracing from outside the program: spans around the benchmark's own calls
into each layer, Spark's status store read per job group, and plan shape.

Nothing here patches or instruments the engine. Spans are kept in memory
and written out when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans (name, start, end, parent, run id) in memory; each span is
    also the Spark job group of the jobs that run inside it."""

    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["group"] = f"{self.run_id}/{sid}"
        self.spark.sparkContext.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.spark.sparkContext.setJobGroup(parent["group"], parent["name"])
            else:
                self.spark.sparkContext._jsc.clearJobGroup()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def jobs_of_group(spark, group: str) -> list[dict]:
    """Every job Spark ran in ``group``, with its interval and the summed
    metrics of its stages, read from the application status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        rec = {"job": jid, "start": _opt_s(job.submissionTime()),
               "end": _opt_s(job.completionTime()), "stages": 0, "tasks": 0,
               "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "shuffle_write_records": 0, "shuffle_read_mb": 0.0,
               "spill_mb": 0.0, "input_mb": 0.0}
        ids = job.stageIds()
        for i in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            rec["shuffle_write_records"] += st.shuffleWriteRecords()
            rec["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            rec["spill_mb"] += st.diskBytesSpilled() / 1e6
            rec["input_mb"] += st.inputBytes() / 1e6
        out.append(rec)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


_NODE = re.compile(r"^[\s:+\-|*()0-9]*([A-Za-z]+)")
PLAN_NODES = {"exchanges": "Exchange", "sorts": "Sort",
              "bnlj": "BroadcastNestedLoopJoin",
              "cached_scans": "InMemoryTableScan",
              "broadcasts": "BroadcastExchange"}


def plan_shape(df) -> dict[str, int]:
    """Counts of the plan nodes that decide a query's shape, from the
    engine's own explain helper."""
    from hadoop_mapreduce_spark.plans.explain import plan_text

    text = plan_text(df, "simple").split("== Physical Plan ==")[-1]
    nodes = [m.group(1) for m in map(_NODE.match, text.splitlines()) if m]
    return {k: sum(1 for n in nodes if n == v) for k, v in PLAN_NODES.items()}
