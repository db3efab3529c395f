"""Spans and per-layer counters for the traced run.

A ``Tracer`` records one span per call into the program (name, start,
end, parent span, run id) and keeps them in memory until ``dump``.
Spark-side work is attributed through job groups: each traced
(pass, item, phase) runs under its own group, and ``stage_totals``
sums the JVM status store's stage metrics over that group's jobs right
after the phase finishes. With tracing off every method is a cheap
no-op, so the untraced run pays only a ``with`` statement per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str) -> None:
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block as a span; with ``group``, its Spark jobs run under
        that job group (traced run only)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id, "group": group}
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_totals(self, group: str) -> dict[str, float]:
        """Sum of the status store's stage metrics over ``group``'s jobs;
        skipped stages count neither as stages nor as tasks."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        no_statuses = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                attempts = store.stageData(stage_id, False, no_statuses, False, no_quantiles)
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    if d.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += d.numCompleteTasks()
                    out["executor_run_s"] += d.executorRunTime() / 1e3
                    out["executor_cpu_s"] += d.executorCpuTime() / 1e9
                    out["jvm_gc_s"] += d.jvmGcTime() / 1e3
                    out["input_bytes"] += d.inputBytes()
                    out["shuffle_read_bytes"] += d.shuffleReadBytes()
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    out["spill_bytes"] += d.diskBytesSpilled()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
