"""Spans and Spark counters for the traced run.

A span is recorded in the benchmark's own code around a call into one
layer of the program. Each span has a name, start and end
(``time.perf_counter`` seconds), the index of its parent span and the
id of the op it belongs to. Spark jobs are attributed to the innermost
open span: entering a span sets a Spark job group of its own, and
after each op the jobs of every group are read from the public
``statusTracker`` plus the JVM status store (stages, tasks, bytes,
executor run and CPU time).

Spans stay in memory; ``Tracer.dump`` writes them out at the end of the
run. ``NullTracer`` has the same interface and records nothing; the
untraced runs use it.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Iterator

STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "inputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "executorRunTime",
    "executorCpuTime",
)


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def op(self, op_type: str) -> Iterator[None]:
        yield

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._ops = 0
        self._op_id = -1  # -1 outside ops (set-up and the nightly job)

    def _group(self, idx: int) -> str:
        return f"perfbench-span-{idx}"

    @contextlib.contextmanager
    def op(self, op_type: str) -> Iterator[None]:
        self._op_id, self._ops = self._ops, self._ops + 1
        try:
            with self.span(f"op.{op_type}"):
                yield
        finally:
            self._op_id = -1

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op_id,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(idx)
        self._sc.setLocalProperty("spark.jobGroup.id", self._group(idx))
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            parent = self._group(self._open[-1]) if self._open else None
            self._sc.setLocalProperty("spark.jobGroup.id", parent)

    def collect_counters(self, first_span: int = 0) -> None:
        """Attach Spark job/stage counters to every span from index
        ``first_span`` on. Call outside timed regions: it waits for
        the status store to catch up with the finished jobs."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self._sc.statusTracker()
        jvm = self._sc._jvm
        for idx in range(first_span, len(self.spans)):
            rec = self.spans[idx]
            counters = dict.fromkeys(("jobs", "stages", *STAGE_FIELDS), 0)
            intervals = []
            for job_id in tracker.getJobIdsForGroup(self._group(idx)):
                job = self._store.job(job_id)
                counters["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append(
                        (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
                    )
                stage_ids = job.stageIds()
                for k in range(stage_ids.size()):
                    attempts = self._store.stageData(
                        stage_ids.apply(k),
                        False,
                        jvm.java.util.ArrayList(),
                        False,
                        self._sc._gateway.new_array(jvm.double, 0),
                    ).iterator()
                    while attempts.hasNext():
                        stage = attempts.next()
                        if stage.status().toString() == "SKIPPED":
                            continue
                        counters["stages"] += 1
                        for field in STAGE_FIELDS:
                            counters[field] += getattr(stage, field)()
            rec["counters"] = counters
            rec["job_intervals_ms"] = intervals

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> list[float]:
    """Per span: duration minus the time its child spans cover (children
    of one span never overlap: one client thread)."""
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return float(total)
