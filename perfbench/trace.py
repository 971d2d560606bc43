"""Spans around the benchmark's calls into the library, with the Spark work
each span caused.

A span records its name, parent, start and end, and the range of Spark job
ids submitted while it was open. Job ids come from the DAG scheduler's
counter, so a span also owns the jobs that another thread submitted inside
it (a streaming micro-batch runs on the stream's own thread, which a job
group set by the caller would miss). Reading one counter is the only work
done at a span boundary; the jobs' stage metrics are read from the status
store later, by ``resolve``, outside every timed region.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path

#: per-span Spark counters, summed over the distinct stages of its jobs
SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes",
    "spill_bytes", "input_records",
)


class Tracer:
    """Collects spans in memory; ``write`` puts them in a JSON file."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        """Start reading job ids from ``spark``'s scheduler."""
        self._sc = spark.sparkContext._jsc.sc()

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId()) if self._sc else 0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job_lo": self._next_job(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job_hi"] = self._next_job()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def resolve(self) -> None:
        """Fill in the Spark counters of every span not yet resolved.

        Waits for the listener bus to drain first, so that the status store
        holds the end of every job submitted so far; call it between units,
        before the store's retention (``spark.ui.retainedJobs``) drops them.
        """
        todo = [s for s in self.spans if "jobs" not in s and "end" in s]
        if not todo or self._sc is None:
            return
        self._sc.listenerBus().waitUntilEmpty(120_000)
        store = self._sc.statusStore()
        jobs: dict[int, tuple] = {}
        stages: dict[int, dict] = {}
        for s in todo:
            for j in range(s["job_lo"], s["job_hi"]):
                if j not in jobs:
                    jd = store.job(j)
                    ids = []
                    it = jd.stageIds().iterator()
                    while it.hasNext():
                        ids.append(int(it.next()))
                    jobs[j] = (
                        jd.submissionTime().get().getTime() / 1000.0,
                        jd.completionTime().get().getTime() / 1000.0,
                        ids,
                    )
                for sid in jobs[j][2]:
                    if sid not in stages:
                        stages[sid] = _stage_counts(store.lastStageAttempt(sid))
            s_ids = {sid for j in range(s["job_lo"], s["job_hi"]) for sid in jobs[j][2]}
            s["jobs"] = s["job_hi"] - s["job_lo"]
            for k in SPARK_KEYS[1:]:
                s[k] = sum(stages[sid][k] for sid in s_ids)
            s["job_wall_s"] = _union_length(
                [jobs[j][:2] for j in range(s["job_lo"], s["job_hi"])]
            )

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


class NullTracer(Tracer):
    """The untraced run: spans time nothing and count nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def wrap(self, owner, attr: str, name: str) -> None:
        pass

    def resolve(self) -> None:
        pass

    def write(self, path: Path) -> None:
        pass


def _stage_counts(sd) -> dict:
    if sd.status().toString() == "SKIPPED":
        return {"stages": 0, "tasks": 0, "executor_run_s": 0.0,
                "shuffle_bytes": 0, "spill_bytes": 0, "input_records": 0}
    return {
        "stages": 1,
        "tasks": int(sd.numTasks()),
        "executor_run_s": sd.executorRunTime() / 1000.0,
        "shuffle_bytes": int(sd.shuffleWriteBytes()),
        "spill_bytes": int(sd.diskBytesSpilled()),
        "input_records": int(sd.inputRecords()),
    }


def _union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals (overlapping jobs count once)."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total
