"""Spans around layer calls, with the Spark counters of each span's jobs.

Each span sets its own Spark job group while it is innermost, so the
jobs a span owns are exactly the jobs of its group. After the run,
``spark_counters`` reads jobs, tasks, executor run time, shuffle write
and spill for a group from the status tracker and the application
status store; both work with the web UI disabled.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from perfbench import stats


class Tracer:
    """Keeps spans in memory; ``write`` emits them when the run ends."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.sc = None  # set once the session exists
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def group(self, span: dict) -> str:
        return f"{self.trace_id}/{span['id']}"

    @contextmanager
    def span(self, name: str):
        """Yield the span dict; callers add row counts to its
        ``counts``."""
        s = {
            "trace": self.trace_id,
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "counts": {},
        }
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self.group(s), name)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.sc is not None:
                outer = self.group(self._stack[-1]) if self._stack else "untraced"
                self.sc.setJobGroup(outer, "")

    def attach_spark_counters(self) -> None:
        for s in self.spans:
            s["spark"] = spark_counters(self.sc, self.group(s))

    def layer_metrics(self) -> dict[str, float]:
        """``<name>_s`` = summed self time of the spans of that name;
        each count key is reported as ``<module>.<key>``, where the
        module is the span name without its last part."""
        own = stats.self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[f"{s['name']}_s"] = out.get(f"{s['name']}_s", 0.0) + own[s["id"]]
            module = s["name"].rsplit(".", 1)[0]
            for key, v in s["counts"].items():
                out[f"{module}.{key}"] = out.get(f"{module}.{key}", 0) + v
        return out


def spark_counters(sc, group: str) -> dict:
    """Counters of every job in ``group``: jobs, tasks, executor run
    time, shuffle write, spill, and the jobs' wall intervals."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    tasks = run_ms = shuffle_b = spill_b = 0
    intervals = []
    stage_ids: set[int] = set()
    for jid in jobs:
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append(
                (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
            )
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, None, False, None)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            tasks += st.numCompleteTasks()
            run_ms += st.executorRunTime()
            shuffle_b += st.shuffleWriteBytes()
            spill_b += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return {
        "jobs": len(jobs),
        "tasks": tasks,
        "executor_run_s": run_ms / 1000.0,
        "shuffle_write_mb": shuffle_b / 1e6,
        "spill_mb": spill_b / 1e6,
        "job_intervals": intervals,
    }
