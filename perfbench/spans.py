"""Timers around calls into ``giraph_spark``, and Spark's own counters
attributed to each call.

Every workload times its calls through one :class:`Tracer`. Untraced, a
span is two ``time.time()`` reads kept in a list: that is all the
end-to-end metrics need. Traced, each tagged span also sets a Spark job
group from the calling thread (``sc.setJobGroup`` is thread-local, so two
clients on one session stay apart), and after the workload
:meth:`Tracer.spark_counters` reads the status store once and sums the
jobs, stages, tasks, CPU, GC and shuffle bytes of each group. Nothing in
``giraph_spark`` is changed or patched; the layers are measured from
outside.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

# The status store keeps 1,000 jobs and stages by default; one crawl round
# issues ~100 jobs and ~200 stages, so a few rounds would evict the first.
RETAIN_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. ``sc``
    is set once the session is up; only tagged spans use it."""

    def __init__(self, run_id: str, enabled: bool):
        self.sc = None
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, tag: bool = False, **attrs):
        """Time a block. ``tag=True`` marks a call into the engine: in
        traced mode its Spark jobs get a job group of their own."""
        parent = getattr(self._local, "current", None)
        rec = {
            "id": next(self._ids),
            "name": name,
            "run": self.run_id,
            "parent": parent["id"] if parent else None,
            "call": tag,
            **attrs,
        }
        if tag and self.enabled:
            rec["group"] = f"{self.run_id}.{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        self._local.current = rec
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["seconds"] = rec["end"] - rec["start"]
            self._local.current = parent
            if tag and self.enabled:
                self.sc._jsc.clearJobGroup()  # noqa: SLF001
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    def spark_counters(self) -> dict[str, dict]:
        """Per job group: jobs, stages, tasks, executor CPU/run/GC seconds,
        shuffle bytes and the stage intervals, read from the status store
        in one pass after the workload. Raises if a job or stage of a
        tagged span was evicted, since its counts would then be short."""
        groups = {s["group"] for s in self.spans if "group" in s}
        store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        jobs = store.jobsList(None)
        n_jobs = jobs.size()
        out: dict[str, dict] = {}
        seen_stages: set[int] = set()
        max_job = -1
        for i in range(n_jobs):
            job = jobs.apply(i)
            max_job = max(max_job, job.jobId())
            g = job.jobGroup()
            if g.isEmpty() or g.get() not in groups:
                continue
            acc = out.setdefault(g.get(), _empty_counters())
            acc["jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)  # raises if evicted
                if str(st.status()) == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += st.numTasks()
                acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
                acc["executor_run_s"] += st.executorRunTime() / 1e3
                acc["gc_s"] += st.jvmGcTime() / 1e3
                acc["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                acc["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    acc["intervals"].append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
        if n_jobs != max_job + 1:
            raise RuntimeError(
                f"status store evicted jobs: {n_jobs} listed, ids up to {max_job}"
            )
        return out


def _empty_counters() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "executor_run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "intervals": [],
    }


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
