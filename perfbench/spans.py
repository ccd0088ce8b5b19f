"""Per-layer spans read from Spark's status store.

A span runs one call into a layer under its own Spark job group. When
the call returns, the tracer waits for the listener bus to drain and
reads that group's jobs (``statusTracker().getJobInfo``) and stages
(``statusStore().lastStageAttempt``) at once, before later work can
evict them. This works with ``spark.ui.enabled=false``. The program is
not changed: every span wraps a public call from the benchmark's side.

Spans stay in memory and are written as JSON when the run ends. The
tracer times its own bookkeeping, the only work a traced pass adds to
an untraced one, and reports it as the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

MB = 1 << 20


class EvictedError(RuntimeError):
    """A job or stage of a span left the status store before it was read:
    the span's numbers would be silently short."""


class Tracer:
    def __init__(self, spark, cores: int, enabled: bool = True):
        self.sc = spark.sparkContext
        self.cores = cores
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._store = self.sc._jsc.sc().statusStore()
        self._n = 0

    @contextmanager
    def span(self, name: str, task_times: bool = False, **attrs):
        """Run the body in its own job group; on exit record a span dict
        (yielded, so the body may add counts to it)."""
        rec = {"name": name, **attrs}
        if not self.enabled:
            yield rec
            return
        t0 = time.perf_counter()
        self._n += 1
        group = f"bench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t0
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            rec.update(self._read_group(group, rec["wall_s"], task_times))
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    def _read_group(self, group: str, wall_s: float, task_times: bool) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                raise EvictedError(f"job {jid} of span {group!r} was evicted from the status store")
            stage_ids.update(info.stageIds)
        out = dict.fromkeys(("executor_s", "gc_s", "shuffle_mb", "spill_mb", "input_mb"), 0.0)
        ran = 0
        tasks: list[float] = []
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception as exc:  # py4j wraps the JVM's NoSuchElementException
                raise EvictedError(
                    f"stage {sid} of span {group!r} was evicted from the status store "
                    f"(spark.ui.retainedStages too small for this span?)"
                ) from exc
            if str(st.status()) == "SKIPPED":
                continue
            ran += 1
            out["executor_s"] += st.executorRunTime() / 1000
            out["gc_s"] += st.jvmGcTime() / 1000
            out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out["input_mb"] += st.inputBytes() / MB
            if task_times:
                tasks.extend(self._task_run_times(sid, st.attemptId()))
        out["jobs"] = len(job_ids)
        out["stages"] = ran
        out["busy_share"] = out["executor_s"] / (wall_s * self.cores) if wall_s > 0 else 0.0
        if task_times:
            med = statistics.median(tasks) if tasks else 0.0
            out["task_skew"] = max(tasks) / med if med > 0 else 0.0
        return out

    def _task_run_times(self, stage_id: int, attempt: int) -> list[float]:
        seq = self._store.taskList(stage_id, attempt, 1 << 20)
        times = []
        for i in range(seq.size()):
            metrics = seq.apply(i).taskMetrics()
            if metrics.isDefined():
                times.append(float(metrics.get().executorRunTime()))
        return times

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "overhead_s": self.overhead_s, "spans": self.spans}, f, indent=1)
