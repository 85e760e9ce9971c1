"""Spans, Spark status-store counters and host readings.

Every layer is measured from outside the engine: the benchmark wraps
its own calls into the engine's public functions in spans, and reads
what Spark recorded for the span from the driver's status stores (the
JVM ``AppStatusStore`` for jobs/stages, the SQL status store for SQL
executions). Counters are per-span deltas over the job and execution
ids the span launched. Job and execution ids are allocated in order,
so a delta whose ids are no longer in the store (evicted under
``spark.ui.retainedJobs`` / ``retainedStages`` /
``spark.sql.ui.retainedExecutions``) is detected, and the span is
marked as failed instead of being silently undercounted.
"""

from __future__ import annotations

import os
import resource
import shutil
import time
from dataclasses import dataclass, field


def rss_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Driver Python peak RSS plus the JVM's (py4j gateway child)."""
    own = rss_hwm_mb("self")
    if own == 0.0:
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    try:
        jvm_pid = int(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        jvm = rss_hwm_mb(jvm_pid)
    except Exception:  # noqa: BLE001 - the JVM may already be stopped
        pass
    return own + jvm


def host_reading(path: str) -> dict:
    """Load average and free disk space next to ``path``."""
    la1, la5, _ = os.getloadavg()
    return {
        "loadavg_1m": la1,
        "loadavg_5m": la5,
        "disk_free_gb": shutil.disk_usage(path).free / 1e9,
    }


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; checksum, marker and
    uncommitted files skipped."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "_temporary"]
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class CounterGap(RuntimeError):
    """Status-store entries for a span were evicted before being read."""


class StatusCounters:
    """Reads job/stage/SQL-execution counters for id ranges."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(next job id, last SQL execution id) right now."""
        self.drain()
        return int(self._jsc.dagScheduler().nextJobId()), self._last_execution()

    def _last_execution(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).apply(0).executionId())

    def delta(self, start: tuple[int, int], t0_ms: float, t1_ms: float) -> dict:
        """Counters for jobs/executions launched since ``start``.

        ``driver_idle_s`` is the part of [t0, t1] (epoch ms) during
        which none of those jobs was running."""
        job0, exec0 = start
        job1, exec1 = self.mark()
        tasks = shuffle = run_ms = 0
        spans: list[tuple[float, float]] = []
        for jid in range(job0, job1):
            try:
                job = self._store.job(jid)
            except Exception as exc:  # noqa: BLE001 - NoSuchElementException
                raise CounterGap(f"job {jid} evicted from the status store") from exc
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                try:
                    st = self._store.lastStageAttempt(it.next())
                except Exception as exc:  # noqa: BLE001
                    raise CounterGap(f"a stage of job {jid} was evicted") from exc
                if st.status().toString() == "SKIPPED":
                    continue
                tasks += st.numCompleteTasks()
                run_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
        n_exec = exec1 - exec0
        if n_exec > 0:
            n_ret = int(self._sql.executionsCount())
            first = self._sql.executionsList(max(0, n_ret - n_exec), 1).apply(0)
            if int(first.executionId()) != exec0 + 1:
                raise CounterGap("SQL executions evicted from the status store")
        busy = _union_ms(spans, t0_ms, t1_ms)
        return {
            "jobs": job1 - job0,
            "sql_executions": n_exec,
            "tasks": tasks,
            "shuffle_bytes": shuffle,
            "task_s": run_ms / 1000.0,
            "driver_idle_s": max(0.0, (t1_ms - t0_ms) - busy) / 1000.0,
        }


def _union_ms(spans, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
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


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    ok: bool = True
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a no-op unless ``enabled``.

    A span covers one call the benchmark makes into an engine module,
    named ``<module>.<function>``; spans nest (the innermost open span
    is the parent). Counters are read once the span's call returned,
    so the time spent reading them is kept apart as ``overhead_s``."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self._counters = StatusCounters(spark) if enabled else None

    def begin(self, name: str, op_id: int):
        if not self.enabled:
            return None
        t = time.perf_counter()
        mark = self._counters.mark()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, op_id, parent, time.time()))
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t
        return mark

    def end(self, mark, ok: bool) -> bool:
        """Close the innermost span; False if its counters were lost."""
        if not self.enabled:
            return True
        span = self.spans[self._stack.pop()]
        span.end = time.time()
        span.ok = ok
        t = time.perf_counter()
        try:
            span.counters = self._counters.delta(mark, span.start * 1000, span.end * 1000)
        except CounterGap:
            span.ok = False
        self.overhead_s += time.perf_counter() - t
        return span.ok

    def self_time(self, idx: int) -> float:
        span = self.spans[idx]
        kids = sum(
            s.end - s.start for s in self.spans if s.parent == idx
        )
        return max(0.0, (span.end - span.start) - kids)

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "op_id": s.op_id,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "ok": s.ok,
                "self_s": self.self_time(i),
                **s.counters,
            }
            for i, s in enumerate(self.spans)
        ]
