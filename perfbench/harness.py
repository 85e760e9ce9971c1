"""Op recording shared by the workloads.

A workload runs *passes*; a pass is a sequence of *ops* (one client,
closed loop). Each op has a kind — ``read`` (queries, probes),
``write`` (writes, appends, micro-batches, job writes) or
``maintenance`` (deletes, compactions) — and calls one or more engine
functions, each inside a :meth:`Ctx.layer` span. An op that raises
counts as failed and the pass goes on.
"""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass

from telemetry import Tracer

KINDS = ("read", "write", "maintenance")


@dataclass
class OpRecord:
    op_id: int
    kind: str
    label: str
    wall_s: float
    ok: bool


class Ctx:
    def __init__(self, spark, tracer: Tracer, log):
        self.spark = spark
        self.tracer = tracer
        self.log = log
        self.ops: list[OpRecord] = []
        self.failed_checks = 0
        self._op_id = 0

    def op(self, kind: str, label: str, fn):
        """Run ``fn`` as one timed op; returns its result (None if it
        failed)."""
        assert kind in KINDS, kind
        self._op_id += 1
        mark = self.tracer.begin("op." + kind, self._op_id)
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed op is a measurement
            ok = False
            self.log(f"op {label} failed:\n{traceback.format_exc(limit=6)}")
        wall = time.perf_counter() - t0
        ok = self.tracer.end(mark, ok) and ok
        self.ops.append(OpRecord(self._op_id, kind, label, wall, ok))
        return out

    def layer(self, name: str, fn):
        """Call ``fn`` inside a span named ``<module>.<function>``."""
        mark = self.tracer.begin(name, self._op_id)
        ok = False
        try:
            out = fn()
            ok = True
            return out
        finally:
            if not self.tracer.end(mark, ok):
                raise RuntimeError(f"{name}: Spark counters lost")

    def fail_check(self, what: str) -> None:
        self.failed_checks += 1
        self.log(f"check failed: {what}")


def quantile(values, q: float) -> float:
    """Inclusive linear-interpolation quantile; the value for one item."""
    vals = sorted(values)
    if not vals:
        return float("nan")
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[int(q * 100) - 1]
