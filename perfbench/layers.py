"""Per-layer metrics from a traced run's spans.

Names are ``<module>.<function>`` plus a suffix:

- ``<function>_s``: median wall of one call; ``<function>.jobs``:
  median Spark jobs one call launched;
- ``<module>.{sql_executions,tasks,shuffle_bytes,task_s,driver_idle_s,
  self_s}``: mean per call over every span of the module
  (``driver_idle_s``: the part of a call's wall with no Spark job
  running; ``self_s``: the call's wall minus its child spans);
- ``session.{noop,shuffle}_action_s``: the action floor, median over
  the per-pass probes;
- ``sources.stores.{bytes_written,files}``: what a store pass leaves
  on disk;
- ``trace.wall_s``: median wall of a traced pass, to be set against
  ``wall_s`` of an untraced run with the same seed (both measure the
  same passes after the same set-up); ``trace.overhead_s``: the time a
  traced pass spent reading status-store counters, the part of that
  difference a run can measure on its own.
"""

from __future__ import annotations

import statistics

FUNCTIONS = (
    "queries.plan",
    "queries.exec",
    "jobs.run",
    "sources.io.write_table",
    "sources.stores.compact_partitioned_store",
    "operators.search.write_search_index",
    "operators.search.delete_from_search_index",
    "operators.search.search_bm25_topk",
    "operators.search.search_bm25_topk_batch",
    "operators.search.phrase_search_topk_batch",
    "operators.search.search_index_census",
    "operators.search.compact_search_index",
    "operators.similarity.write_ivfpq_store",
    "operators.similarity.delete_from_ivfpq_store",
    "operators.similarity.ivfpq_topk",
    "operators.similarity.compact_ivfpq_store",
    "operators.dedupe.write_digest_store",
    "streaming.curation_stream.batch",
    "streaming.search_index_stream.batch",
    "streaming.search_delete_stream.batch",
)
MODULES = (
    "queries",
    "jobs",
    "sources.io",
    "sources.stores",
    "operators.search",
    "operators.similarity",
    "operators.dedupe",
    "streaming",
)
MODULE_COUNTERS = (
    ("sql_executions", "count"),
    ("tasks", "count"),
    ("shuffle_bytes", "bytes"),
    ("task_s", "s"),
    ("driver_idle_s", "s"),
    ("self_s", "s"),
)


def module_of(name: str) -> str | None:
    best = None
    for m in MODULES:
        if (name == m or name.startswith(m + ".")) and (best is None or len(m) > len(best)):
            best = m
    return best


def metric_names() -> list[tuple[str, str]]:
    out = []
    for f in FUNCTIONS:
        out += [(f + "_s", "s"), (f + ".jobs", "count")]
    for m in MODULES:
        out += [(f"{m}.{c}", u) for c, u in MODULE_COUNTERS]
    out += [
        ("session.noop_action_s", "s"),
        ("session.shuffle_action_s", "s"),
        ("sources.stores.bytes_written", "bytes"),
        ("sources.stores.files", "count"),
        ("trace.overhead_s", "s"),
        ("trace.wall_s", "s"),
    ]
    return out


def per_layer_metrics(tracer, pass_walls, diag, store_stats, counter_read_s) -> dict:
    """Every per-layer metric as ``{name: (value, unit)}``;
    ``counter_read_s`` is the tracer's counter-reading time over the
    workload's passes."""
    spans = tracer.spans
    by_fn: dict[str, list[int]] = {}
    by_mod: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by_fn.setdefault(s.name, []).append(i)
        mod = module_of(s.name)
        if mod:
            by_mod.setdefault(mod, []).append(i)
    values: dict[str, float] = {}
    for f in FUNCTIONS:
        idx = by_fn.get(f, [])
        values[f + "_s"] = _median([spans[i].end - spans[i].start for i in idx])
        values[f + ".jobs"] = _median([spans[i].counters.get("jobs", 0) for i in idx])
    for m in MODULES:
        idx = by_mod.get(m, [])
        for c, _unit in MODULE_COUNTERS:
            vals = [tracer.self_time(i) if c == "self_s" else spans[i].counters.get(c, 0)
                    for i in idx]
            values[f"{m}.{c}"] = sum(vals) / len(vals) if vals else 0.0
    values["session.noop_action_s"] = _median([d["noop_action_s"] for d in diag])
    values["session.shuffle_action_s"] = _median([d["shuffle_action_s"] for d in diag])
    values["sources.stores.bytes_written"] = _median([b for b, _f in store_stats])
    values["sources.stores.files"] = _median([f for _b, f in store_stats])
    values["trace.overhead_s"] = counter_read_s / len(pass_walls)
    values["trace.wall_s"] = _median(pass_walls)
    return {name: (values[name], unit) for name, unit in metric_names()}


def _median(vals) -> float:
    return float(statistics.median(vals)) if vals else 0.0
