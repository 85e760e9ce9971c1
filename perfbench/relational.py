"""``relational``: the read-only relational registry queries plus the
write-gated EtlJobs, one client in a closed loop.

Of the ~60 relational queries (families ``a an e f fi g gd h j o u w``)
a pass runs the first of each family, by name, once: as a read, or
inside a write op when the ``monthly_revenue`` and
``dashboard_snapshot`` jobs (``write=True``) or the four query results
persisted through ``sources.io.write_table`` already run it. The
queries are the same in every pass and for every seed (the seed
changes the data and the order of the ops). The reads and writes run
in an order the seed permutes, then
re-runs both jobs into their own outputs (replacing month partitions
by dynamic partition overwrite, the reference's delete+insert, and
swapping the dashboard snapshot) as the pass's maintenance ops. No
store, search or streaming code runs here. The set-up runs every query
a pass plans once, so that the pass measures warm queries.

Correctness (outside the timed region): every query's collected rows,
every job output and every written table are compared against the
registry's DuckDB oracle with the test suite's normalization.
"""

from __future__ import annotations

import glob
import json
import os
import random
import re
import shutil

from datagen import make_tables, write_tables
from harness import Ctx

FAMILIES = ("a", "an", "e", "f", "fi", "g", "gd", "h", "j", "o", "u", "w")
#: query results persisted through ``sources.io.write_table`` each pass
WRITE_QUERIES = ("a01_pricing_summary", "g01_rollup_revenue", "j01_star_revenue",
                 "w01_latest_event_per_user")
#: EtlJob -> the registry query it runs
JOBS = {"monthly_revenue": "a15_monthly_revenue", "dashboard_snapshot": "gd01_dashboard_union"}
SF = 0.01


def relational_queries() -> list[str]:
    """The queries of one pass: the first of each family."""
    from docker_etl_spark.queries import QUERIES

    first: dict[str, str] = {}
    for n in sorted(QUERIES):
        first.setdefault(re.match(r"([a-z]+)\d", n).group(1), n)
    return [first[f] for f in FAMILIES]


class Relational:
    name = "relational"

    def __init__(self, work: str, seed: int, oracle):
        self.work = work
        self.seed = seed
        self.oracle = oracle
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")
        written = {*WRITE_QUERIES, *JOBS.values()}
        self.reads = [q for q in relational_queries() if q not in written]
        self.results: dict[str, tuple] = {}
        self.written: dict[str, str] = {}
        self.input_bytes = 0
        #: a short pass (two reads, one job, one table write) for the
        #: traced layer sweep
        self.mini = False

    def prepare(self) -> None:
        tables = make_tables(self.seed, SF, n_docs=500, n_vecs=500)
        self.input_bytes = write_tables(tables, self.data)
        self.oracle.register_dir(self.data, tables)

    def _plan(self) -> tuple[list[str], list[str], tuple[str, ...]]:
        """(reads, jobs, table writes) of one pass."""
        if self.mini:
            return self.reads[:2], list(JOBS)[:1], WRITE_QUERIES[:1]
        return self.reads, list(JOBS), WRITE_QUERIES

    def setup(self, spark) -> None:
        """Register the tables, run every query a pass plans once (the
        jobs' queries too) and write one result as parquet."""
        from docker_etl_spark.queries import QUERIES
        from docker_etl_spark.sources.io import TESTDATA_TABLES, load_table, write_table

        for t in TESTDATA_TABLES:
            load_table(spark, self.data, t)
        reads, jobs, tables = self._plan()
        for q in dict.fromkeys([*reads, *tables, *(JOBS[j] for j in jobs)]):
            QUERIES[q](spark, self.data).write.format("noop").mode("overwrite").save()
        warm = os.path.join(self.work, "warm")
        write_table(QUERIES[tables[0]](spark, self.data), warm, mode="overwrite")
        shutil.rmtree(warm, ignore_errors=True)

    def _ops(self, n_pass: int) -> list[tuple]:
        reads, jobs, tables = self._plan()
        ops = [("read", q) for q in reads]
        ops += [("write", "job:" + j) for j in jobs]
        ops += [("write", "table:" + q) for q in tables]
        random.Random(self.seed * 1000 + n_pass).shuffle(ops)
        return ops + [("maintenance", "replace:" + j) for j in jobs]

    def run_pass(self, ctx: Ctx, n_pass: int) -> None:
        from docker_etl_spark.jobs import ALL_JOBS, JobContext
        from docker_etl_spark.queries import QUERIES
        from docker_etl_spark.sources.io import write_table

        spark = ctx.spark
        shutil.rmtree(self.out, ignore_errors=True)
        for kind, label in self._ops(n_pass):
            if label.startswith(("job:", "replace:")):
                # "replace:" re-runs a job into its own output, which
                # replaces it in place: monthly_revenue's month
                # partitions by dynamic partition overwrite (D3
                # delete+insert), the dashboard snapshot by an atomic swap
                name = label.split(":", 1)[1]
                dest = os.path.join(self.out, name)
                job_ctx = JobContext(spark, self.data, dest, True)
                if ctx.op(kind, label, lambda: ctx.layer(
                        "jobs.run", lambda: ALL_JOBS[name]().run(job_ctx)
                )) is not None:
                    self.written["job:" + name] = dest
            elif label.startswith("table:"):
                name = label[6:]
                dest = os.path.join(self.out, "tables", name)

                def write_result(name=name, dest=dest):
                    df = ctx.layer("queries.plan", lambda: QUERIES[name](spark, self.data))
                    ctx.layer("sources.io.write_table",
                              lambda: write_table(df, dest, mode="overwrite"))
                    return dest

                if ctx.op(kind, label, write_result) is not None:
                    self.written[label] = dest
            else:
                def run_query(name=label):
                    df = ctx.layer("queries.plan", lambda: QUERIES[name](spark, self.data))
                    rows = ctx.layer("queries.exec", df.collect)
                    return df.columns, [tuple(r) for r in rows]

                res = ctx.op(kind, label, run_query)
                if res is not None:
                    self.results[label] = res

    def space_amp(self) -> float:
        """Bytes the last pass left on disk per input byte."""
        from telemetry import dir_stats

        return dir_stats(self.out)[0] / self.input_bytes

    def check(self, ctx: Ctx) -> None:
        from docker_etl_spark.queries import ORACLES

        for name, (cols, rows) in sorted(self.results.items()):
            if name in ORACLES:
                err = self.oracle.compare(name, cols, rows, ORACLES[name])
                if err:
                    ctx.fail_check(err)
            elif not rows:
                ctx.fail_check(f"{name}: no rows (no oracle to compare)")
        for label, dest in sorted(self.written.items()):
            err = self._check_written(label, dest, ORACLES)
            if err:
                ctx.fail_check(err)
        self.results.clear()
        self.written.clear()

    def _check_written(self, label: str, dest: str, oracles) -> str | None:
        if label == "job:dashboard_snapshot":
            with open(os.path.join(dest, "dashboard.json")) as fh:
                got = json.load(fh)
            cols, rows = self.oracle.run(oracles["gd01_dashboard_union"])
            want: dict = {}
            for r in rows:
                r = dict(zip(cols, r))
                key = "|".join(filter(None, [r["key"], r["subkey"]])) or "_"
                want.setdefault(r["output"], {})[key] = r["value"]
            return None if got == want else f"{label}: snapshot differs from oracle"
        files = glob.glob(os.path.join(dest, "**", "*.parquet"), recursive=True)
        if not files:
            return f"{label}: no parquet written"
        if label == "job:monthly_revenue":
            query = "a15_monthly_revenue"
            sql = (f"SELECT * EXCLUDE (ym) FROM read_parquet('{dest}/**/*.parquet', "
                   "hive_partitioning=true)")
        else:
            query = label[6:]
            sql = f"SELECT * FROM read_parquet('{dest}/*.parquet')"
        cols, rows = self.oracle.run(sql)
        return self.oracle.compare(label, cols, rows, oracles[query])
