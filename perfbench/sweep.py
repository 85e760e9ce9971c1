"""Layer sweep for traced runs.

A traced run must report every per-layer metric, but each workload
touches only its own layers. After the workload's passes, the sweep
runs, on its own small inputs, the layers the workload did not: a
store pass over a small corpus for ``relational``, a short relational
pass (two queries, one job with its replacement, one table write) for
``store_lifecycle``, and for both a three-micro-batch
``streaming.curation_stream`` ingest (the cp03 shape) whose survivors
are checked against the registry's cp03 oracle.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from datagen import make_documents
from harness import Ctx
from oracle import Oracle

CURATION_DOCS = 150
SWEEP_STORE_DOCS = 100


def sweep(workload: str, ctx: Ctx, work: str, seed: int, ncpu: int) -> list:
    """Run the missing layers; returns the store stats it produced."""
    root = os.path.join(work, "sweep")
    store_stats = []
    if workload != "relational":
        from relational import Relational

        rel = Relational(os.path.join(root, "relational"), seed, Oracle(ncpu))
        rel.prepare()
        rel.mini = True
        rel.setup(ctx.spark)
        rel.run_pass(ctx, 0)
        rel.check(ctx)
    if workload != "store_lifecycle":
        from stores import StoreLifecycle

        st = StoreLifecycle(os.path.join(root, "stores"), seed, Oracle(ncpu),
                            base_docs=SWEEP_STORE_DOCS)
        st.prepare()
        st.setup(ctx.spark)
        st.run_pass(ctx, 0)
        st.check(ctx)
        store_stats = st.store_stats
    _curation(ctx, os.path.join(root, "curation"), seed, Oracle(ncpu))
    shutil.rmtree(root, ignore_errors=True)
    return store_stats


def _curation(ctx: Ctx, work: str, seed: int, oracle: Oracle) -> None:
    from pyspark.sql import functions as F

    from docker_etl_spark.queries import ORACLES
    from docker_etl_spark.streaming.core import curation_stream

    docs = make_documents(np.random.default_rng(seed + 7), CURATION_DOCS)
    os.makedirs(work, exist_ok=True)
    path = os.path.join(work, "docs.parquet")
    pq.write_table(docs.select(["doc_id", "text"]), path)
    oracle.register_table("documents", docs.select(["doc_id", "text"]))
    stream = ctx.spark.read.parquet(path)
    out = os.path.join(work, "curated")
    sink = curation_stream(work + "/digests", work + "/sigs", out, digest_prefix_chars=1)
    for k in range(3):
        batch = stream.filter(F.col("doc_id") % 3 == k)
        ctx.op("write", f"curation.batch{k}", lambda batch=batch, k=k: ctx.layer(
            "streaming.curation_stream.batch", lambda: sink(batch, k)))
    cp03 = ORACLES["cp03_streaming_curation"]
    want = {r[0] for r in oracle.run(
        cp03[: cp03.index(",\nsv AS (")] + "\nSELECT doc_id FROM surv")[1]}
    got = {r[0] for r in oracle.run(
        f"SELECT doc_id FROM read_parquet('{out}/**/*.parquet', union_by_name=true)")[1]}
    if got != want:
        ctx.fail_check(f"curation survivors: {len(got ^ want)} ids differ from the cp03 oracle")
