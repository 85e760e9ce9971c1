"""``store_lifecycle``: a persisted search index, bulk and streamed.

A pass drives one positional BM25 index through its lifecycle with the
engine's public operators (``operators.search``, ``streaming``):

1. bulk build of the base corpus (``write_search_index``);
2. one micro-batch through ``streaming.search_index_stream`` whose
   ``compact_every`` folds the store inside the batch;
3. tombstones through ``streaming.search_delete_stream`` and
   ``delete_from_search_index``;
4. BM25, phrase and IVF-PQ probes, the census;
5. the compactions, then the same probes again, and the batch BM25
   probe.

The same pass takes the IVF-PQ vector store (``operators.similarity``:
build, delete, probe, compact, probe) and the digest ledger
(``operators.dedupe.write_digest_store`` twice, then
``sources.stores.compact_partitioned_store``) through their lifecycle.

The base corpus is ``REPLICAS`` copies of a seeded set of
``BASE_DOCS`` documents (the sf0.1 ``documents`` count) with tokens
suffixed per replica, so replicas are distinct documents, not
near-duplicates; the stream is a separate seeded document set, and the
IVF-PQ store holds one vector for each of the first ``N_VECS`` ids. Every pass writes under
its own directory, which is removed once the pass is measured.

Correctness (outside the timed region):

- BM25 probes (single and batch) equal a DuckDB BM25 over the live
  documents, with the tombstoned documents still counted in the
  statistics before compaction and gone after it;
- phrase and IVF-PQ probes return identical rows before and after
  compaction, and no probe returns a deleted id;
- the census ``n_docs`` equals the number of live documents.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import make_documents, make_embeddings, replicate_documents
from harness import Ctx

REPLICAS = 2
BASE_DOCS = 5000
STREAM_DOCS = 500
#: at most this many vectors in the IVF-PQ store (the sf0.1
#: embeddings count), one per base document id
N_VECS = 5000
STREAM_ID0 = 1_000_000
DELETE_FRACTION = 0.04
TOPK = 10
BM25_TERMS = ("dup", "key")
COMPACT_EVERY = 2
BATCH_QUERIES = [(1, ["window", "join_1"]), (2, ["hash"]), (3, ["scan_1", "sort", "dup"])]
PHRASES = [(1, ["window", "join"]), (2, ["hash_1", "value_1"])]


class StoreLifecycle:
    name = "store_lifecycle"

    def __init__(self, work: str, seed: int, oracle, base_docs: int = BASE_DOCS):
        self.work = work
        self.seed = seed
        self.oracle = oracle
        self.base_docs = base_docs
        self.inputs = os.path.join(work, "inputs")
        self.input_bytes = 0
        self.probes: list[dict] = []
        self.census: list[tuple] = []
        self.store_stats: list[tuple[int, int]] = []

    # -- inputs -------------------------------------------------------
    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        base = replicate_documents(make_documents(rng, self.base_docs), REPLICAS)
        stream = make_documents(rng, STREAM_DOCS)
        stream = stream.set_column(
            0, "doc_id", pa.array(np.arange(STREAM_DOCS) + STREAM_ID0, pa.int64())
        )
        n = base.num_rows
        self.n_vecs = min(N_VECS, n)
        vecs = make_embeddings(rng, self.n_vecs)
        ids = np.sort(rng.choice(n, int(n * DELETE_FRACTION), replace=False))
        self.deletes = [int(i) for i in ids]
        os.makedirs(self.inputs, exist_ok=True)
        for name, table in (("base", base), ("stream", stream), ("vecs", vecs)):
            path = os.path.join(self.inputs, f"{name}.parquet")
            pq.write_table(table, path)
            self.input_bytes += os.path.getsize(path)
        self.oracle.register_table("base_docs", base)
        self.oracle.register_table("documents", stream.select(["doc_id", "text"]))
        self.oracle.register_table(
            "deleted", pa.table({"doc_id": pa.array(self.deletes, pa.int64())}))

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from docker_etl_spark.operators._util import spread_for_compute

        self.base = spread_for_compute(spark.read.parquet(self.inputs + "/base.parquet"))
        self.stream = spark.read.parquet(self.inputs + "/stream.parquet")
        self.vecs = spark.read.parquet(self.inputs + "/vecs.parquet").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("dv")
        )
        half = len(self.deletes) // 2
        self.del_stream = spark.createDataFrame(
            [(i,) for i in self.deletes[:half]], "doc_id long")
        self.del_direct = spark.createDataFrame(
            [(i,) for i in self.deletes[half:]], "doc_id long")
        self.del_vecs = spark.createDataFrame(
            [(i,) for i in self.deletes if i < self.n_vecs], "vec_id long")
        self.batch_queries = spark.createDataFrame(
            BATCH_QUERIES, "query_id long, terms array<string>")
        self.phrases = spark.createDataFrame(PHRASES, "query_id long, phrase array<string>")
        self.vec_queries = self.vecs.filter(F.col("vec_id") < 4)
        # warm-up: fork the Python worker pool through one Arrow stage
        par = spark.sparkContext.defaultParallelism
        spark.range(par * 4, numPartitions=par).mapInPandas(
            lambda it: it, "id long").write.format("noop").mode("overwrite").save()
        self.stream.count()

    # -- one pass -----------------------------------------------------
    def run_pass(self, ctx: Ctx, n_pass: int) -> None:
        """One lifecycle of the search index, the IVF-PQ store and the
        digest ledger."""
        from pyspark.sql import functions as F

        from docker_etl_spark.operators import dedupe as D
        from docker_etl_spark.operators import search as S
        from docker_etl_spark.operators import similarity as V
        from docker_etl_spark.sources.stores import compact_partitioned_store
        from docker_etl_spark.streaming.core import (
            search_delete_stream,
            search_index_stream,
        )

        spark = ctx.spark
        root = os.path.join(self.work, "stores", f"pass{n_pass}")
        shutil.rmtree(root, ignore_errors=True)
        sp, vp = root + "/search", root + "/vectors"
        dp = root + "/digests"
        probes: dict[str, list] = {}
        L = ctx.layer

        def build_search():
            postings, stats = S.build_positional_postings(self.base, "text", "doc_id")
            S.write_search_index(postings, stats, sp, batch_id=0, positional=True)

        ctx.op("write", "search.build", lambda: L(
            "operators.search.write_search_index", build_search))

        def build_vectors():
            index, coarse, books = V.ivfpq_build(
                self.vecs, "dv", "vec_id", dim=64, n_cells=8, coarse_iterations=1,
                m=2, k=4, pq_iterations=1, max_training_points=256,
            )
            V.write_ivfpq_store(index, coarse, books, vp, batch_id=0, id_col="vec_id")

        index = search_index_stream(sp, compact_every=COMPACT_EVERY)
        tombstone = search_delete_stream(sp)
        # One batch clock for ingest and tombstones: the stream lands
        # as batch 1, its tombstones as batch 2, the direct delete as
        # batch 3; all stay tombstones until the explicit compaction.
        ctx.op("write", "stream.ingest", lambda: L(
            "streaming.search_index_stream.batch", lambda: index(self.stream, 1)))
        ctx.op("maintenance", "stream.delete", lambda: L(
            "streaming.search_delete_stream.batch",
            lambda: tombstone(self.del_stream, 2)))
        ctx.op("maintenance", "search.delete", lambda: L(
            "operators.search.delete_from_search_index",
            lambda: S.delete_from_search_index(spark, sp, self.del_direct, batch_id=3)))
        ctx.op("write", "ivfpq.build", lambda: L(
            "operators.similarity.write_ivfpq_store", build_vectors))
        ctx.op("maintenance", "ivfpq.delete", lambda: L(
            "operators.similarity.delete_from_ivfpq_store",
            lambda: V.delete_from_ivfpq_store(spark, vp, self.del_vecs, batch_id=1)))
        for mode, docs in (("overwrite", self.base), ("append", self.stream)):
            digests = docs.select(F.md5("text").alias("content_md5")).distinct()
            ctx.op("write", f"digest.{mode}", lambda digests=digests, mode=mode: L(
                "operators.dedupe.write_digest_store",
                lambda: D.write_digest_store(digests, dp, prefix_chars=1, mode=mode)))

        def probe_all(phase: str) -> None:
            probes[f"bm25.{phase}"] = ctx.op("read", f"probe.bm25.{phase}", lambda: L(
                "operators.search.search_bm25_topk",
                lambda: _rows(S.search_bm25_topk(spark, sp, BM25_TERMS, k=TOPK))))
            probes[f"phrase.{phase}"] = ctx.op("read", f"probe.phrase.{phase}", lambda: L(
                "operators.search.phrase_search_topk_batch",
                lambda: _rows(S.phrase_search_topk_batch(self.phrases, sp, k=TOPK))))

            def ivf():
                idx, coarse, books, _meta = V.load_ivfpq_store(spark, vp)
                return _rows(V.ivfpq_topk(
                    self.vec_queries, idx, coarse, books, vec_col="dv",
                    query_id_col="vec_id", topk=5, prune_index_partitions=True))

            probes[f"ivfpq.{phase}"] = ctx.op("read", f"probe.ivfpq.{phase}", lambda: L(
                "operators.similarity.ivfpq_topk", ivf))

        probe_all("live")
        census = ctx.op("read", "census", lambda: L(
            "operators.search.search_index_census",
            lambda: _rows(S.search_index_census(spark, sp))))
        ctx.op("maintenance", "search.compact", lambda: L(
            "operators.search.compact_search_index",
            lambda: S.compact_search_index(spark, sp, up_to_batch=3)))
        ctx.op("maintenance", "ivfpq.compact", lambda: L(
            "operators.similarity.compact_ivfpq_store",
            lambda: V.compact_ivfpq_store(spark, vp, up_to_batch=1)))
        ctx.op("maintenance", "digest.compact", lambda: L(
            "sources.stores.compact_partitioned_store",
            lambda: compact_partitioned_store(
                spark, dp, ("digest_prefix",), transform=lambda df: df.dropDuplicates())))
        probe_all("compacted")
        probes["bm25_batch.compacted"] = ctx.op("read", "probe.bm25_batch.compacted", lambda: L(
            "operators.search.search_bm25_topk_batch",
            lambda: _rows(S.search_bm25_topk_batch(self.batch_queries, sp, k=TOPK))))

        from telemetry import dir_stats

        self.store_stats.append(dir_stats(root))
        self.probes.append(probes)
        self.census.append(census)
        shutil.rmtree(root, ignore_errors=True)

    def space_amp(self) -> float:
        """Store bytes on disk at the end of a pass per input byte."""
        return float(np.median([b for b, _f in self.store_stats])) / self.input_bytes

    # -- correctness --------------------------------------------------
    def check(self, ctx: Ctx) -> None:
        deleted = set(self.deletes)
        n_live = self.oracle.run(
            "SELECT COUNT(*) FROM base_docs WHERE doc_id NOT IN (SELECT doc_id FROM deleted)"
        )[1][0][0] + STREAM_DOCS
        want_live = self._bm25(BM25_TERMS, stats_with_deleted=True)
        want_comp = self._bm25(BM25_TERMS, stats_with_deleted=False)
        for n, probes in enumerate(self.probes):
            def fail(msg, n=n):
                ctx.fail_check(f"pass {n}: {msg}")

            if any(v is None for v in probes.values()):
                continue  # the failed op is already counted
            for name, (cols, rows) in probes.items():
                idc = "neighbor_id" if name.startswith("ivfpq") else "doc_id"
                if any(dict(zip(cols, r))[idc] in deleted for r in rows):
                    fail(f"{name} returned a deleted id")
            for fam in ("phrase", "ivfpq"):
                if f"{fam}.live" not in probes:
                    continue
                a, b = probes[f"{fam}.live"], probes[f"{fam}.compacted"]
                if sorted(a[1]) != sorted(b[1]):
                    fail(f"{fam} probe changed across compaction")
            for phase, want in (("live", want_live), ("compacted", want_comp)):
                cols, rows = probes[f"bm25.{phase}"]
                got = sorted((d["doc_id"], d["score_scaled"], d["rank"])
                             for d in (dict(zip(cols, r)) for r in rows))
                if got != want:
                    fail(f"bm25.{phase} differs from the DuckDB BM25 oracle")
            cols, rows = probes["bm25_batch.compacted"]
            for qid, terms in BATCH_QUERIES:
                got = sorted((d["doc_id"], d["score_scaled"], d["rank"])
                             for d in (dict(zip(cols, r)) for r in rows)
                             if d["query_id"] == qid)
                if got != self._bm25(terms, stats_with_deleted=False):
                    fail(f"bm25_batch query {qid} differs from the DuckDB BM25 oracle")
            census = self.census[n]
            if census is not None:
                row = dict(zip(census[0], census[1][0]))
                if row["n_docs"] != n_live:
                    fail(f"census n_docs {row['n_docs']} != live docs {n_live}")

    def _bm25(self, terms, stats_with_deleted: bool) -> list[tuple]:
        """Top-k BM25 (the engine's integer scoring) over base + stream
        docs minus the deleted ones. Until the compaction the document
        statistics still count the tombstoned documents."""
        term_list = ", ".join(f"'{t}'" for t in terms)
        stat_docs = "docs" if stats_with_deleted else "live"
        sql = f"""
        WITH d AS (
            SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                       t -> length(t) >= 3) AS toks
            FROM (SELECT doc_id, text FROM base_docs
                  UNION ALL SELECT doc_id, text FROM documents)
        ),
        docs AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
                 WHERE len(toks) > 0),
        live AS (SELECT * FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM deleted)),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) AS sum_dl FROM {stat_docs}),
        tf_all AS (
            SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, dl, unnest(toks) AS term FROM {stat_docs})
            WHERE term IN ({term_list}) GROUP BY 1, 2, 3
        ),
        dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf_all GROUP BY 1),
        ts AS (
            SELECT tf.doc_id,
                   (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * q.df + 1 AS DOUBLE)
                                          / CAST(2 * q.df + 1 AS DOUBLE))
                                       * 1000000.0) AS BIGINT), CAST(0 AS BIGINT))
                    * 36 * tf.tf * s.sum_dl)
                   // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
                       AS term_score
            FROM tf_all tf JOIN dfq q USING (term) CROSS JOIN stats s
            WHERE tf.doc_id NOT IN (SELECT doc_id FROM deleted)
        ),
        agg AS (
            SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score,
                   ROW_NUMBER() OVER (ORDER BY SUM(term_score) DESC, doc_id ASC) AS rnk
            FROM ts GROUP BY doc_id
        )
        SELECT doc_id, score, CAST(rnk AS INT) FROM agg WHERE rnk <= {TOPK}
        """
        return sorted(tuple(r) for r in self.oracle.run(sql)[1])


def _rows(df):
    rows = df.collect()
    return df.columns, [tuple(r) for r in rows]
