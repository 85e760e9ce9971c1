"""The single-query search entry points are batches of one: repeated
query terms count once on both BM25 entry points, the tombstone-path
dictionary compaction folds the way the compactor groups files, the
oracle prefetch honours marker deselection, and AQE stays on in the
engine defaults the bench harnesses use."""

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]

_ROWS = [
    (1, "hash join hash probe build"),
    (2, "join window scan"),
    (3, "hash scan sort"),
    (4, "join join hash hash"),
    (5, "sort merge window"),
    (6, "spark spark join"),
]


def _store(spark, path, rows=_ROWS, split=4):
    from docker_etl_spark.operators.search import (
        build_postings,
        write_search_index,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bid, part in enumerate(
        (df.filter(F.col("doc_id") < split), df.filter(F.col("doc_id") >= split))
    ):
        p, s = build_postings(part, "text", "doc_id")
        write_search_index(p, s, path, batch_id=bid)
    return path


def test_repeated_query_terms_count_once(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        search_bm25_topk,
        search_bm25_topk_batch,
        search_bm25_topk_pruned,
    )

    path = _store(spark, str(tmp_path / "dup"))
    for probe in (search_bm25_topk, search_bm25_topk_pruned):
        rep = [tuple(r) for r in probe(spark, path, ("hash", "hash", "join"), k=10).collect()]
        ref = [tuple(r) for r in probe(spark, path, ("hash", "join"), k=10).collect()]
        assert rep == ref and ref, (probe.__name__, rep, ref)
        assert max(r[1] for r in rep) == 2  # n_terms
    q = spark.createDataFrame(
        [(1, ["hash", "hash", "join"])], "query_id long, terms array<string>"
    )
    batch = [tuple(r)[1:] for r in search_bm25_topk_batch(q, path, k=10).collect()]
    assert sorted(batch, key=lambda r: r[3]) == ref


def _dict_rows(spark, path):
    from docker_etl_spark.operators.search import read_search_dictionary

    return sorted(
        (r["term"], r["df"], r["sum_tf"])
        for r in read_search_dictionary(spark, path).collect()
    )


def test_compaction_dict_fold_ignores_fileless_leftover_dir(spark, tmp_path):
    """A prefix whose at-or-below-horizon dictionary directories hold
    no data file forms no fold group in the driver-direct compactor;
    the tombstone-path fold must not count it as anchored, or that
    prefix's recomputed base rows silently vanish."""
    from docker_etl_spark.operators.search import (
        compact_search_index,
        delete_from_search_index,
    )

    path = _store(spark, str(tmp_path / "leftover"))
    delete_from_search_index(spark, path, [3], batch_id=2)
    pfx = Path(path) / "dict" / "__pfx=ha"
    emptied = 0
    for bdir in pfx.iterdir():
        for f in bdir.iterdir():
            f.unlink()
            emptied += 1
    assert emptied
    compact_search_index(spark, path, up_to_batch=2)
    fresh = _store(
        spark, str(tmp_path / "fresh"),
        rows=[r for r in _ROWS if r[0] != 3],
    )
    got = _dict_rows(spark, path)
    assert [r for r in got if r[0] == "hash"]
    assert got == _dict_rows(spark, fresh)


def test_marker_deselection_queues_no_heavy_oracle_prefetch(tmp_path):
    """The conftest's oracle registration runs after ``-m`` deselection:
    ``-m "not sf001"`` leaves the heavy tier's prefetch set empty."""
    (tmp_path / "oracle_probe.py").write_text(textwrap.dedent("""
        import json

        def pytest_collection_finish(session):
            for plugin in session.config.pluginmanager.get_plugins():
                got = getattr(plugin, "_COLLECTED_ORACLES", None)
                if isinstance(got, dict):
                    print("HEAVY=" + json.dumps(sorted(got["heavy"])))
    """))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(tmp_path), str(REPO), env.get("PYTHONPATH", "")]
    )

    def heavy(*marker):
        out = subprocess.run(
            [
                sys.executable, "-m", "pytest", "--collect-only", "-q",
                "-p", "no:cacheprovider", "-p", "oracle_probe", *marker,
                "tests/test_sf001_heavy.py",
            ],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
        )
        line = [x for x in out.stdout.splitlines() if x.startswith("HEAVY=")]
        assert line, out.stdout + out.stderr
        return json.loads(line[0][len("HEAVY="):])

    assert heavy() != []
    assert heavy("-m", "not sf001") == []


def test_engine_defaults_keep_aqe_on_for_the_bench_harnesses():
    """The test session turns AQE off on purpose; the engine defaults
    must keep it on, and neither bench harness may override them."""
    from docker_etl_spark.session import _ENGINE_DEFAULTS

    assert _ENGINE_DEFAULTS["spark.sql.adaptive.enabled"] == "true"
    for rel in ("bench.py", "perfbench/run.py"):
        src = (REPO / rel).read_text()
        assert "get_spark(" in src, rel
        assert "spark.sql.adaptive.enabled" not in src, rel
