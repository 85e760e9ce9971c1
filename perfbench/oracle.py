"""DuckDB ground truth, compared with the test suite's normalization
(``tests/oracle.py``: column-name-sorted, order-insensitive rows)."""

from __future__ import annotations

import importlib.util
import os

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_normalize():
    spec = importlib.util.spec_from_file_location(
        "repo_tests_oracle", os.path.join(_REPO, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


class Oracle:
    def __init__(self, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        self.normalize = _load_normalize()

    def register_dir(self, data_dir: str, tables) -> None:
        for t in tables:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )

    def register_table(self, name: str, table) -> None:
        self.con.register(name, table)

    def run(self, sql: str):
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def compare(self, name: str, cols, rows, sql: str) -> str | None:
        """None if (cols, rows) equal the oracle's result, else why not."""
        d_cols, d_rows = self.run(sql)
        if sorted(cols) != sorted(d_cols):
            return f"{name}: columns {sorted(cols)} != oracle {sorted(d_cols)}"
        if len(rows) != len(d_rows):
            return f"{name}: {len(rows)} rows != oracle {len(d_rows)}"
        got = self.normalize(rows, list(cols))
        want = self.normalize(d_rows, d_cols)
        bad = sum(1 for a, b in zip(got, want) if a != b)
        return f"{name}: {bad} rows differ from oracle" if bad else None
