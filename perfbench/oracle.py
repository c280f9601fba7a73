"""DuckDB oracle answers, computed once per machine and cached.

A query's answer is cached under a key made of its oracle SQL and the
name, size and modification time of every input table file, so
rewriting an input invalidates the answer. Answers are compared with the
engine's output in the canonical form the test suite compares rows in
(``tests/conftest.py::canonicalize``), so the repository root must be on
``sys.path``.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import pandas as pd

from tests.conftest import canonicalize


def cache_key(sql: str, data_dir: str, tables) -> str:
    h = hashlib.sha256(sql.encode())
    for name in sorted(tables):
        st = os.stat(os.path.join(data_dir, f"{name}.parquet"))
        h.update(f"|{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:32]


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Exact equality of two canonical frames."""
    if len(got) != len(want) or list(got.columns) != list(want.columns):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


class OracleCache:
    """Canonical DuckDB answers under ``cache_dir``; the pickles are
    written and read only by this class."""

    def __init__(self, cache_dir: str, data_dir: str, tables):
        self.cache_dir = cache_dir
        self.data_dir = data_dir
        self.tables = tuple(tables)
        self.misses = 0
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self.tables:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self._con

    def path(self, name: str, sql: str) -> str:
        return os.path.join(self.cache_dir,
                            f"{name}.{cache_key(sql, self.data_dir, self.tables)}.pkl")

    def answer(self, name: str, sql: str) -> pd.DataFrame:
        path = self.path(name, sql)
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        self.misses += 1
        want = canonicalize(self._connect().execute(sql).fetchdf())
        with open(path + ".tmp", "wb") as f:
            pickle.dump(want, f)
        os.replace(path + ".tmp", path)
        return want

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
