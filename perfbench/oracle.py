"""Correctness checks: engine output against the registered DuckDB oracle
SQL, compared with the rules of ``tools/check.py``.

Oracle results are cached on disk under a key made of the SQL text, the
input files' bytes and the DuckDB version, so a (workload, seed) pair pays
for its oracles once per checkout.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check import compare  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha1()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class Oracle:
    def __init__(self, input_dir: str, cache_dir: str, threads: int) -> None:
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.con = duckdb.connect()
        self.con.sql(f"SET threads={threads}")
        key = [duckdb.__version__]
        for name in sorted(os.listdir(input_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(input_dir, name)
                table = name[: -len(".parquet")]
                self.con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
                key.append(f"{name}:{_digest(path)}")
        self._inputs_key = "|".join(key)

    def result(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha1((self._inputs_key + "|" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        df = self.con.sql(sql).df()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        self.con.close()


def verdict(got: pd.DataFrame, want: pd.DataFrame, name: str) -> tuple[str, list[str]]:
    """``exact``, ``close`` (every difference within rtol = atol = 1e-9) or
    ``fail``, with the differences found."""
    issues = compare(got, want, name)
    if not issues:
        return "exact", []
    if all("NOT EXACT (close)" in i for i in issues):
        return "close", issues
    return "fail", issues
