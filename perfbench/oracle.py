"""Result checking against the registry's DuckDB oracles.

Each row's oracle SQL runs once per input set on DuckDB over the same
parquet files the engine reads; the canonical result is cached on disk
per (row, input digest, oracle text), so repeated runs with the same seed
skip the oracle.  Results are compared with the fixture gate's own rule,
``tests.utils.canonicalize``: columns matched by lower-cased name,
order-insensitive, numbers rounded to 2 decimals, dtype-sensitive.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import duckdb
import pandas as pd

from tests.utils import canonicalize

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def rows_of(pdf: pd.DataFrame) -> tuple[list[str], list[str]]:
    """Sorted lower-cased column names and the canonical rows."""
    return sorted(c.lower() for c in pdf.columns), canonicalize(pdf)


def mismatch(got: tuple, want: tuple) -> str | None:
    """None when ``got`` equals ``want`` (both from ``rows_of``), else why."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"row {a!r} != oracle {b!r}"
    return None


class Oracle:
    def __init__(self, data_dir: str, cache_dir: str, digest: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.cache_dir = cache_dir
        self.digest = digest
        self.memo: dict[str, tuple] = {}

    def expected(self, name: str, sql: str) -> tuple:
        if name in self.memo:
            return self.memo[name]
        sql_hash = hashlib.sha256(sql.encode()).hexdigest()[:12]
        path = os.path.join(self.cache_dir, f"{name}-{self.digest}-{sql_hash}.pkl")
        try:
            with open(path, "rb") as f:
                res = pickle.load(f)
        except (OSError, EOFError, pickle.UnpicklingError):
            res = rows_of(self.con.execute(sql).df())
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "wb") as f:
                pickle.dump(res, f)
            os.replace(tmp, path)
        self.memo[name] = res
        return res

    def close(self) -> None:
        self.con.close()
