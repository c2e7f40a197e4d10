"""Correctness pre-check for the batch workloads: a query's Spark result
against its DuckDB oracle SQL over the same parquet tables.

Canonicalisation follows tools/check_oracle.py (the repo's oracle gate):
columns sorted by name, every value stringified (floats by repr, NULL/NaN as
"NULL", arrays as lists), rows sorted. The canonical frames are hashed and
the hashes compared. Oracle hashes are cached under the work directory,
keyed by the SQL and the data files' checksums.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        try:
            return str(list(v.tolist() if hasattr(v, "tolist") else v))
        except Exception:
            return str(v)
    return str(v)


def digest(df):
    """(row count, sha256) of the canonical form of a result frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda col: col.map(_canon))
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    h = hashlib.sha256("\x1f".join(out.columns).encode())
    for row in out.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return len(out), h.hexdigest()


class Oracle:
    def __init__(self, data_dir, cache_path, data_sums):
        self.data_dir = data_dir
        self.cache_path = cache_path
        self.data_sums = data_sums
        self.con = None
        try:
            with open(cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 1")
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{self.data_dir}/{t}.parquet')")
        return self.con

    def expected(self, sql):
        key = hashlib.sha256((self.data_sums + "\x00" + sql).encode()).hexdigest()
        if key not in self.cache:
            self.cache[key] = list(digest(self._connect().execute(sql).fetchdf()))
            with open(self.cache_path, "w") as f:
                json.dump(self.cache, f)
        return tuple(self.cache[key])

    def check(self, sql, result_dir):
        """None when the Spark dump at `result_dir` equals the oracle, else a
        one-line reason."""
        files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
        if not files:
            return "no spark output"
        got = pd.concat([pq.read_table(f).to_pandas() for f in files])
        exp_rows, exp_hash = self.expected(sql)
        rows, h = digest(got)
        if (rows, h) != (exp_rows, exp_hash):
            return f"spark {rows} rows {h[:12]} != oracle {exp_rows} rows {exp_hash[:12]}"
        return None
