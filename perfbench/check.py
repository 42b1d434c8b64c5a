"""Untimed output checks for catalog queries.

A query's captured output is compared against DuckDB running the spec's
oracle SQL over the same parquet tables (columns by name, row count,
rows in sorted order, doubles to 1e-9). Every registered spec has oracle
SQL; one without it would be reported as unchecked. Oracle answers are
cached per (table set, SQL) so repeated runs on one data set pay for
them once.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def load_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(spark_df, oracle_df):
    """Problems found comparing a result with its oracle (empty = equal)."""
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        return [f"columns {sc} vs oracle {oc}"]
    if len(spark_df) != len(oracle_df):
        return [f"{len(spark_df)} rows vs oracle {len(oracle_df)}"]
    a = spark_df[sc].sort_values(by=sc, kind="mergesort").reset_index(drop=True)
    b = oracle_df[sc].sort_values(by=sc, kind="mergesort").reset_index(drop=True)
    problems = []
    for c in sc:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = np.allclose(av.astype(float), bv.astype(float), rtol=0, atol=1e-9, equal_nan=True)
        else:
            try:
                ok = bool((av.astype(object).values == bv.astype(object).values).all())
            except Exception:
                ok = False
        if not ok:
            problems.append(f"column {c} differs")
    return problems


class Checker:
    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)
        stamp = os.path.join(data_dir, "STAMP")
        self.data_stamp = data_dir
        if os.path.exists(stamp):
            with open(stamp) as f:
                self.data_stamp = f.read()

    def _oracle(self, sql):
        key = hashlib.sha256((self.data_stamp + "\n" + sql).encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        df = self._con.execute(sql).df()
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def check(self, result_dir, oracle_sql):
        """Return (status, detail): status is "ok", "wrong" or "unchecked"."""
        if oracle_sql is None:
            return "unchecked", "no oracle SQL"
        df = load_result(result_dir)
        if df is None:
            return "wrong", "no result written"
        try:
            problems = compare(df, self._oracle(oracle_sql))
        except Exception as e:
            return "wrong", f"oracle SQL failed: {e}"
        return ("wrong", "; ".join(problems)) if problems else ("ok", "oracle")
