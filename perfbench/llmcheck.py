"""DuckDB oracle check for the llm_pipeline workload.

Each pass wrote one parquet directory per operator key. Its rows are
compared with the key's `SparkEntry.oracleSql` run by DuckDB over the
same generated subset, with the normalisation of `tools/check.py`
(engine-neutral values, rows sorted, floats equal within 1e-9
relative)."""
import decimal
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, (np.floating, float)):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return str(v)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [[_norm(v) for v in row] for row in df.itertuples(index=False)]
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    return list(df.columns), rows


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same(exp, got):
    """None when the two canonical results agree, else a short reason."""
    (ec, er), (gc, gr) = exp, got
    if ec != gc:
        return f"columns {ec} != {gc}"
    if len(er) != len(gr):
        return f"{len(gr)} rows, expected {len(er)}"
    for i, (a, b) in enumerate(zip(er, gr)):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {i}: {b} != expected {a}"
    return None


def read_output(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(path)
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


class Oracle:
    """Oracle results per (subset, key), computed once per run."""

    def __init__(self, oracle_sql):
        self.sql, self.cache = oracle_sql, {}

    def expected(self, inputs, key):
        """The oracle's rows for `key` over the input tables in `inputs`
        (one parquet directory per table, as Spark wrote them)."""
        if (inputs, key) not in self.cache:
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{inputs}/{t}.parquet/*.parquet'")
            self.cache[(inputs, key)] = canon(con.sql(self.sql[key]).arrow().to_pandas())
            con.close()
        return self.cache[(inputs, key)]


def check_passes(passes, oracle_sql, corrupt=False):
    """Returns (checks, failed, notes, output bytes, output rows)."""
    oracle = Oracle(oracle_sql)
    checks = failed = nbytes = nrows = 0
    notes = []
    for p in passes:
        for key in p["keys"]:
            checks += 1
            path = f"{p['dir']}/{key}"
            try:
                got = read_output(path)
                nrows += len(got)
                nbytes += sum(os.path.getsize(f) for f in glob.glob(f"{path}/*")
                              if os.path.isfile(f))
                cols, rows = oracle.expected(p["inputs"], key)
                if corrupt:
                    rows = rows[1:] if rows else [[None] * len(cols)]
                why = same((cols, rows), canon(got))
            except Exception as e:  # a missing or unreadable output fails
                why = f"{type(e).__name__}: {e}"
            if why:
                failed += 1
                notes.append(f"{os.path.basename(p['dir'])} {key}: {why}"[:300])
    return checks, failed, notes, nbytes, nrows
