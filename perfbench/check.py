"""Output check of the query workloads: each checked query's Spark result
(parquet) against its DuckDB oracle over the same tables; queries without an
oracle must return at least one row. Mirrors the repository's oracle gate
(tools/check.py): columns sorted by name, exact row-by-row compare, dtypes
must agree."""
import glob
import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd


def _na(x):
    return x is None or (isinstance(x, float) and math.isnan(x))


def views(data_dir):
    con = duckdb.connect()
    for t in glob.glob(f"{data_dir}/*.parquet"):
        name = os.path.basename(t)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    return con


def expected(cache_dir, data_dir, oracle_sql):
    """Run every oracle whose result is not cached yet. The tables are fixed
    per data set, so each oracle runs once per checkout; some take a minute.
    Returns name -> path of the pickled result."""
    paths, con = {}, None
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256(f"{os.path.basename(data_dir)}\n{sql}".encode()).hexdigest()[:24]
        p = os.path.join(cache_dir, f"{key}.pkl")
        if not os.path.exists(p):
            con = con or views(data_dir)
            t0 = time.time()
            try:
                df = con.sql(sql).df()
            except Exception as e:  # an oracle that cannot run fails its query's check
                df = f"oracle error: {e}"
            pd.to_pickle(df, p + ".tmp")
            os.replace(p + ".tmp", p)
            if time.time() - t0 > 1:
                print(f"[perfbench] oracle {name}: {time.time() - t0:.1f}s", file=sys.stderr)
        paths[name] = p
    return paths


def compare(con, exp_path, out_dir):
    """None when the Spark output equals the oracle's, else a reason."""
    files = glob.glob(f"{out_dir}/*.parquet")
    if not files:
        return "no spark output"
    # part files sort in partition order, which keeps a sorted result in order
    got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
    if exp_path is None:
        return None if len(got) > 0 else "no rows (query has no oracle)"
    exp = pd.read_pickle(exp_path)
    if isinstance(exp, str):
        return exp
    exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns exp={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"
    bad = [c for c in exp.columns if str(exp[c].dtype) != str(got[c].dtype)]
    if bad:
        return f"dtype mismatch in {bad[:5]}"
    for c in exp.columns:
        for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist())):
            if not (_na(a) and _na(b)) and a != b:
                return f"{c}[{i}]: exp={a!r} got={b!r}"
    return None


def check(run_dir, checked, expected_paths):
    """Map query name -> None (ok) or the reason it failed."""
    con = duckdb.connect()
    res = {}
    for q in checked:
        name = q["name"]
        res[name] = q["error"] or compare(con, expected_paths.get(name), f"{run_dir}/out/{name}")
    return res
