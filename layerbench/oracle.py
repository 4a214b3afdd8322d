"""Expected query results from DuckDB, and the comparison of the engine's
results with them.

The engine carries a DuckDB twin of each query (`SparkEntry.oracleSql`);
its result over the same generated files is the expected result. Results
are compared as `scripts/check_correctness.py` compares them, with its
`canon` (columns sorted by name, rows sorted) and exact values.
"""
import hashlib
import os
import sys

import duckdb
import pandas as pd

import datagen

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def _connect(data):
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    return con


def expected(data, queries, oracle_sql):
    """Path of each query's expected result, computed once per input set
    and oracle text.
    """
    out, con = {}, None
    cache = os.path.join(data, "expected")
    os.makedirs(cache, exist_ok=True)
    for q in queries:
        sql = oracle_sql[q]
        path = os.path.join(cache, f"{q}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")
        if not os.path.exists(path):
            con = con or _connect(data)
            con.execute(sql).df().to_pickle(path + ".tmp")
            os.rename(path + ".tmp", path)
        out[q] = path
    return out


def compare(expected_path, got_dir):
    """None when the engine's result in `got_dir` equals the expected one,
    else a one-line description of the first difference.
    """
    # Imported here, not at the top, so that a directory without the
    # repository's sources fails in run.py's own check, with its message.
    if SCRIPTS not in sys.path:
        sys.path.insert(0, SCRIPTS)
    from check_correctness import canon

    exp = canon(pd.read_pickle(expected_path))
    got = canon(duckdb.sql(
        f"SELECT * FROM read_parquet('{os.path.join(got_dir, '*.parquet')}')").df())
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} != {len(exp)}"
    try:
        pd.testing.assert_frame_equal(exp, got, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + " ".join(str(e).split())[:300]
    return None
