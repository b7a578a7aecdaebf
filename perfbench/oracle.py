"""DuckDB check of the corpus workload's results.

Each registry query's warm-up result (written by the JVM as parquet) is
compared with its oracle SQL run in DuckDB over the same corpus files, the
way ``tools/oracle_check.py`` compares a verify dump: columns sorted by
name, rows sorted, values exact.
"""
import json
import os
import sys
import time

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
                lambda v: not isinstance(v, (str, bytes, type(None)))).any():
            df[c] = df[c].map(lambda v: str(list(v))
                              if hasattr(v, "__len__") and not isinstance(v, (str, bytes)) else v)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), na_position="first", kind="mergesort")
    return df.reset_index(drop=True)


def check(corpus_dir, results_dir):
    """Return {query: reason} for every result that differs from its oracle."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus_dir, t)}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name, sql in sorted(oracles.items()):
        t0 = time.monotonic()
        try:
            exp = canon(con.execute(sql).df())
            print(f"[perfbench] oracle {name}: {len(exp)} rows in "
                  f"{time.monotonic() - t0:.2f}s", file=sys.stderr)
            got = canon(pd.read_parquet(os.path.join(results_dir, name)))
        except Exception as e:  # noqa: BLE001
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if list(exp.columns) != list(got.columns):
            bad[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(exp) != len(got):
            bad[name] = f"{len(got)} rows != {len(exp)}"
        else:
            try:
                pd.testing.assert_frame_equal(exp, got, check_dtype=False, check_exact=True)
            except AssertionError as e:
                bad[name] = f"values differ: {str(e)[:200]}"
    con.close()
    return bad
