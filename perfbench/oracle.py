"""DuckDB oracle check of query_mix results.

Each query's Spark result (written as parquet by the verify round) is
compared with its oracle SQL (SparkEntry.oracleSql) run by DuckDB over the
same tables: columns sorted by name, rows sorted by all values, then cell by
cell. A zero-row result is never a pass: it is reported as unverified.
"""
import glob
import os

import duckdb

TABLES = ["documents", "embeddings", "events", "orders", "customer"]


def _frames_equal(spark, oracle):
    """None when equal, else a one-line reason."""
    sc = spark[sorted(spark.columns)]
    oc = oracle[sorted(oracle.columns)]
    if list(sc.columns) != list(oc.columns):
        return f"schema spark={list(sc.columns)} oracle={list(oc.columns)}"
    if len(sc) != len(oc):
        return f"rows spark={len(sc)} oracle={len(oc)}"
    sc = sc.sort_values(by=list(sc.columns)).reset_index(drop=True)
    oc = oc.sort_values(by=list(oc.columns)).reset_index(drop=True)
    for c in sc.columns:
        a, b = sc[c], oc[c]
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return (f"value col={c} row={i} spark={a.iloc[i]!r} oracle={b.iloc[i]!r} "
                    f"({int((~eq).sum())} cells differ)")
    return None


def check(tables_dir, results_dir, oracle_sql):
    """Returns {query: {"status": pass|fail|unverified, "rows": n, "why": str}}
    plus the comparator self-test failures."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    out = {}
    sample = None
    for q in sorted(os.listdir(results_dir)):
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            out[q] = {"status": "fail", "rows": 0, "why": "no result written"}
            continue
        spark = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        if len(spark) == 0:
            out[q] = {"status": "unverified", "rows": 0, "why": "zero rows"}
            continue
        if q not in oracle_sql:
            out[q] = {"status": "fail", "rows": len(spark), "why": "no oracle"}
            continue
        try:
            oracle = con.execute(oracle_sql[q]).df()
        except Exception as ex:
            out[q] = {"status": "fail", "rows": len(spark), "why": f"oracle error {str(ex)[:160]}"}
            continue
        why = _frames_equal(spark, oracle)
        out[q] = {"status": "fail" if why else "pass", "rows": len(spark), "why": why}
        if not why and sample is None and len(spark) >= 2:
            sample = (spark, oracle)
    self_test = []
    if sample is not None:
        spark, oracle = sample
        if _frames_equal(spark.iloc[1:], oracle) is None:
            self_test.append("comparator accepted a result with one row dropped")
        altered = spark.copy()
        col = sorted(altered.columns)[0]
        altered.loc[0, col] = None
        if _frames_equal(altered, oracle) is None:
            self_test.append("comparator accepted a result with one altered cell")
    else:
        self_test.append("no passing result to self-test the comparator on")
    return out, self_test
