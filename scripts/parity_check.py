"""Local stand-in for the driver's correctness gate: run each
``queries()`` entry and its ``oracle_sql()`` twin in DuckDB (the
driver's parquet tables registered as views) and compare them after
canonicalization (columns sorted by name, rows sorted by all columns).

Stricter than the driver on purpose: besides equal values, the column
dtypes must agree (up to integer width), because the driver's value
hash is dtype-sensitive (ADVICE.md round 1, stats_groupby).

Usage: [SF_DIR=<sf dir>] python scripts/parity_check.py [query ...]
(default: the sf0.01 test tables, all queries)
PARITY_OUT=PARITY_rNN.json also writes the full record as JSON.
Exit 0 = every selected query OK.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
os.environ["SF_DIR"] = SF_DIR  # __spark_entry__ resolves oracle twins from it
# int width doesn't affect the driver's value hash (round-1
# window_topk: Spark int32 rank vs DuckDB int64, hash green);
# int-vs-float does (stats_groupby) — normalize widths only
_INT_WIDTH = {"int8": "int64", "int16": "int64", "int32": "int64"}


def canon(df):
    """Columns sorted by name; values normalized (strings, float64) and
    rows sorted by every column."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.number):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _dtype(col) -> str:
    d = str(col.dtype)
    return _INT_WIDTH.get(d, d)


def compare(spark_df, oracle_df) -> str:
    """'OK (n rows)' or the first way the two results differ."""
    ca, cb = sorted(spark_df.columns), sorted(oracle_df.columns)
    if ca != cb:
        return "SCHEMA MISMATCH %s vs %s" % (ca, cb)
    if len(spark_df) != len(oracle_df):
        return "ROWCOUNT %d vs %d" % (len(spark_df), len(oracle_df))
    dtypes = [(c, _dtype(spark_df[c]), _dtype(oracle_df[c])) for c in ca]
    bad = {c: (x, y) for c, x, y in dtypes if x != y}
    if bad:
        return "DTYPE MISMATCH %s" % bad
    a, b = canon(spark_df), canon(oracle_df)
    if not a.equals(b):
        neq = (a != b).any(axis=1)
        return "VALUES DIFFER (%d rows)\n%s\n%s" % (
            neq.sum(), a[neq].head(3), b[neq].head(3))
    return "OK (%d rows)" % len(a)


def main(only=None):
    import __spark_entry__ as E
    from ferenda_spark.session import get_spark
    spark = get_spark("parity", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in E.SF_TABLES:
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    qs, oracles = E.queries(), E.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:
            results[name] = "SPARK FAIL: %r" % (exc,)
        else:
            try:
                odf = con.sql(oracles[name]).df()
            except Exception as exc:
                results[name] = "ORACLE FAIL: %r" % (exc,)
            else:
                results[name] = compare(sdf, odf)
        print(name, results[name])
    n_ok = sum(v.startswith("OK") for v in results.values())
    summary = {k: v.split("\n")[0] for k, v in results.items()}
    print(json.dumps(summary, indent=1))
    print("== %d/%d OK" % (n_ok, len(results)))
    # VERDICT r4 #3: commit the full parity record as a round artifact
    # so the auditable record covers every queries() entry, not just
    # the driver's capped row sample
    out = os.environ.get("PARITY_OUT")
    if out:
        with open(out, "w") as f:
            json.dump({
                "sf_dir": SF_DIR,
                "n_queries": len(results),
                "n_ok": n_ok,
                "n_bad": len(results) - n_ok,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "results": summary,
            }, f, indent=1)
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main(set(sys.argv[1:]) or None)
