"""Local replica of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB (same parquet tables registered as views),
then compares row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # BIT-EXACT comparison: the determinism rules (decimal sums,
        # shared rounding, TZ-free timestamps) are designed to make
        # results identical to the last ulp — hold the line here so
        # drift is caught before the driver's value-hash sees it
        return repr(v)
    return str(v)


def frame_signature(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def compare(name: str, spark_df, oracle_sql: str, con) -> dict:
    t0 = time.time()
    sp = spark_df.toPandas()
    t_spark = time.time() - t0
    t0 = time.time()
    du = con.sql(oracle_sql).df()
    t_duck = time.time() - t0
    out = {
        "name": name,
        "spark_rows": len(sp),
        "duck_rows": len(du),
        "spark_cols": sorted(sp.columns),
        "duck_cols": sorted(du.columns),
        "t_spark": round(t_spark, 2),
        "t_duck": round(t_duck, 2),
    }
    out["rows_match"] = len(sp) == len(du)
    out["cols_match"] = sorted(sp.columns) == sorted(du.columns)
    if out["rows_match"] and out["cols_match"]:
        s_sig, d_sig = frame_signature(sp), frame_signature(du)
        out["values_match"] = s_sig == d_sig
        if not out["values_match"]:
            diffs = [(a, b) for a, b in zip(s_sig, d_sig) if a != b]
            out["first_diffs"] = diffs[:3]
            out["n_diff_rows"] = len(diffs)
    else:
        out["values_match"] = False
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # the package of the checkout this script is in, not an installed one
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from kinesis_s3_spark.session import get_spark

    spark = get_spark("correctness-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed, no_oracle = [], []
    attempted = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        attempted += 1
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                print(f"  ~ {name}: NO ORACLE (rows-only: {n} rows)")
                no_oracle.append(name)
            except Exception:
                print(f"  ✗ {name}: SPARK ERROR\n{traceback.format_exc()}")
                failed.append(name)
            continue
        try:
            r = compare(name, fn(spark, sf_dir), oracles[name], con)
        except Exception:
            print(f"  ✗ {name}: ERROR\n{traceback.format_exc()}")
            failed.append(name)
            continue
        ok = r["rows_match"] and r["cols_match"] and r["values_match"]
        flag = "✓" if ok else "✗"
        print(
            f"  {flag} {name}: rows {r['spark_rows']}/{r['duck_rows']}"
            f" cols={'ok' if r['cols_match'] else (str(r['spark_cols']) + ' vs ' + str(r['duck_cols']))}"
            f" values={'ok' if r['values_match'] else 'MISMATCH'}"
            f" [spark {r['t_spark']}s duck {r['t_duck']}s]"
        )
        if not ok:
            failed.append(name)
            if "first_diffs" in r:
                print(f"      {r['n_diff_rows']} differing rows; first: {r['first_diffs']}")
    print(f"\n{attempted - len(failed)}/{attempted} ok; no-oracle: {no_oracle}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
