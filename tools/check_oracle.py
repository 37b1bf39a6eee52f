#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare for one query.

Usage: check_oracle.py <verify_out_dir> <sf_dir> <query_name>

Reads <verify_out_dir>/<query>.parquet (the Spark result written by
graft.Verify) and oracle_sql.json, runs the oracle SQL in DuckDB with
the sf dir's parquet tables registered as views, and diffs the two
result sets the way the driver does: columns sorted by name, rows
sorted, exact value equality. A cell where both sides are NaN/null
counts as equal; how many such cells each column holds is printed before
the verdict, so agreement that rests on NaN stays visible.
"""
import json
import sys

import duckdb


def main() -> int:
    out_dir, sf_dir, name = sys.argv[1], sys.argv[2], sys.argv[3]
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))[name]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        except duckdb.Error:
            pass
    oracle = con.execute(sql).fetchdf()
    spark = duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
    o = oracle[sorted(oracle.columns)].sort_values(
        by=sorted(oracle.columns)).reset_index(drop=True)
    s = spark[sorted(spark.columns)].sort_values(
        by=sorted(spark.columns)).reset_index(drop=True)
    print(f"rows: spark={len(s)} oracle={len(o)}")
    print(f"cols: spark={list(s.columns)}")
    print(f"      oracle={list(o.columns)}")
    if list(s.columns) != list(o.columns):
        print("COLUMN MISMATCH")
        return 1
    if len(s) != len(o):
        print("ROW COUNT MISMATCH")
        return 1
    # exact compare after normalizing integer dtypes, NaN-aware
    # (NaN == NaN must read equal, like the old astype(str) compare did)
    both_nan = {}
    for c in s.columns:
        sv, ov = s[c], o[c]
        nan = sv.isna() & ov.isna()
        both_nan[c] = int(nan.sum())
        try:
            eq = (sv.astype("object") == ov.astype("object")) | nan
        except Exception:
            eq = (sv == ov) | nan
        bad = (~eq).to_numpy().nonzero()[0]
        if len(bad):
            print(f"MISMATCH in column {c}: {len(bad)} rows, first 5:")
            for i in bad[:5]:
                print(f"  row {i}: spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r} "
                      f"key={s.iloc[i].to_dict()}")
            return 1
    print("both-NaN cells: " + " ".join(f"{c}={n}" for c, n in both_nan.items()))
    print("MATCH")
    return 0


if __name__ == "__main__":
    sys.exit(main())
