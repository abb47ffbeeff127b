#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query parquet dumped by graft.Verify, runs the matching oracle
SQL from oracle_sql.json in DuckDB over the same sf tables, normalizes
(sort columns by name, sort rows, stringify), and diffs.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything so dtype differences (int32 vs int64,
    # timestamp flavors) don't mask value equality
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            out[c] = s.map(lambda v: "NULL" if pd.isna(v) else f"{v:.10g}")
        elif str(s.dtype).startswith("datetime"):
            out[c] = s.dt.tz_localize(None).map(
                lambda v: "NULL" if pd.isna(v) else v.isoformat())
        else:
            out[c] = s.map(lambda v: "NULL" if v is None or
                           (isinstance(v, float) and pd.isna(v)) else str(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark result ({e})")
            n_fail += 1
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            n_fail += 1
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}")
            n_fail += 1
        elif len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} != {len(e)}")
            n_fail += 1
        elif not g.equals(e):
            diff = (g != e).any(axis=1)
            print(f"FAIL {name}: {int(diff.sum())} mismatched rows; first:")
            idx = diff[diff].index[:3]
            print("  spark:", g.loc[idx].to_dict("records"))
            print("  duck :", e.loc[idx].to_dict("records"))
            n_fail += 1
        else:
            print(f"OK   {name} ({len(g)} rows)")
    print(f"\n{len(oracle) - n_fail}/{len(oracle)} oracle queries match")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
