#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: reads the Verify output
dir (per-query parquet + oracle_sql.json), runs each oracle in DuckDB over
the sf tables, and compares row counts, name-sorted columns, and values.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not oracle:
        # an empty map would read "0 pass, 0 fail": a Verify run that
        # wrote no oracles has checked nothing
        print(f"no oracle queries in {out_dir}/oracle_sql.json", file=sys.stderr)
        return 1
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            spark_df = canon(pd.read_parquet(f"{out_dir}/{name}"))
            duck_df = canon(con.sql(sql).df())
            ok_cols = list(spark_df.columns) == list(duck_df.columns)
            ok_rows = len(spark_df) == len(duck_df)
            ok_vals = False
            if ok_cols and ok_rows:
                # compare stringified values (tolerant of int32/int64 dtype
                # gaps but exact on content)
                a = spark_df.astype(str).values
                b = duck_df.astype(str).values
                ok_vals = (a == b).all()
            status = "PASS" if (ok_cols and ok_rows and ok_vals) else "FAIL"
            if status == "PASS":
                n_pass += 1
            else:
                n_fail += 1
                print(f"[{status}] {name}: cols={ok_cols} rows={ok_rows} "
                      f"({len(spark_df)} vs {len(duck_df)}) vals={ok_vals}")
                if not ok_cols:
                    print(f"    spark cols: {list(spark_df.columns)}")
                    print(f"    duck  cols: {list(duck_df.columns)}")
                elif ok_rows and not ok_vals:
                    diff = (spark_df.astype(str).values
                            != duck_df.astype(str).values)
                    idx = list(zip(*diff.nonzero()))[:5]
                    for r, c in idx:
                        cn = spark_df.columns[c]
                        print(f"    row {r} col {cn}: spark="
                              f"{spark_df.iloc[r, c]!r} duck={duck_df.iloc[r, c]!r}")
                continue
            print(f"[{status}] {name} ({len(spark_df)} rows)")
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"[ERROR] {name}: {e}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
