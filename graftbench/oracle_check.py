#!/usr/bin/env python3
"""Compare checked query outputs with DuckDB running each query's oracle SQL.

Usage: oracle_check.py CHECKDIR TABLEDIR

CHECKDIR holds one parquet directory per query and `oracle_sql.json`
(query -> SQL). TABLEDIR holds the input tables as `<name>.parquet`.
The rule: sort columns by name, sort rows, compare every value as a
string. Prints `OK <query>` or `FAIL <query>: <why>` per query and
exits 1 if any query failed.
"""
import glob
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(check_dir, table_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        files = glob.glob(f"{table_dir}/{t}.parquet/*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    with open(f"{check_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    failed = 0
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - report any oracle error by name
            print(f"FAIL {name}: oracle SQL error: {e}".replace("\n", " "))
            failed += 1
            continue
        files = glob.glob(f"{check_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no output")
            failed += 1
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        ec, gc = sorted(exp.columns), sorted(got.columns)
        if ec != gc:
            print(f"FAIL {name}: columns {gc} vs oracle {ec}")
            failed += 1
            continue
        e = exp[ec].sort_values(ec).reset_index(drop=True)
        g = got[gc].sort_values(gc).reset_index(drop=True)
        if len(e) != len(g):
            print(f"FAIL {name}: {len(g)} rows vs oracle {len(e)}")
            failed += 1
            continue
        bad = (e.astype(str) != g.astype(str)).any(axis=1)
        if bad.any():
            i = bad[bad].index[0]
            print(f"FAIL {name}: {int(bad.sum())}/{len(e)} rows differ; first oracle "
                  f"{e.loc[i].to_dict()} spark {g.loc[i].to_dict()}".replace("\n", " ")[:600])
            failed += 1
            continue
        print(f"OK {name}: {len(e)} rows")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
