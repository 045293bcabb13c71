#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: read the Verify
output dir (per-query parquet + oracle_sql.json), run each oracle in
DuckDB against the same sf parquet tables, and compare row count,
sorted-column-name schema, and value hash.

Oracles run with their CTEs MATERIALIZED (perfbench/oracle.py's
`materialized`): DuckDB otherwise inlines each CTE into every
reference, and the composed `pipe_*` oracles then exhaust memory. An
oracle with a named WINDOW clause runs as written, because the rewrite
would mark `WINDOW w AS (...)` too. The DuckDB memory limit is fixed
so a runaway oracle fails instead of taking the host's memory.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json
import math
import re
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
from oracle import materialized  # noqa: E402

MEMORY_LIMIT = "3GB"
NAMED_WINDOW = re.compile(r"\bWINDOW\s+\w+\s+AS\s*\(", re.I)


def runnable(sql: str) -> str:
    return sql if NAMED_WINDOW.search(sql) else materialized(sql)

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell values to stable strings
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(v)
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    return df.map(cell)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    n_pass = n_fail = n_skip = 0
    for name in sorted(p.name for p in Path(out_dir).iterdir() if p.is_dir()):
        try:
            mine = pd.read_parquet(Path(out_dir, name))
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"skip {name}: rows-only ({len(mine)} rows)")
            n_skip += 1
            continue
        try:
            ref = con.execute(runnable(oracles[name])).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        a, b = canon(mine), canon(ref)
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs oracle {len(b)}")
            n_fail += 1
            continue
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: cols {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
            continue
        # order-insensitive compare: sort rows by all columns
        a = a.sort_values(list(a.columns)).reset_index(drop=True)
        b = b.sort_values(list(b.columns)).reset_index(drop=True)
        if a.equals(b):
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
        else:
            diff = (a != b).any(axis=1)
            idx = diff[diff].index[:3]
            print(f"FAIL {name}: value mismatch at rows {list(idx)}")
            for i in idx:
                print(f"  spark:  {a.loc[i].to_dict()}")
                print(f"  oracle: {b.loc[i].to_dict()}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
