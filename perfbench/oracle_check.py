#!/usr/bin/env python3
"""Cross-check the benchmark's query results against the DuckDB oracle SQL.

    python3 perfbench/run.py --workload lakehouse_queries --dump DUMP [--scale SF]
    python3 perfbench/oracle_check.py DUMP

`--dump` generates the benchmark tables into DUMP/tables, writes every
benchmark query's Spark result to DUMP/<query>/ (parquet) with its oracle SQL
(DUMP/oracle_sql.json) and its result hash (DUMP/spark_hashes.json), and
reports which hashes differ from perfbench/expected/query_hashes.json. This
script runs each oracle query in DuckDB over the same tables and compares the
rows exactly: columns by name, rows sorted, values as (type, text) pairs.
Exit code 1 if any query differs.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(None if r[i] is None else (type(r[i]).__name__, str(r[i])) for i in idx)
           for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t)), [cols[i] for i in idx]


def near(a, b):
    if a == b:
        return True
    if a is None or b is None or a[0] != "float" or b[0] != "float":
        return False
    return math.isclose(float(a[1]), float(b[1]), rel_tol=1e-9, abs_tol=1e-9)


def main():
    dump = Path(sys.argv[1])
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        d = dump / "tables" / f"{t}.parquet"
        if d.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    bad = 0
    for name, sql in oracle.items():
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{dump / name}/*.parquet')")
            g, gc = canon(got.fetchall(), got.columns)
            exp = con.sql(sql)
            e, ec = canon(exp.fetchall(), exp.columns)
        except duckdb.Error as err:
            print(f"FAIL {name}: {err}")
            bad += 1
            continue
        if gc != ec or len(g) != len(e):
            print(f"FAIL {name}: columns {gc} vs {ec}, rows {len(g)} vs {len(e)}")
            bad += 1
            continue
        diff = next(((gr, er) for gr, er in zip(g, e) if gr != er), None)
        if diff is None:
            print(f"PASS {name} ({len(g)} rows)")
        elif all(near(a, b) for a, b in zip(*diff)):
            print(f"NEAR {name}: float last-digit difference {diff}")
        else:
            print(f"FAIL {name}: first differing row\n  spark : {diff[0]}\n  oracle: {diff[1]}")
            bad += 1
    print(f"== {len(oracle) - bad} pass / {bad} fail ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
