#!/usr/bin/env python3
"""Expected row counts and digests of every declared query, from the
DuckDB oracle (`SparkEntry.oracleSql`).

Usage: python3 perfbench/oracle.py <sfDir> <catalog.json> <out.tsv>

<catalog.json> is written by the benchmark JVM (`perfbench.Main catalog`);
run.py produces it under perfbench/.work/. Tables are DuckDB views over
<sfDir>/*.parquet, as in tools/compare.py. Output: one line per query,
`name<TAB>rows<TAB>digest`, sorted by name.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from digest import digest  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main():
    sf_dir, catalog, out = sys.argv[1:4]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(catalog))["oracle_sql"]
    lines = []
    for name in sorted(oracle):
        res = con.execute(oracle[name])
        cols = [c[0] for c in res.description]
        n, d = digest(cols, res.fetchall())
        lines.append(f"{name}\t{n}\t{d}\n")
        print(f"{name} {n} {d}", file=sys.stderr)
    with open(out, "w") as f:
        f.writelines(lines)


if __name__ == "__main__":
    main()
