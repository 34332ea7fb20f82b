#!/usr/bin/env python3
"""Computes the stored oracle results the benchmark checks lane outputs against.

    python3 perfbench/make_oracle.py <oracle_sql.json> [lane ...]

<oracle_sql.json> is the file `graft.Verify` writes next to its dumps (the
DuckDB SQL of every lane, from SparkEntry.oracleSql). Each listed lane's SQL
runs in DuckDB over the benchmark's base tables (perfbench/data/sf0.01); the
result is canonicalised exactly as run.py canonicalises a lane's output, and
its row count and hash are merged into perfbench/oracle/sf0.01.json. With no
lanes listed, every lane already in that file is recomputed.

Run it once when the input or a lane's contract changes; it is too slow to
run inside a benchmark run.
"""
import json
import sys

import duckdb

from run import DATA, ORACLE, digest


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sql = json.load(open(sys.argv[1]))
    stored = json.loads(ORACLE.read_text()) if ORACLE.exists() else {}
    lanes = sys.argv[2:] or sorted(stored)
    con = duckdb.connect()
    for t in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    for lane in lanes:
        stored[lane] = digest(con, sql[lane])
        print(lane, stored[lane], flush=True)
    ORACLE.parent.mkdir(parents=True, exist_ok=True)
    ORACLE.write_text(json.dumps(dict(sorted(stored.items())), indent=1) + "\n")


if __name__ == "__main__":
    main()
