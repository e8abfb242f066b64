"""Compare a Verify dump against its DuckDB oracles.

    python3 python/oracle_compare.py <verify-dir> <sf-dir>

<verify-dir> is what `runMain graft.Verify <sf-dir> <verify-dir>` wrote: one
parquet directory per query and oracle_sql.json. Each oracle runs in DuckDB
over the sf tables; its rows and the query's dumped rows are compared as
multisets (same column names, both sides sorted by every column). Prints one
line per oracle that differs or is empty on both sides, then a summary, and
exits non-zero if any did.
"""
import json
import os
import sys

import duckdb

TABLES = ["orders", "lineitem", "events", "documents", "embeddings", "customer",
          "nation", "region", "part", "supplier"]


def canonical(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols).reset_index(drop=True)


def main(out, sf):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = []
    for name, sql in sorted(oracles.items()):
        if not os.path.isdir(os.path.join(out, name)):
            bad.append(f"{name}: no dump (the query failed in Verify)")
            continue
        o = canonical(con.sql(sql).df())
        s = canonical(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
        if list(o.columns) != list(s.columns):
            bad.append(f"{name}: columns {list(s.columns)}, oracle {list(o.columns)}")
        elif not o.equals(s):
            bad.append(f"{name}: rows differ ({len(s)} rows, oracle {len(o)})")
        elif len(o) == 0:
            bad.append(f"{name}: empty on both sides")
    for line in bad:
        print(line)
    print(f"{len(oracles) - len(bad)}/{len(oracles)} oracles equal")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
