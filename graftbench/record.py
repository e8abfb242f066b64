"""Re-record the inventory workload's expected outputs.

    python3 graftbench/record.py

Runs every inventory query once over the sf0.1 tables, writes each query's
row count and content hash to graftbench/expected/inventory.tsv, and
cross-checks the dumped outputs against the queries' DuckDB oracles
(SparkEntry.oracleSql / oracleSqlDynamic): same columns, same rows. Exits
non-zero, and writes nothing, if any oracle disagrees. Only needed when a
change is meant to alter a query's output.
"""
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["orders", "lineitem", "events", "documents", "embeddings", "customer",
          "nation", "region", "part", "supplier"]


def main():
    os.chdir(build.ROOT)
    cp = build.build()
    dump = os.path.join(build.OUT, "record")
    os.makedirs(dump, exist_ok=True)
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={dump}"]
    cmd += [a for p in run.ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graftbench.Record", run.sf_dir(), dump, str(run.nproc())]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = [ln for ln in out.splitlines() if ln.count("\t") == 2]
    print("\n".join(lines), flush=True)

    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.sf_dir()}/{t}.parquet'")
    oracles = json.load(open(os.path.join(dump, "oracle_sql.json")))
    bad = []
    for name, sql in sorted(oracles.items()):
        t0 = time.time()
        o = con.sql(sql).df()
        s = con.sql(f"SELECT * FROM '{dump}/{name}/*.parquet'").df()
        cols = sorted(o.columns)
        same = cols == sorted(s.columns)
        if same:
            o = o[cols].sort_values(by=cols).reset_index(drop=True)
            s = s[cols].sort_values(by=cols).reset_index(drop=True)
            same = o.equals(s)
        print(f"oracle {name}: {'agrees' if same else 'DISAGREES'} ({len(o)} rows, "
              f"{time.time() - t0:.1f}s)", flush=True)
        if not same:
            bad.append(name)
    if bad:
        print("not recorded: oracle mismatch in " + ", ".join(bad), file=sys.stderr)
        return 1
    path = os.path.join(build.ROOT, "graftbench", "expected", "inventory.tsv")
    with open(path, "w") as fh:
        fh.write("# query\trows\thash (graftbench/record.py; oracle-checked: "
                 + ", ".join(sorted(oracles)) + ")\n")
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {len(lines)} queries to {os.path.relpath(path, build.ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
