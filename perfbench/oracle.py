#!/usr/bin/env python3
"""Recompute the expected answers in perfbench/faces.txt.

For each listed face, runs its `graft.SparkEntry.oracleSql` DuckDB oracle
over the generated input tables and stores the row count and the
canonical hash (tools/check.py's canon_hash, mirrored by the harness's
Canon). Run it from the repository root after changing the face list or
perfbench/gen_data.py:

    python3 perfbench/oracle.py
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check import TABLES, canon_hash  # noqa: E402

FACES = os.path.join(run.HERE, "faces.txt")


def main():
    jars = run.spark_jars()
    classpath = run.build(jars) + jars
    data = run.data()
    lines = open(FACES).read().splitlines()
    entries = [l.split() for l in lines if l.strip() and not l.startswith("#")]
    names = [e[1] for e in entries]
    sql = json.loads(subprocess.check_output(
        ["java", "-cp", os.pathsep.join(classpath), "perfbench.DumpOracles"]
        + names, text=True).strip().splitlines()[-1])
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    out = []
    for l in lines:
        if not l.strip() or l.startswith("#"):
            out.append(l)
            continue
        group, name = l.split()[:2]
        if sql.get(name) is None:
            sys.exit(f"{name}: no oracle SQL")
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out.append(f"{group} {name} {len(rows)} {canon_hash(cols, rows)[1]}")
        print(out[-1])
    open(FACES, "w").write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
