#!/usr/bin/env python3
"""Recomputes oracle/digests.json: for every batch query the benchmark runs,
the row count and canonical digest of its DuckDB oracle SQL over data/.

    python3 perfbench/oracle.py      # from the repository root, after one
                                     # run has built the harness

The oracle SQL comes from the engine's own `SparkEntry.oracleSql`, read
through the harness (`--workload oracle_sql`)."""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402


def main():
    with open(os.path.join(BENCH, "target", "classpath.txt")) as f:
        classpath = f.read()
    names = sorted(q for qs in run.QUERIES.values() for q in qs)
    data = os.path.join(BENCH, "data")
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as tmp:
        with open(os.path.join(tmp, "queries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        subprocess.run(["java", "-cp", classpath, "perfbench.Main", "--workload", "oracle_sql",
                        "--seconds", "0", "--data", data, "--input", tmp, "--work", tmp,
                        "--cpus", "1"], check=True)
        with open(os.path.join(tmp, "oracle_sql.json")) as f:
            sql = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        con.sql(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM "
                f"'{os.path.join(data, t)}'")
    out = {}
    for q in names:
        rows, digest = run.digest_frame(con.sql(sql[q]).df())
        out[q] = {"rows": rows, "sha256": digest}
        print(q, rows, digest[:12])
    with open(os.path.join(BENCH, "oracle", "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
