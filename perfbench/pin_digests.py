#!/usr/bin/env python3
"""Pin operator_suite's expected result digests.

    python3 perfbench/pin_digests.py [results_dir]

For every query of the suite that has oracle SQL, runs the frozen
`SparkEntry.oracleSql` in DuckDB over perfbench/data/sf0.01 and stores the
digest of DuckDB's answer (tools/local_verify.py's canonicalization). The
spec-pinned queries have no oracle SQL; their digests are taken from the
engine's own output in `results_dir` (a run's results directory), which is
only valid on code whose specs pass. Writes expected/operator_digests.json.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from benchlib import digest  # noqa: E402


def main():
    import duckdb
    cp = run.build()
    os.makedirs(run.WORK, exist_ok=True)
    sql_path = os.path.join(run.WORK, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--workload", "oracle_sql",
                    "--out", sql_path], check=True)
    with open(sql_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for name in sorted(os.listdir(run.DATA)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(run.DATA, name)}')")
    results = sys.argv[1] if len(sys.argv) > 1 else None
    out = {}
    for q in run.SUITE:
        if q in oracle:
            out[q] = dict(digest.digest(con.sql(oracle[q]).df()), source="duckdb oracle")
        elif results:
            out[q] = dict(digest.parquet_digest(con, os.path.join(results, q, "*.parquet")),
                          source="engine output, spec-pinned query")
        else:
            raise SystemExit(f"{q} has no oracle SQL; pass a results directory")
        print(q, out[q]["rows"], out[q]["source"])
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        json.dump({"data": "sf0.01", "digests": out}, f, indent=1, sort_keys=True)
    run.sweep()


if __name__ == "__main__":
    main()
