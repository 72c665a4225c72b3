#!/usr/bin/env python3
"""Record the pack's expected row counts.

    python3 perfbench/record_expected.py

Runs every query of the pack once on perfbench/data/sf0.01 through the
harness, cross-checks each count against DuckDB wherever the program
declares an equivalent SQL query (the oracle), and writes
perfbench/expected_rows.json. Run it once on a tree whose results are
trusted; the benchmark then checks every measured query against it.
Exits non-zero if any query fails or disagrees with DuckDB.
"""
import json
import os
import shutil
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True  # a run writes nothing beside its sources

from benchlib import build, harness, machine  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duckdb_counts(data_dir, oracle, limit_s=30):
    """Row count of each oracle query under DuckDB; a query still running
    after `limit_s` seconds is interrupted and left unchecked."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracle.items()):
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        try:
            out[name] = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        except duckdb.InterruptException:
            print(f"unchecked: {name} ran over {limit_s} s in DuckDB", flush=True)
        finally:
            timer.cancel()
    return out


def main():
    root = os.path.dirname(HERE)
    cp = build.classpath(root)
    data_dir = os.path.join(HERE, "data", "sf0.01")
    spec = {"workload": "pack", "data_dir": data_dir, "queries": ["all"],
            "warm_round": False, "oracle": True}
    work = os.path.join(root, build.BUILD_DIR, "runs", f"record-{os.getpid()}")
    try:
        res = harness.run(cp, spec, work, 0, 0, heap="3g", cores=machine.cores(),
                          timeout_s=1800)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    runs = res["phases"][0]["rounds"][0]["queries"]
    oracle = duckdb_counts(data_dir, res["oracle"])
    problems = [f"{r['name']}: {r['error']}" for r in runs if r["error"]]
    problems += [f"{r['name']}: {r['rows']} rows, DuckDB {oracle[r['name']]}"
                 for r in runs if r["name"] in oracle and oracle[r["name"]] != r["rows"]]
    out = {"data": "perfbench/data/sf0.01",
           "rows": {r["name"]: r["rows"] for r in sorted(runs, key=lambda r: r["name"])},
           "duckdb_checked": sorted(oracle),
           "duckdb_unchecked": sorted(set(res["oracle"]) - set(oracle)),
           "cold_s": {r["name"]: round(r["total_s"], 3) for r in sorted(runs, key=lambda r: r["name"])},
           "family": {r["name"]: r["family"] for r in sorted(runs, key=lambda r: r["name"])}}
    with open(os.path.join(HERE, "expected_rows.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(runs)} queries recorded, {len(oracle)} cross-checked with DuckDB, "
          f"{len(problems)} problems")
    for p in problems:
        print("problem: " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
