#!/usr/bin/env python3
"""Run one benchmark workload and print its figures.

    python3 perfbench/run.py --workload <pack|rest-read|rest-commit>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness (perfbench/build.sbt) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run starts a fresh JVM with
its own scratch directory under .bench_build/runs/, deleted afterwards.

Output: one `metric <name> <value> <unit> n=<samples>` line per
end-to-end figure of the workload, one `run {...}` line with the
machine's state, then, as the last line, the JSON result: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. See
perfbench/README.md for what each workload and metric means.
"""
import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True  # a run writes nothing beside its sources

from benchlib import build, gen, harness, machine, metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pack", "rest-read", "rest-commit")
# a run must end within this many seconds once the build is done
RUN_BUDGET_S = 170
# warehouse builds per run for the setup median; the pack's Spark setup
# runs once (see README.md)
SETUPS = {"pack": 1, "rest-read": 2, "rest-commit": 3}
HEAP = {"pack": "3g", "rest-read": "2g", "rest-commit": "3g"}
# Spark in the pack gets half the cores: at sf0.01 they are busy a small
# share of the wall, and the other half absorbs GC, JIT and co-tenant load
# that otherwise swings the pack's timings from run to run (README.md)


def pack_spec():
    with open(os.path.join(HERE, "pack_queries.json")) as fh:
        queries = json.load(fh)["queries"]
    return {"workload": "pack", "data_dir": os.path.join(HERE, "data", "sf0.01"),
            "queries": queries}


def expected_rows():
    with open(os.path.join(HERE, "expected_rows.json")) as fh:
        return json.load(fh)["rows"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    missing = build.missing_sources(root)
    if missing:
        sys.stderr.write(f"cannot build the program: {', '.join(missing)} missing under {root}\n")
        return 2
    cp = build.classpath(root)

    state0 = machine.snapshot()
    t0 = time.monotonic()
    # the pack's inputs are the fixed test tables: the seed has no effect there
    spec = pack_spec() if a.workload == "pack" else (
        gen.rest_read(a.seed) if a.workload == "rest-read" else gen.rest_commit(a.seed))
    work = os.path.join(root, build.BUILD_DIR, "runs", f"{a.workload}-{os.getpid()}")
    try:
        res = harness.run(cp, spec, work, a.seconds, a.trace,
                          heap=HEAP[a.workload],
                          setups=SETUPS[a.workload],
                          cores=max(1, machine.cores() // 2),
                          timeout_s=RUN_BUDGET_S - (time.monotonic() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = machine.record(state0, machine.snapshot())

    if a.workload == "pack":
        attempted, failures = metrics.pack_checks(res, expected_rows())
        e2e, summary = metrics.pack_end_to_end(res)
    else:
        attempted, failures = metrics.rest_checks(a.workload, res)
        e2e, summary = metrics.rest_end_to_end(a.workload, res)
    failed = min(len(failures), attempted)
    summary["failed_share"] = (failed / attempted, "ratio", attempted)

    for f in failures[:20]:
        print(f"check failed: {f}")
    for name, (value, unit, n) in summary.items():
        print(f"metric {name} {value:.6g} {unit} n={n}")
    print("run " + json.dumps(dict(record, workload=a.workload, seed=a.seed,
                                   seconds=a.seconds, trace=a.trace)))

    if a.trace:
        # the spans and raw samples of the last traced run of each workload
        traces = os.path.join(root, build.BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}.json"), "w") as fh:
            json.dump(res, fh)
        values = metrics.per_layer(a.workload, res, failed / attempted)
        units = metrics.PER_LAYER
    else:
        values, units = e2e, metrics.END_TO_END
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
