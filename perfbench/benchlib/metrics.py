"""Turn a harness result document into the benchmark's figures.

Every function here is pure: it reads the result the JVM wrote and
returns numbers. ``END_TO_END`` and ``PER_LAYER`` name every metric the
benchmark reports, with its unit; BENCHMARK.json lists the same names.
A workload reports every metric; a per-layer metric of a layer the
workload never enters reads 0.
"""
import statistics

from . import checks, stats

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

FAMILIES = ("ops.relational", "ops.windows", "ops.scalars", "ops.catalog_queries",
            "ops.extended", "llm.dedup", "llm.similarity", "llm.text_analysis",
            "llm.multimodal", "llm.curation", "stream.streaming")

PER_LAYER = {
    "pack.construct_s": "s", "pack.construct_jobs": "count",
    **{f"{f}.{k}": u for f in FAMILIES
       for k, u in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"), ("task_s", "s"))},
    "pack.analysis_s": "s", "pack.optimization_s": "s", "pack.planning_s": "s",
    "pack.execute_s": "s", "pack.task_s": "s", "pack.core_busy_ratio": "ratio",
    "pack.action_jobs": "count", "pack.stages": "count", "pack.tasks": "count",
    "pack.shuffle_read_mb": "MB", "pack.shuffle_write_mb": "MB", "pack.spill_mb": "MB",
    "pack.peak_exec_mem_mb": "MB", "pack.failed_tasks": "count",
    "setup.session_s": "s", "setup.warehouses_s": "s", "setup.ann_index_s": "s",
    "setup.band_index_s": "s", "setup.stream_init_s": "s", "setup.warm_round_s": "s",
    "setup.catalog_s": "s",
    "server.read_self_ms": "ms", "server.commit_self_ms": "ms",
    "server.read_resp_kb": "KB", "server.commit_req_kb": "KB",
    "catalog.list_ms": "ms",
    "commit.commit_ms": "ms", "commit.self_ms": "ms", "commit.attempts_per_commit": "ratio",
    "commit.cas_conflict_ratio": "ratio", "commit.backoff_ms": "ms", "commit.apply_ms": "ms",
    "meta.load_ms": "ms", "meta.loads_per_read": "ratio", "meta.loads_per_commit": "ratio",
    "meta.version_scans_per_op": "ratio", "meta.dir_entries_per_scan": "count",
    "meta.cas_ms": "ms", "meta.bytes_written_per_commit": "bytes", "meta.version_doc_kb": "KB",
    "meta.to_json_ms": "ms", "meta.from_json_ms": "ms",
    "failed_share": "ratio",
    "trace.overhead_share": "ratio",
}

# client operation kinds (RestBench.scala) and the span kinds they map to
LOAD, READS, COMMIT = 0, (0, 1, 2), 3
READ_SPAN_KINDS = ("read", "list", "head")

MB = 1024.0 * 1024.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def _latency_ms(op):
    return (op[3] - op[2]) / 1000.0


def _tail(name, values, unit):
    """The median plus the highest percentile with >= 10 samples beyond,
    as summary entries (value, unit, samples) named after the percentile."""
    out = {}
    if not values:
        return out
    out[f"{name}_p50_{unit}"] = (stats.percentile(values, 50), unit, len(values))
    p = stats.tail_percentile(len(values))
    if p is not None and p > 50:
        label = f"{p:g}".replace(".", "_")
        out[f"{name}_p{label}_{unit}"] = (stats.percentile(values, p), unit, len(values))
    return out


# ---- catalog plane ---------------------------------------------------------

def rest_rounds(res, phase_name):
    """The rounds of every phase with this name (warmup, untraced or
    traced), in one shape: dicts with wall_s, ops, spans,
    bytes_before/after and acked count."""
    out = []
    for phase in res["phases"]:
        if phase["phase"] != phase_name:
            continue
        if "rounds" in phase:
            out += [dict(r, acked_n=len(r["acked"])) for r in phase["rounds"]]
        else:
            acked = sum(1 for op in phase["ops"] if op[1] == COMMIT and op[4])
            out.append(dict(phase, acked_n=acked))
    return out


def rest_checks(workload, res):
    """(attempted, failures) over every operation and output check."""
    ops = [op for name in {p["phase"] for p in res["phases"]}
           for r in rest_rounds(res, name) for op in r["ops"]]
    failures = [f"op {op[1]} of client {op[0]} failed or returned wrong output"
                for op in ops if not op[4]]
    attempted = len(ops)
    if workload == "rest-read":
        acks = [tuple(a) for a in res["acks"]]
        attempted += len({(c, t) for c, t, _ in acks})
        failures += checks.last_acked_properties(acks, res["final"], lambda c: f"perfbench.client.{c}")
        for s in res["final"]:
            want = res["expected_snapshot"].get(s["table"])
            if s.get("current") != want:
                attempted += 1
                failures.append(f"{s['table']}: current snapshot {s.get('current')}, expected {want}")
    else:
        for p in res["phases"]:
            for r in p["rounds"]:
                attempted += len(r["final"])
                failures += checks.commit_conservation(
                    res["setup_files"], res["setup_snapshots"],
                    [(t, fs) for t, fs in r["acked"]], r["final"])
    return attempted, failures


def rest_end_to_end(workload, res):
    rounds = rest_rounds(res, "untraced")
    ops = [op for r in rounds for op in r["ops"]]
    wall = sum(r["wall_s"] for r in rounds)
    primary = READS if workload == "rest-read" else (COMMIT,)
    lat = [_latency_ms(op) for op in ops if op[1] in primary]
    e2e = {
        "setup_s": res["jvm_startup_s"] + statistics.median(res["setup_s"]),
        "ops_per_s": len(ops) / wall,
        "op_p50_ms": stats.percentile(lat, 50),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }
    reads = [_latency_ms(op) for op in ops if op[1] in READS]
    commits = [_latency_ms(op) for op in ops if op[1] == COMMIT]
    acked = sum(r["acked_n"] for r in rounds)
    summary = {"setup_s": (e2e["setup_s"], "s", len(res["setup_s"])),
               "ops_per_s": (e2e["ops_per_s"], "1/s", len(ops)),
               **_tail("read", reads, "ms"), **_tail("commit", commits, "ms"),
               "meta_bytes_per_commit": (_ratio(sum(r["bytes_after"] - r["bytes_before"]
                                                    for r in rounds), acked), "bytes", acked),
               "peak_rss_mb": (e2e["peak_rss_mb"], "MB", 1)}
    return e2e, summary


def rest_per_layer(res):
    rounds = rest_rounds(res, "traced")
    acc = {k: 0.0 for k in (
        "reads", "commits", "ops", "read_rtt", "commit_rtt", "read_child", "commit_child",
        "load_resp", "loads", "commit_req", "acked", "bytes", "backoff", "apply")}
    durs = {}   # span name -> list of durations (us)
    counts = {}  # (span name, kind) -> count
    dir_samples, doc_sizes, cas_lost, cas_n, commit_spans = [], [], 0, 0, 0
    commit_self = 0.0
    for r in rounds:
        ops = r["ops"]
        acc["ops"] += len(ops)
        acc["acked"] += r["acked_n"]
        acc["bytes"] += r["bytes_after"] - r["bytes_before"]
        for op in ops:
            if op[1] == COMMIT:
                acc["commits"] += 1
                acc["commit_rtt"] += _latency_ms(op)
                acc["commit_req"] += op[5]
            else:
                acc["reads"] += 1
                acc["read_rtt"] += _latency_ms(op)
                if op[1] == LOAD:
                    acc["loads"] += 1
                    acc["load_resp"] += op[6]
        spans = [dict(zip(("id", "parent", "name", "start", "end", "thread", "kind", "n"), s))
                 for s in r["spans"]]
        children = {}
        for s in spans:
            d = s["end"] - s["start"]
            durs.setdefault(s["name"], []).append(d)
            counts[(s["name"], s["kind"])] = counts.get((s["name"], s["kind"]), 0) + 1
            children.setdefault(s["parent"], []).append(s)
            if s["parent"] == 0:
                acc["commit_child" if s["kind"] == "commit" else "read_child"] += d / 1000.0
            if s["name"] == "meta.dir_sample":
                dir_samples.append(s["n"])
            elif s["name"] == "meta.version_doc":
                doc_sizes.append(s["n"])
        own = stats.self_times(spans)
        for s in spans:
            if s["name"] != "commit.commit":
                continue
            commit_spans += 1
            commit_self += own[s["id"]] / 1000.0
            steps = sorted((c for c in children.get(s["id"], [])
                            if c["name"] in ("meta.load", "meta.cas")), key=lambda c: c["start"])
            for prev, cur in zip(steps, steps[1:]):
                if prev["name"] == "meta.load" and cur["name"] == "meta.cas":
                    acc["apply"] += (cur["start"] - prev["end"]) / 1000.0
                elif prev["name"] == "meta.cas" and cur["name"] == "meta.load" and prev["n"] == 0:
                    acc["backoff"] += (cur["start"] - prev["end"]) / 1000.0
            for c in steps:
                if c["name"] == "meta.cas":
                    cas_n += 1
                    cas_lost += c["n"] == 0

    def mean_ms(name):
        return _mean(durs.get(name, [])) / 1000.0

    def count(name, kinds=None):
        return sum(v for (n, k), v in counts.items() if n == name and (kinds is None or k in kinds))

    untraced = rest_rounds(res, "untraced")
    rate = lambda rs: sum(len(r["ops"]) for r in rs) / sum(r["wall_s"] for r in rs)
    scans = count("meta.load") + count("meta.exists") + count("meta.version")
    serde = res.get("serde") or {}
    return {
        "setup.catalog_s": statistics.median(res["setup_s"]),
        "server.read_self_ms": _ratio(acc["read_rtt"] - acc["read_child"], acc["reads"]),
        "server.commit_self_ms": _ratio(acc["commit_rtt"] - acc["commit_child"], acc["commits"]),
        "server.read_resp_kb": _ratio(acc["load_resp"], acc["loads"]) / 1024.0,
        "server.commit_req_kb": _ratio(acc["commit_req"], acc["commits"]) / 1024.0,
        "catalog.list_ms": mean_ms("catalog.list"),
        "commit.commit_ms": mean_ms("commit.commit"),
        "commit.self_ms": _ratio(commit_self, commit_spans),
        "commit.attempts_per_commit": _ratio(cas_n, commit_spans),
        "commit.cas_conflict_ratio": _ratio(cas_lost, cas_n),
        "commit.backoff_ms": _ratio(acc["backoff"], commit_spans),
        "commit.apply_ms": _ratio(acc["apply"], cas_n),
        "meta.load_ms": mean_ms("meta.load"),
        "meta.loads_per_read": _ratio(count("meta.load", READ_SPAN_KINDS), acc["reads"]),
        "meta.loads_per_commit": _ratio(count("meta.load", ("commit",)), acc["commits"]),
        "meta.version_scans_per_op": _ratio(scans, acc["ops"]),
        "meta.dir_entries_per_scan": _mean(dir_samples),
        "meta.cas_ms": mean_ms("meta.cas"),
        "meta.bytes_written_per_commit": _ratio(acc["bytes"], acc["acked"]),
        "meta.version_doc_kb": _mean(doc_sizes) / 1024.0,
        "meta.to_json_ms": serde.get("to_json_ms", 0.0),
        "meta.from_json_ms": serde.get("from_json_ms", 0.0),
        "trace.overhead_share": rate(untraced) / rate(rounds) - 1.0,
    }


# ---- query plane -----------------------------------------------------------

def pack_rounds(res, phase_name):
    return [r for p in res["phases"] if p["phase"] == phase_name for r in p["rounds"]]


def pack_checks(res, expected):
    runs = [q for p in res["phases"] for r in p["rounds"] for q in r["queries"]]
    failures = checks.pack_rows(runs, expected) + checks.recall_gate(res["recall"])
    return len(runs) + 1, failures


def pack_setup_s(res):
    return res["jvm_startup_s"] + sum(res["setup_parts"].values())


def pack_end_to_end(res):
    rounds = pack_rounds(res, "untraced")
    runs = [q for r in rounds for q in r["queries"]]
    walls = [q["total_s"] for q in runs]
    e2e = {
        "setup_s": pack_setup_s(res),
        "ops_per_s": len(rounds[0]["queries"]) / statistics.median(r["wall_s"] for r in rounds),
        "op_p50_ms": stats.percentile(walls, 50) * 1000.0,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }
    summary = {"setup_s": (e2e["setup_s"], "s", 1),
               "pack_s": (statistics.median(r["wall_s"] for r in rounds), "s", len(rounds)),
               **_tail("query", walls, "s"),
               "peak_rss_mb": (e2e["peak_rss_mb"], "MB", 1)}
    return e2e, summary


def pack_per_layer(res):
    rounds = pack_rounds(res, "traced")
    n = len(rounds)
    runs = [q for r in rounds for q in r["queries"]]
    c = lambda q, i: q["construct_counters"][i] + q["execute_counters"][i]
    out = {
        "pack.construct_s": sum(q["construct_s"] for q in runs) / n,
        "pack.construct_jobs": sum(q["construct_counters"][0] for q in runs) / n,
        "pack.analysis_s": sum(q["analysis_ms"] for q in runs) / 1000.0 / n,
        "pack.optimization_s": sum(q["optimization_ms"] for q in runs) / 1000.0 / n,
        "pack.planning_s": sum(q["planning_ms"] for q in runs) / 1000.0 / n,
        "pack.execute_s": sum(q["total_s"] - q["construct_s"] for q in runs) / n,
        "pack.task_s": sum(c(q, 3) for q in runs) / 1e9 / n,
        "pack.core_busy_ratio": sum(c(q, 3) for q in runs) / 1e9
        / (res["cores"] * sum(r["wall_s"] for r in rounds)),
        "pack.action_jobs": sum(q["execute_counters"][0] for q in runs) / n,
        "pack.stages": sum(c(q, 1) for q in runs) / n,
        "pack.tasks": sum(c(q, 2) for q in runs) / n,
        "pack.shuffle_read_mb": sum(c(q, 4) for q in runs) / MB / n,
        "pack.shuffle_write_mb": sum(c(q, 5) for q in runs) / MB / n,
        "pack.spill_mb": sum(c(q, 6) for q in runs) / MB / n,
        "pack.peak_exec_mem_mb": max(max(q["construct_counters"][7], q["execute_counters"][7])
                                     for q in runs) / MB,
        "pack.failed_tasks": sum(c(q, 8) for q in runs) / n,
        **{f"setup.{k}": v for k, v in res["setup_parts"].items()},
    }
    for f in FAMILIES:
        mine = [q for q in runs if q["family"] == f]
        out[f"{f}.construct_s"] = sum(q["construct_s"] for q in mine) / n
        out[f"{f}.execute_s"] = sum(q["total_s"] - q["construct_s"] for q in mine) / n
        out[f"{f}.jobs"] = sum(c(q, 0) for q in mine) / n
        out[f"{f}.task_s"] = sum(c(q, 3) for q in mine) / 1e9 / n
    untraced = pack_rounds(res, "untraced")
    out["trace.overhead_share"] = (statistics.median(r["wall_s"] for r in rounds)
                                   / statistics.median(r["wall_s"] for r in untraced) - 1.0)
    return out


def per_layer(workload, res, failed_share):
    """Every per-layer metric: computed where the workload enters the
    layer, 0 where it does not."""
    out = {name: 0.0 for name in PER_LAYER}
    out.update(pack_per_layer(res) if workload == "pack" else rest_per_layer(res))
    out["failed_share"] = failed_share
    return out
