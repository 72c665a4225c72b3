"""Output checks. Each returns a list of human-readable failures."""
from collections import Counter


def commit_conservation(setup_files, setup_snapshots, acked, final):
    """After a rest-commit round, each table's current snapshot must hold
    its setup files plus every acknowledged append's files, each exactly
    once, and its snapshot count must be the setup count plus the number
    of acknowledged appends.

    setup_files: table -> files committed during setup
    setup_snapshots: table -> snapshots committed during setup
    acked: [(table, files)] for every acknowledged append
    final: [{table, status, current, snapshots, files}] read back afterwards
    """
    failures = []
    by_table = {}
    for table, files in acked:
        by_table.setdefault(table, []).append(files)
    for state in final:
        t = state["table"]
        if state.get("status") != 200:
            failures.append(f"{t}: final load returned {state.get('status')}")
            continue
        want = Counter(setup_files[t])
        for files in by_table.get(t, []):
            want.update(files)
        got = Counter(state["files"])
        if got != want:
            missing = sorted((want - got).elements())
            extra = sorted((got - want).elements())
            failures.append(f"{t}: current snapshot differs from the acknowledged "
                            f"appends: {len(missing)} missing, {len(extra)} unexpected")
        want_snaps = setup_snapshots[t] + len(by_table.get(t, []))
        if state["snapshots"] != want_snaps:
            failures.append(f"{t}: {state['snapshots']} snapshots, expected {want_snaps}")
    return failures


def last_acked_properties(acks, final, key_of):
    """Each client's property key on each table must end at the value of
    that client's last acknowledged write.

    acks: [(client, table, value)], each client's in the order it sent them
    final: [{table, status, properties}] read back afterwards
    key_of: client -> property key
    """
    last = {}
    for client, table, value in acks:
        last[(client, table)] = value
    props = {s["table"]: s.get("properties", {}) for s in final}
    failures = []
    for (client, table), value in sorted(last.items()):
        got = props.get(table, {}).get(key_of(client))
        if got != value:
            failures.append(f"{table}: {key_of(client)} is {got!r}, last acknowledged {value!r}")
    return failures


def pack_rows(runs, expected):
    """Each measured query must succeed and produce the recorded row count."""
    failures = []
    for r in runs:
        name = r["name"]
        if r["error"]:
            failures.append(f"{name}: {r['error']}")
        elif name not in expected:
            failures.append(f"{name}: no recorded row count")
        elif r["rows"] != expected[name]:
            failures.append(f"{name}: {r['rows']} rows, expected {expected[name]}")
    return failures


def recall_gate(recall, floor=0.8):
    """The program's ANN quality bar: recall@3 of every index at least 0.8."""
    if not recall:
        return ["recall@3 evaluation produced no result"]
    return [f"recall@3 of {k} is {v:.4f} < {floor}" for k, v in sorted(recall.items()) if v < floor]
