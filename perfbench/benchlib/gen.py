"""Workload inputs, generated from the seed.

The same seed always gives the same tables, file names, statistics and
client operation lists; the harness only executes what is generated here.
"""
import random
import uuid

# client operation codes, shared with RestBench.scala
LOAD, LIST, HEAD, COMMIT = 0, 1, 2, 3

NAMESPACES = 4
TABLES_PER_NAMESPACE = 12
SETUP_APPENDS = 16
FILES_PER_APPEND = 8
CLIENTS = 4
ZIPF_S = 1.1
# rest-read op mix: loadTable, listTables, headTable, set-properties commit
READ_MIX = ((LOAD, 80), (LIST, 10), (HEAD, 5), (COMMIT, 5))
# each client cycles through its list; long enough that a run rarely wraps
READ_OPS_PER_CLIENT = 20000
HOT_TABLES = 2
COMMITS_PER_CLIENT = 16
BASE_TS_MS = 1_700_000_000_000


def _files(rng, table, tag):
    """One append's files, each with six stat numbers: id min/max,
    timestamp min/max, null count and row count."""
    files, stats = [], []
    for j in range(FILES_PER_APPEND):
        files.append(f"d/{table}-{tag}-{j}.parquet")
        id_min = rng.randrange(10**6)
        ts_min = rng.randrange(10**6)
        rows = rng.randrange(1000, 10000)
        stats.append([id_min, id_min + rows + rng.randrange(10**4),
                      ts_min, ts_min + rng.randrange(10**4),
                      rng.randrange(50), rows])
    return files, stats


def _table(rng, ns, name):
    appends = []
    for a in range(SETUP_APPENDS):
        files, stats = _files(rng, name, f"s{a:02d}")
        appends.append({"files": files, "stats": stats, "ts": BASE_TS_MS + a})
    return {"ns": ns, "name": name,
            "uuid": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
            "appends": appends}


def zipf_weights(n, s=ZIPF_S):
    return [1.0 / (k + 1) ** s for k in range(n)]


def rest_read(seed):
    rng = random.Random(seed)
    tables = [_table(rng, f"ns{i}", f"ns{i}_t{k:02d}")
              for i in range(NAMESPACES) for k in range(TABLES_PER_NAMESPACE)]
    # Zipf popularity over a seeded ranking of the tables
    ranking = list(range(len(tables)))
    rng.shuffle(ranking)
    weights = zipf_weights(len(tables))
    kinds = [k for k, _ in READ_MIX]
    kind_weights = [w for _, w in READ_MIX]
    clients = []
    for _ in range(CLIENTS):
        ks = rng.choices(kinds, kind_weights, k=READ_OPS_PER_CLIENT)
        ts = rng.choices(ranking, weights, k=READ_OPS_PER_CLIENT)
        clients.append([[k, t] for k, t in zip(ks, ts)])
    return {"workload": "rest-read", "tables": tables, "clients": clients}


def rest_commit(seed):
    rng = random.Random(seed)
    tables = [_table(rng, "hot", f"hot_t{k}") for k in range(HOT_TABLES)]
    cycles = []
    for c in range(CLIENTS):
        # each client splits its commits evenly over the hot tables, in a
        # seeded order, so every round grows every table by the same amount
        order = [i % HOT_TABLES for i in range(COMMITS_PER_CLIENT)]
        rng.shuffle(order)
        mine = []
        for i, t in enumerate(order):
            files, stats = _files(rng, tables[t]["name"], f"c{c}-{i:03d}")
            mine.append({"table": t, "files": files, "stats": stats,
                         "ts": BASE_TS_MS + 10**6 + c * 10**4 + i})
        cycles.append(mine)
    return {"workload": "rest-commit", "tables": tables, "cycles": cycles}
