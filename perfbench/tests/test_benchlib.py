"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import checks, gen, metrics, stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_samples_beyond_the_chosen_percentile(self):
        for n in (20, 57, 100, 250, 1000, 4321):
            p = stats.tail_percentile(n)
            values = list(range(n))
            cut = stats.percentile(values, p)
            self.assertGreaterEqual(sum(v > cut for v in values), 10)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(stats.percentile([7], 99), 7)


class SelfTime(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "start": start, "end": end}

    def test_nested_spans(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),  # overlapping children
                 self.span(4, 1, 90, 120),                          # runs past its parent
                 self.span(5, 2, 12, 28),                           # grandchild
                 self.span(6, 0, 200, 210)]
        got = stats.self_times(spans)
        # children of 1 cover [10, 50] and [90, 100]
        self.assertEqual(got[1], 100 - 40 - 10)
        self.assertEqual(got[2], 20 - 16)
        self.assertEqual(got[3], 30)
        self.assertEqual(got[4], 30)
        self.assertEqual(got[5], 16)
        self.assertEqual(got[6], 10)

    def test_self_times_sum_to_root_coverage(self):
        spans = [self.span(1, 0, 0, 50), self.span(2, 1, 5, 15), self.span(3, 1, 20, 40),
                 self.span(4, 3, 25, 30)]
        self.assertEqual(sum(stats.self_times(spans).values()), 50)


class Generation(unittest.TestCase):
    def test_same_seed_same_operations(self):
        self.assertEqual(gen.rest_read(7), gen.rest_read(7))
        self.assertEqual(gen.rest_commit(7), gen.rest_commit(7))

    def test_seed_changes_operations(self):
        self.assertNotEqual(gen.rest_read(7)["clients"], gen.rest_read(8)["clients"])
        self.assertNotEqual(gen.rest_commit(7)["cycles"], gen.rest_commit(8)["cycles"])

    def test_read_mix_and_sizes(self):
        spec = gen.rest_read(3)
        self.assertEqual(len(spec["tables"]), 48)
        self.assertTrue(all(len(t["appends"]) == 16 for t in spec["tables"]))
        ops = [op for c in spec["clients"] for op in c]
        share = sum(op[0] == gen.LOAD for op in ops) / len(ops)
        self.assertAlmostEqual(share, 0.80, delta=0.01)

    def test_commit_files_are_unique(self):
        spec = gen.rest_commit(3)
        files = [f for t in spec["tables"] for a in t["appends"] for f in a["files"]]
        files += [f for c in spec["cycles"] for cy in c for f in cy["files"]]
        self.assertEqual(len(files), len(set(files)))


class CommitConservation(unittest.TestCase):
    def setUp(self):
        self.setup_files = {"t": ["s0", "s1"]}
        self.setup_snaps = {"t": 1}
        self.acked = [("t", ["a0", "a1"]), ("t", ["b0"])]

    def final(self, files, snapshots):
        return [{"table": "t", "status": 200, "files": files, "snapshots": snapshots}]

    def test_holds(self):
        final = self.final(["s0", "s1", "a0", "a1", "b0"], 3)
        self.assertEqual(checks.commit_conservation(
            self.setup_files, self.setup_snaps, self.acked, final), [])

    def test_fails_when_an_acknowledged_append_is_dropped(self):
        final = self.final(["s0", "s1", "a0", "a1"], 2)
        failures = checks.commit_conservation(
            self.setup_files, self.setup_snaps, self.acked, final)
        self.assertEqual(len(failures), 2)
        self.assertIn("1 missing", failures[0])

    def test_fails_on_a_duplicated_file(self):
        final = self.final(["s0", "s1", "a0", "a1", "b0", "b0"], 3)
        self.assertEqual(len(checks.commit_conservation(
            self.setup_files, self.setup_snaps, self.acked, final)), 1)


class PropertyCheck(unittest.TestCase):
    def test_last_acknowledged_value_wins(self):
        acks = [(0, "t", "0-1"), (1, "t", "0-2"), (0, "t", "0-5")]
        key = lambda c: f"k{c}"
        good = [{"table": "t", "properties": {"k0": "0-5", "k1": "0-2"}}]
        stale = [{"table": "t", "properties": {"k0": "0-1", "k1": "0-2"}}]
        self.assertEqual(checks.last_acked_properties(acks, good, key), [])
        self.assertEqual(len(checks.last_acked_properties(acks, stale, key)), 1)


class CommitAttribution(unittest.TestCase):
    def test_attempts_backoff_and_apply_from_spans(self):
        # one commit: load, lost CAS, 2 ms backoff, load, won CAS; then the
        # load that renders the response. Times in microseconds.
        spans = [[1, 0, "commit.commit", 0, 10000, 7, "commit", -1],
                 [2, 1, "meta.load", 0, 1000, 7, "commit", -1],
                 [3, 1, "meta.cas", 1500, 2500, 7, "commit", 0],
                 [4, 1, "meta.load", 4500, 5500, 7, "commit", -1],
                 [5, 1, "meta.cas", 6000, 9000, 7, "commit", 1],
                 [6, 0, "meta.load", 10100, 11100, 7, "commit", -1],
                 [7, 0, "meta.load", 20000, 21000, 8, "read", -1]]
        ops = [[0, gen.COMMIT, 0, 12000, 1, 100, 2048], [1, gen.LOAD, 19000, 22000, 1, 0, 4096]]
        res = {"phases": [{"phase": p, "rounds": [
                   {"wall_s": 1.0, "ops": ops, "spans": spans if p == "traced" else [],
                    "acked": [["t", ["f"]]], "bytes_before": 0, "bytes_after": 500}]}
                          for p in ("untraced", "traced")],
               "setup_s": [1.0], "serde": {}}
        m = metrics.rest_per_layer(res)
        self.assertEqual(m["commit.attempts_per_commit"], 2)
        self.assertEqual(m["commit.cas_conflict_ratio"], 0.5)
        self.assertEqual(m["commit.backoff_ms"], 2.0)
        self.assertEqual(m["commit.apply_ms"], 0.5)
        self.assertEqual(m["commit.self_ms"], 10.0 - 6.0)
        self.assertEqual(m["meta.loads_per_commit"], 3)
        self.assertEqual(m["meta.loads_per_read"], 1)
        # round trip minus the spans serving that kind of operation
        self.assertEqual(m["server.commit_self_ms"], 12.0 - 10.0 - 1.0)
        self.assertEqual(m["server.read_self_ms"], 3.0 - 1.0)
        self.assertEqual(m["meta.bytes_written_per_commit"], 500)


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match_the_code(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
