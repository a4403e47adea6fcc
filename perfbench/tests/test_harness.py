"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest
from collections import Counter

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402
import workloads as wl  # noqa: E402

CUSTOMERS = {k: (k % 25, 100 * k) for k in range(300)}


class PlanTest(unittest.TestCase):
    def test_same_seed_same_pass_order(self):
        a = wl.pass_orders(wl.SIMJOIN_OPS, 7, 5)
        self.assertEqual(a, wl.pass_orders(wl.SIMJOIN_OPS, 7, 5))
        self.assertNotEqual(a, wl.pass_orders(wl.SIMJOIN_OPS, 8, 5))
        for p in a:
            self.assertEqual(sorted(p), sorted(wl.SIMJOIN_OPS))

    def test_same_seed_same_statement_stream(self):
        pre1, b1, _ = wl.store_blocks(3, 2, CUSTOMERS)
        pre2, b2, _ = wl.store_blocks(3, 2, CUSTOMERS)
        self.assertEqual((pre1, b1), (pre2, b2))
        self.assertNotEqual(b1, wl.store_blocks(4, 2, CUSTOMERS)[1])

    def test_shorter_stream_is_a_prefix(self):
        _, long_blocks, _ = wl.store_blocks(5, 3, CUSTOMERS)
        _, short_blocks, model = wl.store_blocks(5, 2, CUSTOMERS)
        self.assertEqual(short_blocks, long_blocks[:2])
        self.assertTrue(model.view()[0])

    def test_block_composition_is_fixed(self):
        want = Counter({**wl.WRITE_MIX, **wl.READ_MIX, "compact": 1})
        for seed in range(1, 40):
            for block in wl.store_blocks(seed, 3, CUSTOMERS)[1]:
                self.assertEqual(Counter(op["name"] for op in block), want)
                kinds = [op["kind"] for op in block]
                self.assertEqual(kinds.count("write"), sum(wl.WRITE_MIX.values()))
                self.assertEqual(kinds.count("read"), sum(wl.READ_MIX.values()))
                last_write = max(i for i, k in enumerate(kinds) if k == "write")
                self.assertEqual(kinds[last_write + 1], "compact")

    def test_model_tracks_reads(self):
        m = wl.StoreModel({1: (3, 500), 2: (3, -250), 3: (4, 0)})
        m.apply("entity_create", ("w:1", {"label": "person", "name": "n0", "team": "red"}, True))
        m.apply("entity_create", ("w:2", {"label": "person", "name": "n0", "team": "red"}, True))
        m.apply("node_create", ("w:3", {"label": "doc", "name": "n1"}, False))
        m.apply("edge_create", ("w:1", "w:2", "knows"))
        m.apply("edge_create", ("w:3", "w:1", "cites"))
        self.assertEqual(m.apply("neighbors", "w:1"), 2)
        self.assertEqual(m.apply("match_return", None), 1)
        self.assertEqual(m.apply("find_nodes", "red"), 2)
        self.assertEqual(m.apply("similar", "w:3"), 2)
        self.assertEqual(m.apply("match_set", ("n0", "level", "2")), 2)
        self.assertEqual(dict(m.view()[0]["w:2"][0])["level"], "2")
        self.assertEqual(m.apply("match_set", ("n9", "level", "3")), 0)
        m.apply("node_delete", "w:2")
        self.assertEqual(m.apply("node_get", "w:2"), 0)
        self.assertEqual(m.apply("match_return", None), 0)
        self.assertEqual(m.apply("similar", "w:1"), 0)
        self.assertEqual(m.apply("sql_update", 2), 1)
        self.assertEqual(m.cust_acctbal_cents(), 350)
        self.assertEqual(m.apply("sql_delete", 1), 1)
        self.assertEqual(m.apply("sql_update", 1), 0)
        self.assertEqual(m.apply("sql_select", 3), 1)
        self.assertEqual(m.cust_acctbal_cents(), -150)

    def test_writes_carry_changed_row_counts(self):
        pre, blocks, _ = wl.store_blocks(2, 3, CUSTOMERS)
        self.assertEqual([op["affected"] for op in pre], [len(wl.KEYS)] * 3)
        for op in pre + [op for b in blocks for op in b]:
            if op["kind"] == "write":
                self.assertEqual(op["expect"], 1)
                if op["name"] in ("match_set", "sql_update", "sql_delete", "batch_create",
                                  "entity_batch_create", "embed_batch", "edge_batch_create"):
                    self.assertIsInstance(op["affected"], int)
                else:
                    self.assertIsNone(op["affected"])


class StatsTest(unittest.TestCase):
    def test_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(range(1, 100), 0.9))      # 9 beyond
        self.assertEqual(stats.percentile(range(1, 101), 0.9), 90)   # 10 beyond
        self.assertEqual(stats.percentile(range(1, 21), 0.5), 10)
        self.assertIsNone(stats.percentile(range(1, 20), 0.5))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.2, 5.0]), 1.0)
        self.assertAlmostEqual(stats.geomean([2.0] * 7), 2.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_union(self):
        self.assertEqual(stats.union_s([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_s([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_s([]), 0)

    def test_self_time_on_a_span_tree(self):
        # op [0,10] -> build [0,4], action [4,10]; action -> sql [5,9]
        # sql -> job [5,8] -> stages [5,6] and [5.5,7.5] (overlapping)
        spans = {
            "op": (None, 0.0, 10.0),
            "build": ("op", 0.0, 4.0),
            "action": ("op", 4.0, 10.0),
            "sql": ("action", 5.0, 9.0),
            "job": ("sql", 5.0, 8.0),
            "stage1": ("job", 5.0, 6.0),
            "stage2": ("job", 5.5, 7.5),
        }
        got = stats.self_times(spans)
        want = {"op": 0.0, "build": 4.0, "action": 2.0, "sql": 1.0, "job": 0.5,
                "stage1": 1.0, "stage2": 2.0}
        for k, v in want.items():
            self.assertTrue(math.isclose(got[k], v), (k, got[k], v))


if __name__ == "__main__":
    unittest.main()
