"""Tests of the benchmark harness's Python side.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_p90_needs_ten_beyond(self):
        v, p, n = stats.tail(range(1, 101))
        self.assertEqual((v, p, n), (90, 90, 10))

    def test_picks_highest_qualifying_percentile(self):
        self.assertEqual(stats.tail(range(1, 201))[1:], (95, 10))
        self.assertEqual(stats.tail(range(1, 1001))[1:], (99, 10))
        # 999 values: p99's rank is 990, leaving 9 beyond, so p95 is used
        self.assertEqual(stats.tail(range(1, 1000))[1:], (95, 49))

    def test_order_does_not_matter(self):
        vals = [5.0, 1.0, 3.0] * 40
        self.assertEqual(stats.tail(vals), stats.tail(sorted(vals)))

    def test_too_few_values_fall_back_to_p90(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 90, 0))
        self.assertEqual(stats.tail(range(99))[1:], (90, 9))
        self.assertEqual(stats.tail(range(1, 23)), (20, 90, 2))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class ResultLine(unittest.TestCase):
    def test_schema(self):
        line = stats.result_line(True, 12, 0, {"op_p50_s": (0.25, "s"),
                                               "ok_frac": (1, "frac")})
        d = json.loads(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(d["correct"], True)
        self.assertEqual((d["attempted"], d["failed"]), (12, 0))
        for m in d["metrics"].values():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertIsInstance(m["value"], float)

    def test_full_precision(self):
        v = 0.1234567890123456
        d = json.loads(stats.result_line(True, 1, 0, {"x_s": (v, "s")}))
        self.assertEqual(d["metrics"]["x_s"]["value"], v)

    def test_rejects_bad_counts_and_values(self):
        with self.assertRaises(ValueError):
            stats.result_line(True, 0, 0, {})
        with self.assertRaises(ValueError):
            stats.result_line(True, 3, 4, {})
        with self.assertRaises(ValueError):
            stats.result_line(True, 3, 0, {"x": (float("nan"), "s")})

    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        self.assertEqual(e2e, run.END_TO_END)
        layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(layers, run.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


class Generators(unittest.TestCase):
    def test_same_seed_same_digest(self):
        with tempfile.TemporaryDirectory() as d:
            for i in (0, 1):
                gen.loan_seeds(os.path.join(d, f"l{i}"), 7, 40, 60, 3, 5, 2)
                gen.corpus(os.path.join(d, f"c{i}"), 7, 80)
            for kind in "lc":
                self.assertEqual(gen.digest(os.path.join(d, f"{kind}0")),
                                 gen.digest(os.path.join(d, f"{kind}1")), kind)

    def test_other_seed_other_digest(self):
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(os.path.join(d, "a"), 1, 80)
            gen.corpus(os.path.join(d, "b"), 2, 80)
            self.assertNotEqual(gen.digest(os.path.join(d, "a")),
                                gen.digest(os.path.join(d, "b")))

    def test_corpus_duplicate_rates(self):
        t = gen.documents(4000, 3)
        texts = t.column("text").to_pylist()
        near = sum("dup" in x.split(" ") for x in texts)
        exact = len(texts) - len(set(texts))
        self.assertTrue(0.03 < near / len(texts) < 0.07, near)
        self.assertTrue(exact >= 1, exact)

    def test_loan_manifest_counts(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.loan_seeds(d, 5, n_loans=50, n_payments=80, n_batches=4,
                               batch_new=10, batch_updates=3)
            self.assertEqual(m["incremental_counts"], [80, 90, 100, 110, 120])
            self.assertGreaterEqual(m["snapshot_rows"], 120)
            self.assertLessEqual(m["snapshot_rows"], 120 + 4 * 3)
            self.assertEqual(len(os.listdir(os.path.join(d, "batches"))), 4)


class DbtChecks(unittest.TestCase):
    manifest = {"incremental_counts": [10, 15], "snapshot_rows": 17}

    def ok(self, name, check):
        return checks._dbt_ok({"name": name, "check": check}, self.manifest)

    def test_dedup_ops_must_repeat_the_warm_pass(self):
        warm = [{"name": "x", "check": {"rows": "5", "checksum": "9"}}]
        ops = [{"name": "x", "check": {"rows": "5", "checksum": "9"}},
               {"name": "x", "check": {"rows": "5", "checksum": "8"}}]
        self.assertEqual(checks.dedup_corpus(ops, warm, {}), [True, False])

    def test_grain_invariant(self):
        good = {"success": True, "fct_total": "100", "fixed_total": "100",
                "fanout_total": "250"}
        self.assertTrue(self.ok("build", good))
        self.assertFalse(self.ok("build", dict(good, fixed_total="99")))
        self.assertFalse(self.ok("build", dict(good, fanout_total="100")))
        self.assertFalse(self.ok("build", dict(good, success=False)))

    def test_incremental_and_snapshot_counts(self):
        self.assertTrue(self.ok("incremental_001", {"rows": 15}))
        self.assertFalse(self.ok("incremental_001", {"rows": 14}))
        self.assertTrue(self.ok("snapshot", {"rows": 17}))
        self.assertFalse(self.ok("unknown", {}))


if __name__ == "__main__":
    unittest.main()
