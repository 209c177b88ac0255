"""Tests of the benchmark command's own output handling.

Run from the repository root: python3 -m unittest perfbench/test_run.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


class SummaryLineTest(unittest.TestCase):

    def result(self, failed):
        return {"attempted": 300, "failed": failed,
                "metrics": {"wall_s": {"value": 9.7008, "unit": "s"},
                            "latency_p50_ms": {"value": 829.81, "unit": "ms",
                                               "extra": [1, 2]}}}

    def test_counts_not_lists_with_200_failures(self):
        line = run.summary_line(self.result(200), checks=7, check_failed=3)
        text = json.dumps(line)
        back = json.loads(text)
        self.assertEqual(back["failed"], 203)
        self.assertEqual(back["attempted"], 307)
        self.assertFalse(back["correct"])
        self.assertEqual(set(back), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(back["metrics"]["latency_p50_ms"]), {"value", "unit"})
        self.assertLess(len(text), 300)

    def test_clean_run_is_correct(self):
        line = run.summary_line(self.result(0), checks=7, check_failed=0)
        self.assertTrue(line["correct"])
        self.assertEqual(line["metrics"]["wall_s"]["value"], 9.7008)


    def test_non_finite_metric_fails_the_run(self):
        r = self.result(0)
        r["metrics"]["wall_s"]["value"] = float("nan")
        with self.assertRaises(SystemExit) as e:
            run.summary_line(r, checks=0, check_failed=0)
        self.assertNotEqual(e.exception.code, 0)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_tables(self):
        a, b = gen.tables(5, "small"), gen.tables(5, "small")
        self.assertEqual(set(a), set(gen.TABLES))
        for name in gen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_seed_changes_values_not_sizes(self):
        a, b = gen.tables(5, "small"), gen.tables(6, "small")
        for name in gen.TABLES:
            self.assertEqual(a[name].num_rows, b[name].num_rows, name)
        self.assertFalse(a["documents"].equals(b["documents"]))

    def test_events_in_ts_order_with_unique_ids(self):
        ev = gen.tables(5, "small")["events"].to_pydict()
        ts = ev["ts"]
        self.assertEqual(ts, sorted(ts))
        self.assertEqual(len(set(ts)), len(ts))
        self.assertEqual(ev["event_id"], list(range(len(ts))))


if __name__ == "__main__":
    unittest.main()
