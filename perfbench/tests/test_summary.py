"""Tests of the benchmark's summary math and output checks.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import catalog  # noqa: E402
import summary  # noqa: E402


def op(name, s, checks=(), values=None, error=None, warmup=False):
    return {"kind": "op", "name": name, "warmup": warmup, "s": s, "checks": list(checks),
            "values": values or {}, "error": error}


def check(name, observed, expected=None):
    return {"name": name, "observed": observed, "expected": expected}


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(summary.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(summary.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        with self.assertRaises(ValueError):
            summary.median([])

    def test_quartiles_match_statistics_quantiles(self):
        values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        q = statistics.quantiles(values, n=4)
        self.assertEqual(summary.quartiles(values), (q[0], q[2]))
        self.assertEqual(summary.quartiles([4.2]), (4.2, 4.2))

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(summary.tail_percentile([1.0] * 39))
        self.assertEqual(summary.tail_percentile(list(range(40)))[0], 75.0)
        self.assertEqual(summary.tail_percentile(list(range(100))), (90.0, 90))
        self.assertEqual(summary.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(summary.tail_percentile(list(range(10000)))[0], 99.9)

    def test_failed_ratio(self):
        self.assertEqual(summary.failed_ratio(4, 1), 0.25)
        self.assertEqual(summary.failed_ratio(3, 0), 0.0)
        with self.assertRaises(ValueError):
            summary.failed_ratio(0, 0)


class ChecksTest(unittest.TestCase):
    PINS = {"etl_digest": {"5": "abcd0123"}, "serve": {"q1_pricing_summary": {"rows": 4, "hash": "ff"}}}

    def test_wrong_expected_count_fails_its_op(self):
        good = op("delete_dv", 1.5, [check("delete_dv.snapshot_rows", 1000, 1000)])
        wrong = op("delete_dv", 1.2, [check("delete_dv.snapshot_rows", 1000, 999)])
        attempted, failed, problems, samples = summary.summarize("serve_mutate", [good, wrong], self.PINS)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(samples["delete_dv"], [1.5])  # the failed op's time is not a sample
        self.assertIn("expected 999", problems[0])
        self.assertEqual(summary.failed_ratio(attempted, failed), 0.5)

    def test_thrown_op_counts_as_failed_never_as_a_time(self):
        recs = [op("merge", None, error="java.lang.IllegalStateException: boom")]
        attempted, failed, _, samples = summary.summarize("serve_mutate", recs, self.PINS)
        self.assertEqual((attempted, failed), (1, 1))
        self.assertNotIn("merge", samples)

    def test_failed_warmup_counts(self):
        recs = [op("serve.q1_pricing_summary", 2.0, [check("q1_pricing_summary.rows", 3)], warmup=True)]
        self.assertEqual(summary.summarize("serve_mutate", recs, self.PINS)[:2], (1, 1))

    def test_etl_closed_forms_and_pins(self):
        checks = [check("events.entering_new_round", 20), check("events.committed_block", 20),
                  check("events.send_vote", 120), check("digest", "abcd0123")]
        self.assertFalse(summary.op_failed("etl_small", op("pipeline", 40.0, checks, {"height": 5}), self.PINS))
        off_by_one = checks[:2] + [check("events.send_vote", 119)] + checks[3:]
        self.assertTrue(summary.op_failed("etl_small", op("pipeline", 40.0, off_by_one, {"height": 5}), self.PINS))

    def test_missing_pin_fails(self):
        rec = op("pipeline", 40.0, [check("digest", "abcd0123")], {"height": 7})
        self.assertTrue(summary.op_failed("etl_small", rec, self.PINS))

    def test_serve_pins(self):
        ok = op("serve.q1_pricing_summary", 0.5,
                [check("q1_pricing_summary.rows", 4), check("q1_pricing_summary.hash", "ff")])
        self.assertFalse(summary.op_failed("serve_mutate", ok, self.PINS))
        ok["checks"][1]["observed"] = "fe"
        self.assertTrue(summary.op_failed("serve_mutate", ok, self.PINS))

    def test_setup_takes_median_of_repeated_inputs(self):
        recs = [{"kind": "setup", "name": "session", "s": 5.0},
                {"kind": "setup", "name": "inputs.0", "s": 3.0},
                {"kind": "setup", "name": "inputs.1", "s": 1.0},
                {"kind": "setup", "name": "inputs.2", "s": 2.0},
                {"kind": "setup", "name": "warmup", "s": 10.0}]
        self.assertEqual(summary.setup_seconds(recs), 17.0)


class CatalogTest(unittest.TestCase):
    def test_every_metric_of_benchmark_json_has_one_owner(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            bench = json.load(f)
        workloads = [w["name"] for w in bench["workloads"]]
        self.assertEqual(sorted(workloads), sorted(catalog.LAYERS))
        self.assertEqual(sorted(workloads), sorted(catalog.OP_FIGURES))
        for m in bench["per_layer"]:
            self.assertIn(catalog.owner(m["name"]), workloads, m["name"])
        self.assertEqual(catalog.owner("trace_overhead.pipeline_s"), "etl_small")
        self.assertEqual(catalog.owner("trace_overhead.merge_s"), "serve_mutate")
        self.assertIsNone(catalog.owner("nothing.here"))


if __name__ == "__main__":
    unittest.main()
