"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests

The failure-accounting test compiles the harness (see build.py) on first use.
"""
import json
import os
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import benchlib  # noqa: E402
import build  # noqa: E402


def span(id, parent, kind, start, end):
    return {"id": id, "parent": parent, "kind": kind, "name": kind, "start_ms": start, "end_ms": end}


class Statistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(benchlib.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(benchlib.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [float(x) for x in range(1, 11)]
        self.assertEqual(benchlib.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(benchlib.quartiles(xs), (2.75, 5.5, 8.25))

    def test_spread_is_interquartile_share_of_median(self):
        xs = [float(x) for x in range(1, 11)]
        self.assertAlmostEqual(benchlib.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(benchlib.spread([2.0, 2.0, 2.0]), 0.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_and_overhanging_children(self):
        spans = [
            span(1, 0, "iteration", 0, 100),
            span(2, 1, "query", 10, 30),
            span(3, 1, "query", 20, 50),
            span(4, 1, "query", 90, 120),
        ]
        own = benchlib.self_times(spans)
        # children cover 10..50 and 90..100 of the parent: 50 ms
        self.assertAlmostEqual(own[1], 50.0)
        self.assertAlmostEqual(own[2], 20.0)

    def test_per_iteration_operation_job_and_stage_time(self):
        spans = [
            span(1, 0, "run", 0, 1000),
            span(2, 1, "iteration", 0, 400),
            span(3, 2, "query", 0, 400),
            span(4, 3, "job", 100, 350),
            span(5, 4, "stage", 120, 200),
            span(6, 4, "stage", 180, 300),
            span(7, 1, "iteration", 400, 600),
            span(8, 7, "query", 400, 600),
        ]
        op, job, stage = benchlib.per_iteration_self(spans)
        self.assertEqual(op, [150.0, 200.0])
        self.assertEqual(job, [70.0, 0.0])
        self.assertEqual(stage, [200.0, 0.0])


def op(name, it, s, ok=True, kind="gate", error=None):
    return {"kind": kind, "name": name, "iter": it, "s": s, "ok": ok, "error": error}


class FailureAccounting(unittest.TestCase):
    def test_failed_ops_are_counted_and_never_sampled(self):
        ops = [
            op("q_a", 0, 1.0), op("q_throws", 0, 0.01, ok=False, error="threw"),
            op("q_a", 1, 1.5), op("q_b", 1, 2.0),
            op("q_a", 2, 1.25), op("q_b", 2, 2.25),
        ]
        attempted, failed, iter_s, reads, errors = benchlib.account(ops)
        self.assertEqual((attempted, failed), (6, 1))
        self.assertEqual(sorted(iter_s), [3.5, 3.5])
        self.assertNotIn(0.01, reads)
        self.assertEqual(len(errors), 1)

    def test_oracle_failure_fails_every_run_of_that_gate(self):
        ops = [op("q_a", 0, 1.0), op("q_b", 0, 2.0), op("q_a", 1, 1.1), op("q_b", 1, 2.1)]
        attempted, failed, iter_s, reads, _ = benchlib.account(ops, failed_names=["q_b"])
        self.assertEqual((attempted, failed, iter_s), (4, 2, []))
        self.assertEqual(reads, [1.0, 1.1])

    def test_gate_that_throws_in_the_harness(self):
        classes = build.ensure_built()
        cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
        out = subprocess.run([build.java(), "-cp", cp, "perfbench.SelfTest"],
                             stdout=subprocess.PIPE, text=True, check=True).stdout
        ops = json.loads(out.strip().splitlines()[-1])
        self.assertEqual([o["ok"] for o in ops], [False, False, True, True])
        self.assertIn("IllegalStateException: boom", ops[0]["error"])
        self.assertEqual(ops[1]["error"], "rows differ from the warm-up pass")
        attempted, failed, iter_s, reads, _ = benchlib.account(ops)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(len(iter_s), 1)  # pass 0 held failures, pass 1 is the one sample
        self.assertEqual(len(reads), 2)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_names_are_valid_and_unique(self):
        names = ([m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
                 + [w["name"] for w in self.spec["workloads"]])
        for n in names:
            self.assertRegex(n, benchlib.NAME_RE)
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_spec_matches_the_metrics_printed(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.spec["end_to_end"]],
                         list(benchlib.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         list(benchlib.PER_LAYER))
        self.assertIn("setup_s", [m["name"] for m in self.spec["end_to_end"]])

    def test_summaries_emit_every_metric(self):
        raw = {
            "workload": "gate_suite", "jvm_start_s": 0.5, "setup_reps_s": [3.0, 1.0, 2.0],
            "warmup_s": 1.0, "input_rows": 100, "peak_rss_mb": 900.0,
            "ops": [op("q_ce_x", 0, 0.5), op("q_dedup_y", 0, 1.5)],
            "inputs": {"gates": 2}, "layer": {}, "iter_counters": [], "spans": [],
        }
        attempted, failed, metrics, _, _ = benchlib.end_to_end(raw)
        self.assertEqual(list(metrics), [n for n, _, _ in benchlib.END_TO_END])
        self.assertEqual(metrics["setup_s"]["value"], 3.5)
        self.assertEqual(metrics["suite_s_p50"]["value"], 2.0)
        self.assertEqual(metrics["rows_per_s"]["value"], 50.0)
        layers = benchlib.per_layer(raw)
        self.assertEqual(list(layers), [n for n, _ in benchlib.PER_LAYER])
        self.assertEqual(layers["ops.dedup_s"]["value"], 1.5)


if __name__ == "__main__":
    unittest.main()
