"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s graftbench/tests
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run  # noqa: E402


def span(name, start, end, **attrs):
    return {"name": name, "start_ns": start, "end_ns": end, "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_plain_quantile_when_the_tail_is_populated(self):
        self.assertEqual(metrics.tail_rank(100, 0.9), 90)
        self.assertEqual(metrics.tail_rank(1000, 0.9), 900)
        self.assertEqual(metrics.tail_rank(100, 0.5), 50)
        # the mean of ranks 80..100
        self.assertEqual(metrics.percentile(range(1, 101), 0.9), 90)

    def test_ten_samples_stay_beyond_the_reported_tail(self):
        self.assertEqual(metrics.tail_rank(50, 0.9), 40)
        self.assertEqual(metrics.tail_rank(40, 0.9), 30)
        xs = list(range(1, 50)) + [10_000]  # one stall among 50 rounds
        self.assertEqual(metrics.percentile(xs, 0.9), 40)

    def test_never_below_the_median(self):
        self.assertEqual(metrics.tail_rank(12, 0.9), 6)
        self.assertEqual(metrics.tail_rank(1, 0.9), 1)
        self.assertEqual(metrics.percentile([5.0], 0.9), 5.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)

    def test_the_window_smooths_a_gap_at_the_rank(self):
        # 40 samples: the median rank 20 sits at a gap from 450 to 530;
        # the estimate is the mean of ranks 16..24
        xs = [100 + 10 * i for i in range(18)] + [440, 450] + \
             [530, 540] + [700 + 10 * i for i in range(18)]
        self.assertEqual(sorted(xs)[19], 450)
        self.assertEqual(metrics.percentile(xs, 0.5),
                         (250 + 260 + 270 + 440 + 450 + 530 + 540 + 700 +
                          710) / 9)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail_rank(0, 0.5)


class SpanTest(unittest.TestCase):
    def tree(self):
        spans = [span("round", 0, 100), span("publish", 0, 10),
                 span("drain", 10, 100), span("batch", 12, 90),
                 span("job", 20, 40), span("job", 30, 60),
                 span("stage", 20, 30),
                 # a listener record that outlives its span by rounding
                 span("job", 95, 101)]
        return metrics.nest(spans)

    def test_nesting_by_containment(self):
        (root,) = self.tree()
        self.assertEqual(root["name"], "round")
        self.assertEqual([c["name"] for c in root["children"]],
                         ["publish", "drain"])
        drain = root["children"][1]
        self.assertEqual([c["name"] for c in drain["children"]],
                         ["batch", "job"])
        batch = drain["children"][0]
        self.assertEqual([(c["start_ns"], c["end_ns"])
                          for c in batch["children"]], [(20, 40)])
        self.assertEqual(len(metrics.descendants(root, "job")), 3)

    def test_client_span_wins_a_tie(self):
        roots = metrics.nest([span("batch", 5, 50), span("drain", 5, 50)])
        self.assertEqual(roots[0]["name"], "drain")
        self.assertEqual(roots[0]["children"][0]["name"], "batch")

    def test_self_time_subtracts_the_union_of_children(self):
        (root,) = self.tree()
        drain = root["children"][1]
        batch = drain["children"][0]
        job = batch["children"][0]
        self.assertEqual(metrics.self_ns(root), 0)
        # batch 78 long; jobs [20,40] and [30,60] overlap: 40 covered
        batch["children"].append(span("job", 30, 60))
        batch["children"][-1]["children"] = []
        self.assertEqual(metrics.self_ns(batch), 38)
        # drain 90 long; batch 78 plus [95,100] of the late job
        self.assertEqual(metrics.self_ns(drain), 90 - 78 - 5)
        # the stage [20,30] and the overlapping job [30,40] cover it
        self.assertEqual(metrics.self_ns(job), 0)
        self.assertEqual(metrics.self_ns(
            root, metrics.descendants(root, "batch")), 100 - 78)


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ("latency_p50_ms", "queries.q1_pricing.ms", "spark.jobs",
                  "1x", "a-b.c_d", "x" * 64):
            self.assertTrue(metrics.valid_name(n), n)

    def test_invalid_names(self):
        for n in ("", "a b", "_x", ".x", "x" * 65, "q/ms", "p90%", "ü"):
            self.assertFalse(metrics.valid_name(n), n)

    def test_every_reported_name_is_valid_and_unique(self):
        names = (metrics.per_layer_names(metrics.query_names()) +
                 [n for n, _ in metrics.END_TO_END])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)


def fake_record(traced):
    samples = [100.0 + i for i in range(50)]
    raw = {
        "workload": "pubsub_roundtrip", "seed": 1, "traced": traced,
        "setup_s": 12.5,
        "setup_parts": {"core.session_s": 5.0, "setup.warmup_s": 4.0,
                        "streaming.subscribe_s": 1.0},
        "phases": [{"name": "plain", "samples_ms": samples, "items": 50000,
                    "seconds": 10.0, "probe_ms": [50.0, 52.0],
                    "steal_share": 0.01, "gc_ms": 30.0}],
        "attempted": 55, "failed": 0, "failures": [], "observed": [],
        "heap_used_mb": 60.0, "cores": 4,
    }
    if traced:
        ms = 1000000
        raw["phases"].append(dict(raw["phases"][0], name="traced"))
        raw["spans"] = [
            {"id": 0, "parent": -1, "name": "round", "start_ns": 0,
             "end_ns": 200 * ms, "attrs": {"round": 0}},
            {"id": 1, "parent": 0, "name": "publish", "start_ns": 0,
             "end_ns": 1 * ms, "attrs": {}},
            {"id": 2, "parent": 0, "name": "drain", "start_ns": 1 * ms,
             "end_ns": 200 * ms, "attrs": {}}]
        raw["batches"] = [{"batch_id": 0, "start_ms": 2, "input_rows": 1000,
                           "duration_ms": {"triggerExecution": 180,
                                           "walCommit": 50,
                                           "commitOffsets": 50,
                                           "addBatch": 60,
                                           "queryPlanning": 10,
                                           "latestOffset": 1}}]
        raw["jobs"] = [{"id": 0, "start_ms": 80, "end_ms": 120}]
        raw["stages"] = [{"id": 0, "submit_ms": 81, "end_ms": 119,
                          "tasks": 4, "task_time_ms": 100,
                          "shuffle_write_bytes": 0, "spill_bytes": 0,
                          "max_task_ms": 30, "median_task_ms": 20}]
    return raw


class SchemaTest(unittest.TestCase):
    def test_untraced_result(self):
        r = metrics.summarize(fake_record(False), False)
        names = [n for n, _ in metrics.END_TO_END]
        self.assertEqual(metrics.check_result(r, names), [])
        self.assertEqual(r["metrics"]["latency_p50_ms"]["value"], 124.0)
        self.assertEqual(r["metrics"]["latency_p90_ms"]["value"], 139.0)
        self.assertEqual(r["metrics"]["items_per_s"]["value"], 5000.0)
        json.dumps(r)

    def test_traced_result(self):
        queries = ["q1_pricing", "q_wordcount"]
        r = metrics.summarize(fake_record(True), True, queries)
        names = metrics.per_layer_names(queries)
        self.assertEqual(metrics.check_result(r, names), [])
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual(m["streaming.batches_per_round"], 1)
        self.assertEqual(m["streaming.round_trigger_ms"], 180)
        self.assertAlmostEqual(m["streaming.outside_batches_ms"], 20)
        self.assertEqual(m["streaming.batch.wal_commit_ms"], 50)
        self.assertEqual(m["spark.task_skew_max"], 1.5)
        self.assertEqual(m["trace.overhead_ms"], 0)
        self.assertEqual(m["queries.q1_pricing.ms"], 0)

    def test_paired_overhead_cancels_the_order_of_a_pair(self):
        # the second run of a pair is 10 faster; tracing costs 3
        plain, traced = [], []
        for k in range(20):
            if k % 2 == 0:  # untraced first
                plain.append(100.0)
                traced.append(100.0 - 10 + 3)
            else:
                traced.append(100.0 + 3)
                plain.append(100.0 - 10)
        self.assertEqual(metrics.paired_overhead(plain, traced), 3)
        self.assertEqual(metrics.paired_overhead([5.0], [7.0]), 2)

    def test_malformed_results_are_named(self):
        r = metrics.summarize(fake_record(False), False)
        names = [n for n, _ in metrics.END_TO_END]
        bad = dict(r, attempted=0)
        self.assertIn("attempted < 1", metrics.check_result(bad, names))
        bad = dict(r, failed=1.0)
        self.assertTrue(metrics.check_result(bad, names))
        bad = dict(r, extra=1)
        self.assertTrue(metrics.check_result(bad, names))
        bad = dict(r, metrics=dict(r["metrics"]))
        bad["metrics"]["latency_p50_ms"] = {"value": float("nan"),
                                            "unit": "ms"}
        self.assertTrue(metrics.check_result(bad, names))
        bad["metrics"] = {"setup_s": r["metrics"]["setup_s"]}
        self.assertTrue(metrics.check_result(bad, names))

    def test_pinned_batch_results(self):
        want = {"queries": {"a": {"rows": 1, "hash": "5"},
                            "b": {"rows": 2, "hash": "-7"}}}
        ok = [{"query": "a", "rows": 1, "hash": "5"},
              {"query": "b", "rows": 2, "hash": "-7"}]
        self.assertEqual(metrics.batch_mismatches(ok, want), [])
        wrong = [{"query": "a", "rows": 1, "hash": "6"},
                 {"query": "c", "rows": 0, "hash": "0"}]
        self.assertEqual(len(metrics.batch_mismatches(wrong, want)), 3)
        self.assertTrue(metrics.batch_mismatches(ok, None))


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json at the repository root names what run.py reports."""

    def setUp(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            self.spec = json.load(f)

    def test_metrics_match(self):
        e2e = [(m["name"], m["unit"]) for m in self.spec["end_to_end"]]
        self.assertEqual(e2e, metrics.END_TO_END)
        layer = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(layer, metrics.layer_units(metrics.query_names()))

    def test_workloads_exist(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_a_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "graftbench"),
                            ignore=shutil.ignore_patterns("target",
                                                          "__pycache__"))
            p = subprocess.run(
                [sys.executable, "graftbench/run.py", "--workload",
                 "pubsub_roundtrip", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
            self.assertIn("not a graft checkout", p.stderr)


if __name__ == "__main__":
    unittest.main()
