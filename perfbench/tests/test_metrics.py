"""Metric arithmetic and the benchmark's metric names."""
import json
import os
import re
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import metrics  # noqa: E402


def span(id, parent, kind, start, end):
    return {"id": id, "parent": parent, "kind": kind, "name": id,
            "start_ms": start, "end_ms": end}


def tree():
    """workload [0,100): op a [0,60) with jobs 1 [10,30) and 2 [20,40)
    (overlapping), op b [60,100) with job 3 [70,80); job 1 has two
    stages, one running past its job's end."""
    return [span("workload", None, "workload", 0, 100),
            span("op-a", "workload", "op", 0, 60),
            span("op-b", "workload", "op", 60, 100),
            span("job-1", None, "job", 10, 30),
            span("job-2", None, "job", 20, 40),
            span("job-3", None, "job", 70, 80),
            span("stage-1", "job-1", "stage", 10, 15),
            span("stage-2", "job-1", "stage", 25, 35)]


def result(hashes, error_op=None, passes=1):
    ops = [{"name": n, "seconds": 1.0 + i, "cpu_seconds": 2.0 + i,
            "steal_share": 0.0, "hash": h}
           for i, (n, h) in enumerate(hashes.items())]
    if error_op:
        next(o for o in ops if o["name"] == error_op)["error"] = "boom"
    return {"setup": [{"seconds": s, "steal_share": 0.0,
                       "prepares": {"p": 0.5}, "errors": {},
                       "stores_built": 1, "store_bytes": 10,
                       "double_builds": 0} for s in (3.0, 1.0, 2.0)],
            "passes": [{"traced": False, "peak_heap_mb": 100.0,
                        "ops": [dict(o) for o in ops]}
                       for _ in range(passes)]}


class SpanTest(unittest.TestCase):
    def test_jobs_join_the_op_running_at_their_start(self):
        parents = {s["id"]: s["parent"]
                   for s in metrics.assign_parents(tree())}
        self.assertEqual([parents["job-1"], parents["job-2"],
                          parents["job-3"]], ["op-a", "op-a", "op-b"])

    def test_self_time_subtracts_the_union_of_children(self):
        own = metrics.self_times_ms(metrics.assign_parents(tree()))
        self.assertEqual(own["op-a"], 60 - 30)     # jobs cover [10,40)
        self.assertEqual(own["op-b"], 40 - 10)
        self.assertEqual(own["job-1"], 20 - (5 + 5))  # stage 2 clipped to job
        self.assertEqual(own["workload"], 0)
        self.assertEqual(own["stage-1"], 5)

    def test_union_clips_and_merges(self):
        self.assertEqual(metrics.union_ms([(0, 5), (3, 8), (10, 20)], 2, 15),
                         6 + 5)
        self.assertEqual(metrics.union_ms([], 0, 10), 0)


class FailureTest(unittest.TestCase):
    expected = {"q_a": "1:2", "q_b": "3:4"}

    def test_clean_run(self):
        r = result(self.expected, passes=2)
        self.assertEqual(metrics.failures(r, self.expected)[:2], (7, 0))
        self.assertEqual(metrics.end_to_end(r, 7, 0)["ok_frac"], 1.0)

    def test_wrong_output_counts_as_failure(self):
        r = result({"q_a": "1:2", "q_b": "3:5"})
        attempted, failed, msgs = metrics.failures(r, self.expected)
        self.assertEqual((attempted, failed), (5, 1))
        self.assertIn("q_b", msgs[0])

    def test_throwing_op_counts_as_failure(self):
        r = result(self.expected, error_op="q_a")
        self.assertEqual(metrics.failures(r, self.expected)[1], 1)

    def test_failed_pipeline_check_counts(self):
        r = result({"day1": None, "day2": None})
        checks = [{"day1": None, "day2": "scraped: 3 rows, expected 4",
                   "historical": "historical: 9 rows, expected 10"}]
        self.assertEqual(metrics.failures(r, {}, checks)[:2], (6, 2))

    def test_fail_frac_rises_with_failures(self):
        r = result({"q_a": "bad", "q_b": "3:4"})
        r["trace"] = {"totals": {"exec.task_s": 1.0}, "spans": []}
        r["passes"].append(dict(r["passes"][0], traced=True))
        attempted, failed, _ = metrics.failures(r, self.expected)
        layer = metrics.per_layer(r, 4, attempted, failed, tree())
        self.assertAlmostEqual(layer["fail_frac"], 2 / 7)

    def test_times_are_net_of_host_steal(self):
        r = result(self.expected)
        for o in r["passes"][0]["ops"]:
            o["steal_share"] = 0.5
        e2e = metrics.end_to_end(r, 5, 0)
        self.assertEqual(e2e["elapsed_s"], 1.5)
        self.assertEqual(e2e["op_p50_s"], 0.75)

    def test_end_to_end_medians(self):
        e2e = metrics.end_to_end(result(self.expected), 5, 0)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["elapsed_s"], 3.0)
        self.assertEqual(e2e["op_p50_s"], 1.5)

    def test_warm_up_pass_is_not_timed(self):
        r = result(self.expected, passes=2)
        r["passes"][0] = dict(r["passes"][0], warmup=True,
                              peak_heap_mb=500.0)
        for o in r["passes"][0]["ops"]:
            o["seconds"] = 10.0
        e2e = metrics.end_to_end(r, 7, 0)
        self.assertEqual(e2e["elapsed_s"], 3.0)
        self.assertEqual(e2e["peak_heap_mb"], 100.0)


class NamesTest(unittest.TestCase):
    def setUp(self):
        root = os.path.dirname(BENCH)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        with open(os.path.join(BENCH, "workloads.json")) as f:
            self.spec = json.load(f)

    def test_names_are_well_formed_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def test_every_computed_metric_is_declared(self):
        declared = {m["name"] for m in self.bench["per_layer"]}
        r = result({"q_a": "1:2"})
        r["passes"].append(dict(r["passes"][0], traced=True))
        r["trace"] = {"totals": {}, "spans": []}
        hdb = {"rows_in": 1, "listings_in": 1, "scraped_rows_out": 1,
               "historical_rows_out": 1, "out_bytes": 1, "in_bytes": 1}
        computed = set(metrics.per_layer(r, 4, 1, 0, [], hdb))
        computed -= {"op.q_a_s", "setup.p_s"}
        self.assertEqual(computed - declared, set())
        for wl in self.spec["workloads"].values():
            for op in wl["ops"]:
                self.assertIn(f"op.{op}_s", declared)
            for p in wl["prepares"]:
                self.assertIn(f"setup.{p}_s", declared)
        e2e = set(metrics.end_to_end(result({"q_a": "1:2"}), 1, 0))
        self.assertEqual(e2e, {m["name"] for m in self.bench["end_to_end"]})

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(self.spec["workloads"]))
        for m in self.bench["per_layer"]:
            self.assertIn(m["name"], self.spec["per_layer"])


if __name__ == "__main__":
    unittest.main()
