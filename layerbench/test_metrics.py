"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s layerbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 21))          # 20 samples
        value, pct = metrics.tail(xs)
        self.assertEqual(value, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 50.0)

    def test_percentile_rises_with_samples(self):
        value, pct = metrics.tail(list(range(100)))
        self.assertEqual(value, 89)
        self.assertEqual(pct, 90.0)

    def test_unsorted_input(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3, 11, 9, 8, 10, 7, 6]), (1, 100 / 11))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail(list(range(10)))


class RatioTest(unittest.TestCase):
    def test_busy_ratio(self):
        # 6 task-seconds over 3 wall seconds on 4 cores: half busy.
        self.assertEqual(metrics.busy_ratio(6.0, 3.0, 4), 0.5)

    def test_ok_ratio_counts_throws_as_failures(self):
        execs = [{"query": "a", "error": None}, {"query": "b", "error": None},
                 {"query": "c", "error": "java.lang.RuntimeException: boom"},
                 {"query": "d", "error": None}]
        metrics.mark_ok(execs, {"d": "pass 0: rows 1 != 2"})
        self.assertEqual([e["ok"] for e in execs], [True, True, False, False])
        self.assertIsNone(execs[2]["mismatch"])
        self.assertEqual(metrics.ok_ratio(execs), 0.5)

    def test_a_mismatch_fails_every_execution_of_its_query(self):
        execs = [{"query": "a", "error": None, "pass": p} for p in range(3)]
        metrics.mark_ok(execs, {"a": "pass 2: values differ"})
        self.assertEqual(metrics.ok_ratio(execs), 0.0)

    def test_stored_ratio(self):
        self.assertEqual(metrics.stored_ratio(1000, 0), 1.0)
        self.assertEqual(metrics.stored_ratio(1000, 732), 1.732)

    def test_end_to_end_leaves_out_the_check_pass(self):
        # Pass 0 is cold, 1-2 are warm, 3 is the check pass: its slow
        # executions (the oracle check's writes run beside them) must not
        # reach the warm metrics.
        passes = [{"pass": p, "traced": False, "check": p == 3,
                   "timed_s": t, "cpu_s": t} for p, t in enumerate([9.0, 2.0, 4.0, 50.0])]
        execs = [{"pass": p, "construct_s": 0.0, "action_s": float(p * 10 + i), "ok": True}
                 for p in range(4) for i in range(6)]
        values, samples, _ = metrics.end_to_end(
            {"passes": passes, "execs": execs}, [1.0, 2.0, 3.0], 1.0)
        self.assertEqual(values["cold_pass_s"], 9.0)
        self.assertEqual(values["warm_pass_s"], 3.0)
        self.assertEqual(samples["query_p50_s"], 12)
        self.assertEqual(values["query_p50_s"], 17.5)   # of 10-15 and 20-25
        self.assertEqual(values["query_tail_s"], 11.0)  # rank 2 of 12
        self.assertEqual(values["ok_ratio"], 1.0)

    def test_spread(self):
        self.assertAlmostEqual(metrics.spread([1.0, 1.0, 1.0, 1.0]), 0.0)
        q = metrics.spread([9, 10, 10, 10, 11])
        self.assertAlmostEqual(q, 1.0 / 10)


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "start_us": start, "end_us": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60),   # overlaps span 2
                 self.span(4, 2, 15, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)]
        self.assertEqual(metrics.self_times(spans)[1], 5)

    def test_covered(self):
        self.assertEqual(metrics.covered([(0, 5), (3, 8), (10, 12)], 0, 11), 9)
        self.assertEqual(metrics.covered([], 0, 5), 0)


class SpanTreeTest(unittest.TestCase):
    def phase(self, jobs=(), stages=(), plans=()):
        return {"jobs": list(jobs), "stages": list(stages), "plans": list(plans)}

    def test_layers_nest(self):
        stage = {"id": 3, "start_ms": 12, "end_ms": 14, "tasks": 4}
        run = {
            "workload_us": [0, 100_000],
            "passes": [{"pass": 0, "traced": True, "span_us": [1000, 50_000]}],
            "execs": [{
                "query": "q", "pass": 0,
                "construct_us": [2000, 5000], "action_us": [6000, 20_000],
                "construct": self.phase(),
                "action": self.phase(
                    jobs=[{"id": 7, "start_ms": 11, "end_ms": 15, "stage_ids": [3]}],
                    stages=[stage],
                    plans=[{"phases": {"optimization": [7, 8], "planning": [8, 10]},
                            "exchanges": 1, "topk_nodes": 0}])}],
        }
        spans = metrics.build_spans(run, "w")
        kinds = {s["kind"]: s for s in spans}
        parent = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parent[kinds["pass"]["id"]], kinds["workload"]["id"])
        self.assertEqual(parent[kinds["query"]["id"]], kinds["pass"]["id"])
        for k in ("construct", "plan", "execute"):
            self.assertEqual(parent[kinds[k]["id"]], kinds["query"]["id"])
        self.assertEqual(parent[kinds["job"]["id"]], kinds["execute"]["id"])
        self.assertEqual(parent[kinds["stage"]["id"]], kinds["job"]["id"])
        # Execution starts when planning ends.
        self.assertEqual(kinds["execute"]["start_us"], 10_000)
        self.assertEqual(kinds["plan"]["start_us"], 7000)


class BenchmarkFileTest(unittest.TestCase):
    def test_names_match_what_the_runner_prints(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
