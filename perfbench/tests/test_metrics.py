"""Metric arithmetic of the benchmark on a fixed, hand-checked span set.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


def op(client, pas, name, start, end, phases=(), jobs=(), agg=None, **kw):
    return dict(client=client, **{"pass": pas}, op=name, start=start, end=end, ok=True,
                req=f"c{client}/p{pas}/{name}", phases=list(phases), jobs=list(jobs),
                agg=agg or {}, persisted_delta=0, rewrite_hits=kw.get("hits", 0),
                extra=kw.get("extra", {}))


# One client, two passes of two ops each; epoch milliseconds.
# Pass 0: a (0..1000): build 0..400 with job 1 at 100..300, plan 400..450,
#                      exec 450..1000 with jobs 2 at 500..800 and 3 at 700..900
#         b (1000..1500): build 1000..1500, no job (driver-only)
# Pass 1: a (1500..2300), b (2300..2500), simpler.
OPS = [
    op(0, 0, "a", 0, 1000,
       phases=[("operators.build", 0, 400), ("plans.plan", 400, 450), ("operators.exec", 450, 1000)],
       jobs=[(1, 100, 300), (2, 500, 800), (3, 700, 900)],
       agg={"jobs": 3, "stages": 4, "tasks": 16, "task_ms": 2000, "wait_ms": 30,
            "shuffle_write_bytes": 100, "shuffle_read_bytes": 90, "spill_bytes": 0}, hits=1),
    op(0, 0, "b", 1000, 1500, phases=[("operators.build", 1000, 1500)]),
    op(0, 1, "a", 1500, 2300,
       phases=[("operators.build", 1500, 1700), ("operators.exec", 1700, 2300)],
       jobs=[(4, 1800, 2200)],
       agg={"jobs": 1, "stages": 2, "tasks": 8, "task_ms": 1200, "wait_ms": 10,
            "shuffle_write_bytes": 50, "shuffle_read_bytes": 40, "spill_bytes": 5}),
    op(0, 1, "b", 2300, 2500, phases=[("operators.build", 2300, 2500)]),
]
LOOP = {"passes": [{"client": 0, "pass": 0, "start": 0, "end": 1500},
                   {"client": 0, "pass": 1, "start": 1500, "end": 2500}],
        "ops": OPS}


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(metrics.percentile(range(1, 11), 90), 9.1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(500, 800), (700, 900)]), 400)
        self.assertEqual(metrics.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_of_the_span_tree(self):
        root = metrics.op_spans(OPS[0])
        self.assertEqual(root["self_ms"], 0)  # phases tile the op
        build, plan, exe = root["children"]
        self.assertEqual([c["name"] for c in build["children"]], ["job 1"])
        self.assertEqual(build["self_ms"], 200)
        self.assertEqual(plan["self_ms"], 50)
        self.assertEqual(len(exe["children"]), 2)
        self.assertEqual(exe["self_ms"], 550 - 400)  # overlapping jobs count once
        self.assertEqual(exe["children"][0]["self_ms"], 300)

    def test_job_outside_every_phase_attaches_to_root(self):
        root = metrics.op_spans(op(0, 0, "x", 0, 100, phases=[("operators.build", 0, 50)],
                                   jobs=[(9, 60, 90)]))
        self.assertEqual([c["name"] for c in root["children"]], ["operators.build", "job 9"])
        self.assertEqual(root["self_ms"], 20)


class LayerTest(unittest.TestCase):
    def setUp(self):
        self.run = {
            "timed": LOOP, "traced": LOOP, "setup_s": [3.0, 1.0, 2.0],
            "scans": {"t1": {"scan_s": 0.5, "rows": 100}, "t2": {"scan_s": 1.5, "rows": 300}},
            "kernels": {"functions.cosine.rows_per_s": 10.0},
            "jvm": {"gc_ms": 400, "persisted_rdds_start": 2, "persisted_rdds_end": 5,
                    "retained_heap_mb": 12.5},
        }

    def test_core_util(self):
        self.assertAlmostEqual(metrics.core_util(2.0, 1.0, 4), 0.5)
        self.assertEqual(metrics.core_util(1.0, 0.0, 4), 0.0)

    def test_end_to_end(self):
        e2e, counts = metrics.end_to_end(self.run)
        self.assertAlmostEqual(e2e["throughput_ops_s"], 4 / 2.5)
        # latencies 1.0, 0.5, 0.8, 0.2 s
        self.assertAlmostEqual(e2e["latency_p50_s"], 0.65)
        self.assertAlmostEqual(e2e["latency_p90_s"], 0.94)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(counts, {"samples": 4, "beyond_p90": 1})

    def test_per_layer_is_the_median_of_per_pass_sums(self):
        m = metrics.per_layer(self.run, cores=4)
        self.assertAlmostEqual(m["operators.build_s"], (0.9 + 0.4) / 2)
        self.assertAlmostEqual(m["operators.exec_s"], (0.55 + 0.6) / 2)
        # pass 0: build 400-200 + exec 550-400 + b 500; pass 1: 200 + 600-400 + 200
        self.assertAlmostEqual(m["operators.driver_only_s"], (0.85 + 0.6) / 2)
        self.assertAlmostEqual(m["plans.plan_s"], 0.025)
        self.assertEqual(m["sched.jobs"], 2)
        self.assertEqual(m["sched.tasks"], 12)
        self.assertAlmostEqual(m["sched.wait_s"], 0.02)
        self.assertAlmostEqual(m["exec.task_s"], 1.6)
        self.assertAlmostEqual(m["exec.core_util"], 3.2 / (2.5 * 4))
        self.assertEqual(m["exchange.spill_bytes"], 2.5)
        self.assertEqual(m["sources.scan_s"], 2.0)
        self.assertEqual(m["sources.scan_rows_per_s"], 200.0)
        self.assertEqual(m["checkpoints.persisted_rdds_delta"], 3)
        self.assertAlmostEqual(m["jvm.gc_s"], 0.2)
        self.assertEqual(m["sources.delete_rewrite_frac"], 0.0)

    def test_core_util_counts_overlapping_client_passes_once(self):
        two = {"passes": [{"client": 0, "pass": 1, "start": 0, "end": 2000},
                          {"client": 1, "pass": 1, "start": 500, "end": 2500}],
               "ops": [op(0, 1, "a", 0, 2000, agg={"task_ms": 4000}),
                       op(1, 1, "a", 500, 2500, agg={"task_ms": 1000})]}
        run = dict(self.run, traced=two, untraced_pair={"passes": [{}, {}], "ops": []})
        m = metrics.per_layer(run, cores=4)
        self.assertAlmostEqual(m["exec.core_util"], 5.0 / (2.5 * 4))
        self.assertAlmostEqual(m["jvm.gc_s"], 0.1)  # 400 ms over four passes

    def test_pass_series(self):
        self.assertEqual(metrics.pass_series(LOOP), [round(2 / 1.5, 4), 2.0])

    def test_result_line_has_exactly_the_contract_keys(self):
        line = metrics.result_line(True, 5, 0, {"setup_s": 1.5})
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(line["metrics"]["setup_s"], {"value": 1.5, "unit": "s"})


if __name__ == "__main__":
    unittest.main()
