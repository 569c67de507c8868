"""Tests of the benchmark's own logic (no Spark needed).

Run from the repository root:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import types
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def op(pass_, qid, start, fn_end, end, rows=5, **extra):
    return dict(qid=qid, start_ms=start, fn_end_ms=fn_end, end_ms=end,
                check_ms=0.0, rows=rows, **extra, **{"pass": pass_})


def raw_run(pass_walls, ops, **extra):
    passes, t = [], 1000.0
    for i, w in enumerate(pass_walls):
        passes.append({"index": i, "traced": False, "start_ms": t, "end_ms": t + w,
                       "cpu_ns": int(2e9 * (i + 1)), "gc_ms": 0, "jit_ms": 0,
                       "codegen_compile_ns": 0, "codegen_classes": 0})
        t += w
    raw = {"passes": passes, "ops": ops, "jvm_start_ms": 0.0,
           "first_timed_op_ms": 1000.0, "vm_hwm_kb": 2048, "window_ms": t - 1000.0,
           "session_build_ms": 500.0,
           "window_cpu_ns": 0, "proc_stat_start": [], "proc_stat_end": []}
    raw.update(extra)
    return raw


class TailPercentile(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        values = [float(v) for v in range(1, 31)]
        p, v, n = metrics.tail_percentile(values)
        self.assertEqual(n, 30)
        self.assertEqual(v, 20.0)
        self.assertEqual(sum(1 for x in values if x > v), 10)
        # the reported percentile reproduces the value it names
        self.assertAlmostEqual(metrics.percentile(values, p), v)
        # one more sample moves the tail up, never below ten beyond
        p2, v2, _ = metrics.tail_percentile(values + [31.0])
        self.assertGreater(p2, p)
        self.assertEqual(v2, 21.0)

    def test_order_free(self):
        values = [5.0, 1.0, 9.0, 3.0] * 6
        self.assertEqual(metrics.tail_percentile(values),
                         metrics.tail_percentile(sorted(values)))

    def test_too_few_samples_fall_back_to_median(self):
        p, v, n = metrics.tail_percentile([1.0, 2.0, 3.0])
        self.assertEqual((p, v, n), (50.0, 2.0, 3))


class SelfTimes(unittest.TestCase):
    def test_overlapping_children_are_not_double_counted(self):
        spans = [("registry.fn", 0, 60), ("registry.count", 60, 100),
                 ("scheduler", 10, 50), ("scheduler", 30, 70),
                 ("executor", 20, 40), ("catalyst", -50, 5)]
        st = metrics.self_times((0, 100), spans)
        self.assertAlmostEqual(sum(st.values()), 100)
        self.assertEqual(st, {"catalyst": 5, "registry.fn": 5, "scheduler": 40,
                              "executor": 20, "registry.count": 30})

    def test_same_level_overlap_goes_to_the_later_span(self):
        st = metrics.self_times((0, 10), [("memo", 0, 8), ("streaming", 4, 10)])
        self.assertEqual(st, {"memo": 4, "streaming": 6})

    def test_no_children_is_all_harness(self):
        self.assertEqual(metrics.self_times((3, 7), []), {"harness": 4})


class PassMedianAndErrors(unittest.TestCase):
    def test_pass_median(self):
        ops = [op(i, "q", 1000 + i, 1000.5 + i, 1001 + i) for i in range(3)]
        e2e, _, _, ctx = metrics.end_to_end(raw_run([3000.0, 1000.0, 2000.0], ops), 4)
        self.assertEqual(e2e["pass_s"], (2.0, "s"))
        self.assertEqual(e2e["cpu_s"], (4.0, "s"))
        self.assertEqual(ctx["passes"], 3)

    def test_thrown_op_counts_and_the_run_goes_on(self):
        ops = [op(-1, "a", 0, 1, 2), op(0, "a", 1000, 1001, 1002),
               op(0, "b", 1002, 1003, 1003, rows=-1, error="java.lang.ArithmeticException"),
               op(0, "c", 1003, 1004, 1005, mismatch="rows 4 != 5")]
        e2e, attempted, failed, _ = metrics.end_to_end(raw_run([10.0], ops), 4)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(e2e["error_rate"], (0.5, "ratio"))
        line = json.loads(run.result_line(failed == 0, attempted, failed,
                                          {"x": 1.0}, {"x": "s"}))
        self.assertEqual((line["correct"], line["failed"]), (False, 2))


class SeededOrder(unittest.TestCase):
    def plan(self, seed, members, reference):
        args = types.SimpleNamespace(workload="olap_short", seed=seed, seconds=10, trace=0)
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "plan.txt")
            run.write_plan(path, args, "/data", "/out", members, reference)
            with open(path) as f:
                return f.read().splitlines()

    def test_seed_permutes_order_but_not_fingerprints(self):
        members = workloads.WORKLOADS["olap_short"]["pass"]
        reference = {q: {"rows": i, "hash": f"{i:016x}"} for i, q in enumerate(members)}
        a, b = self.plan(1, members, reference), self.plan(2, members, reference)
        passes_a = [l for l in a if l.startswith(("pass", "warmup"))]
        passes_b = [l for l in b if l.startswith(("pass", "warmup"))]
        self.assertNotEqual(passes_a, passes_b)
        for la, lb in zip(passes_a, passes_b):
            skip = 2 if la.startswith("pass") else 1  # "pass <traced> <op>..."
            self.assertEqual(sorted(la.split()[skip:]), sorted(members))
            self.assertEqual(sorted(lb.split()[skip:]), sorted(members))
        expect_a = [l for l in a if l.startswith("expect")]
        self.assertEqual(expect_a, [l for l in b if l.startswith("expect")])
        self.assertEqual(len(expect_a), len(members))
        # the trainer-input sample seed follows the run's seed
        self.assertNotEqual([l for l in a if l.startswith("sample")],
                            [l for l in b if l.startswith("sample")])
        # same seed, same plan
        self.assertEqual(a, self.plan(1, members, reference))

    def test_traced_passes_balance_drift(self):
        for n in (3, 5, 7):
            flags = [metrics.traced_pass(i) for i in range(n)]
            traced = [i for i, t in enumerate(flags) if t]
            plain = [i for i, t in enumerate(flags) if not t]
            # a linear drift in pass time has the same median on both sides
            self.assertEqual(metrics.median(traced), metrics.median(plain))

    def test_every_pass_member_has_a_reference(self):
        with open(os.path.join(HERE, "reference.json")) as f:
            reference = json.load(f)
        for name, w in workloads.WORKLOADS.items():
            for q in w["pass"]:
                self.assertTrue(q.startswith("@") or q in reference, (name, q))


class TracedAttribution(unittest.TestCase):
    def traced_run(self, phases):
        ops = [op(0, "q", 1000.0, 1040.0, 1100.0), op(0, "r", 1150.0, 1160.0, 1200.0)]
        raw = raw_run([300.0], ops, pid=1, trace={
            "jobs": [], "stages": [], "tasks": [], "triggers": [], "phases": phases})
        raw["passes"][0]["traced"] = True
        raw["passes"].append(dict(raw["passes"][0], index=1, traced=False))
        layers, closure = metrics.per_layer(raw, [], 4)
        return layers, closure

    def test_late_execution_callback_counts_for_its_own_op(self):
        # planning of q ends at 1030; the listener bus delivers the
        # callback at 1120, after q ended and before r started, and the
        # callback of r's execution arrives at 1250, after the pass
        phases = [["analysis", 1005, 1010], ["optimization", 1010, 1020],
                  ["planning", 1020, 1030], ["execution", 1030, 1120],
                  ["planning", 1152, 1155], ["execution", 1155, 1250]]
        layers, closure = self.traced_run(phases)
        self.assertEqual(layers["catalyst.executions"], 2)
        self.assertEqual(layers["catalyst.planning_ms"], 13)
        self.assertEqual(layers["catalyst.analysis_ms"], 5)
        self.assertAlmostEqual(closure, 0.0)


class Plumbing(unittest.TestCase):
    def test_memo_lines_of_other_pids_are_ignored(self):
        lines = ["[graft pid=7 t=5000] memo miss: shinglePairStats (/d)",
                 "[graft pid=7 t=6500] shinglePairStats built in 1.50 s (9 pairs, /d)",
                 "[graft pid=8 t=6000] memo miss: simhashes (/d)",
                 "---- run start pid=7 t=4000 ----"]
        self.assertEqual(metrics.memo_events(lines, 7),
                         [("miss", "shinglePairStats", 5000.0, 5000.0),
                          ("build", "shinglePairStats", 5000.0, 6500.0)])

    def test_host_delta(self):
        s0 = [100, 0, 100, 1000, 0, 0, 0, 10]
        s1 = [400, 0, 200, 1500, 100, 0, 0, 60]
        steal, busy_other = metrics.host_delta(s0, s1, 2.0)
        self.assertEqual(steal, 0.5)
        # total 10.5 s - idle 6 s - own 2 s
        self.assertAlmostEqual(busy_other, 2.5)
        self.assertEqual(metrics.host_delta([], s1, 1.0), (-1.0, -1.0))

    def test_benchmark_json_names_every_metric(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)
        for m in spec["end_to_end"]:
            self.assertEqual(metrics.END_TO_END[m["name"]], m["unit"])
        self.assertIn("setup_s", {m["name"] for m in spec["end_to_end"]})
        self.assertLessEqual({w["name"] for w in spec["workloads"]},
                             set(workloads.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
