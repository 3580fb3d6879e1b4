"""Checks for the benchmark's own rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke test runs every workload end to end, untraced and traced, with
`--seconds 1` on its sf0.001 tables (several minutes, compiling the program
first); it runs only with PERFBENCH_SMOKE=1.
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_above(self):
        self.assertEqual(M.tail(list(range(1, 201))), (95, 190))
        # the surface's old 172 keys: p95 has only 8 above, p90 has 17
        self.assertEqual(M.tail(list(range(1, 173))), (90, 155))

    def test_median_alone_when_too_few(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(M.tail(xs), (50, 3))
        self.assertEqual(M.tail(list(range(19))), (50, 9))

    def test_nearest_rank(self):
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)
        self.assertEqual(M.percentile(list(range(1, 11)), 90), 9)


class SpanSelfTime(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        self.assertEqual(M.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)

    def test_no_children(self):
        self.assertEqual(M.self_time((2, 7), []), 5)

    def test_jobs_attach_to_innermost_open_span(self):
        spans = [
            {"id": 0, "parent": -1, "name": "key:a", "layer": "op", "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "name": "builder", "layer": "builders", "t0": 0, "t1": 40},
            {"id": 2, "parent": 0, "name": "execute", "layer": "exec", "t0": 50, "t1": 100},
        ]
        job = {"stages": 1, "tasks": 4, "run_ms": 0, "cpu_ns": 0, "in_b": 0,
               "sr_b": 0, "sw_b": 0, "spill_b": 0, "out_b": 0}
        jobs = [dict(job, id=7, t0=10, t1=30), dict(job, id=8, t0=60, t1=90),
                dict(job, id=9, t0=45, t1=48)]
        nodes, kids = M.span_tree(spans, jobs)
        parents = {n["name"]: n["parent"] for n in nodes.values()
                   if n["layer"] == "exec.job"}
        self.assertEqual(parents, {"job7": 1, "job8": 2, "job9": 0})
        # key:a covers 0..100; children cover 0..40, 45..48 and 50..100
        self.assertAlmostEqual(M.node_self_s(nodes, kids, 0), 0.007)
        rows = M.trace_rows(nodes, kids)
        self.assertEqual(rows[0]["jobs"], 3)
        self.assertEqual(rows[0]["builder_jobs"], 1)


class LayerMetrics(unittest.TestCase):
    def test_operation_layers_sum_over_the_traced_phase_only(self):
        job = {"stages": 2, "tasks": 8, "run_ms": 400, "cpu_ns": 3e8, "in_b": 1 << 20,
               "sr_b": 0, "sw_b": 0, "spill_b": 0, "out_b": 0}
        spans = [
            {"id": 0, "parent": -1, "name": "phase", "layer": "workload", "t0": 0, "t1": 1000},
            {"id": 1, "parent": 0, "name": "key:a", "layer": "op", "t0": 0, "t1": 1000},
            {"id": 2, "parent": 1, "name": "builder", "layer": "builders", "t0": 0, "t1": 300,
             "rule_ms": 120},
            {"id": 3, "parent": 1, "name": "execute", "layer": "exec", "t0": 300, "t1": 1000},
            # a probe after the phase: its builder and rule time must not count
            {"id": 4, "parent": -1, "name": "sweep", "layer": "sweep", "t0": 1100, "t1": 1500},
            {"id": 5, "parent": 4, "name": "builder", "layer": "builders", "t0": 1100, "t1": 1200,
             "rule_ms": 50},
        ]
        jobs = [dict(job, id=1, t0=100, t1=200), dict(job, id=2, t0=400, t1=900),
                dict(job, id=3, t0=1150, t1=1190)]
        raw = {"pass_s": [2.0], "gc_s": 0.1,
               "traced": {"spans": spans, "jobs": jobs, "ops": [], "pass_s": [2.2],
                          "untraced_after_pass_s": [2.0]}}
        m, _ = M.layer_metrics(raw, cpus=4)
        self.assertAlmostEqual(m["builders.build_s"], 0.3)
        # analysis is the rule time recorded on the phase's builder spans
        self.assertAlmostEqual(m["catalyst.analyze_s"], 0.12)
        # builder jobs count the probe's builder too
        self.assertEqual(m["builders.jobs"], 2)
        self.assertEqual(m["builders.keys_with_jobs"], 2)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.stages"], 4)
        self.assertAlmostEqual(m["exec.driver_gap_s"], 0.4)
        self.assertAlmostEqual(m["exec.slot_busy_frac"], 0.8 / 4)
        self.assertEqual(m["sweep.jobs"], 1)
        self.assertAlmostEqual(m["sweep.s"], 0.4)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1)


class ErrorRate(unittest.TestCase):
    def test_exceptions_and_mismatches_count(self):
        expected = {"a": 10, "b": 5}
        ops = [
            {"kind": "key", "name": "a", "ok": True, "rows": 10},
            {"kind": "key", "name": "a", "ok": False, "rows": -1},   # raised
            {"kind": "key", "name": "b", "ok": True, "rows": 6},     # wrong count
            {"kind": "key", "name": "c", "ok": True, "rows": 1},     # no record
            {"kind": "point", "name": "1:5", "ok": True, "rows": 0},
            {"kind": "point", "name": "1:6", "ok": False, "rows": 2},  # mismatch
        ]
        self.assertEqual(M.error_rate(ops, expected), 4 / 6)

    def test_no_operations_is_all_errors(self):
        self.assertEqual(M.error_rate([], {}), 1.0)


class Stamp(unittest.TestCase):
    def test_steal_share_of_the_ticks_between_two_readings(self):
        t0 = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
        t1 = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
        self.assertAlmostEqual(run.steal_frac(t0, t1), 10 / 100)
        self.assertIsNone(run.steal_frac(None, t1))
        self.assertIsNone(run.steal_frac(t0, t0))


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1", "set PERFBENCH_SMOKE=1")
class Smoke(unittest.TestCase):
    def test_every_workload(self):
        for w in sorted(run.WORKLOADS):
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    p = subprocess.run(
                        [sys.executable, run.__file__, "--workload", w, "--seed", "1",
                         "--seconds", "1", "--trace", str(trace)],
                        capture_output=True, text=True, timeout=400)
                    self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                    last = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertTrue(last["correct"], p.stderr[-2000:])
                    self.assertEqual(last["failed"], 0)
                    names = run.PER_LAYER if trace else run.END_TO_END
                    self.assertEqual(set(last["metrics"]), {n for n, _ in names})


if __name__ == "__main__":
    unittest.main()
