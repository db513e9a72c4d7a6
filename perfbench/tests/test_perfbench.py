"""The benchmark's own tests.

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests -v
The JVM tests build the engine on first use, like a benchmark run.
"""
import json
import re
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import op_times  # noqa: E402
import run as bench  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        v, n = bench.percentile([3.0, 1.0, 2.0, 4.0], 0.5)
        self.assertEqual((v, n), (2.5, 4))

    def test_p90_refuses_short_tail(self):
        with self.assertRaises(bench.BenchError):
            bench.p90_with_tail([float(i) for i in range(91)])
        v, n, beyond = bench.p90_with_tail([float(i) for i in range(111)])
        self.assertEqual((n, beyond), (111, 11))
        self.assertAlmostEqual(v, 99.0)

    def test_ties_do_not_count_as_beyond(self):
        with self.assertRaises(bench.BenchError):
            bench.p90_with_tail([1.0] * 500)


class WorkloadTest(unittest.TestCase):
    def test_warm_passes_give_the_p90_its_tail(self):
        for name, wl in bench.load_workloads().items():
            for trace in (False, True):
                with self.subTest(workload=name, trace=trace):
                    n = bench.warm_passes(wl, trace) * len(wl["ops"])
                    bench.p90_with_tail([float(i) for i in range(n)], wl["p90_min_tail"])

    def test_op_lists_follow_the_selection_rules(self):
        times = json.loads(op_times.FILE.read_text())["workloads"]
        workloads = bench.load_workloads()
        self.assertEqual(set(op_times.RULES), set(workloads))
        for name, (candidates, _) in op_times.CANDIDATES.items():
            with self.subTest(workload=name):
                self.assertEqual(set(times[name]), set(candidates))
                self.assertEqual(workloads[name]["ops"],
                                 op_times.select(times[name], **op_times.RULES[name]))

    def test_selection_rule(self):
        times = {"a": {"module": "M", "warm_ms_median": 1.0, "graft_nodes": 0},
                 "b": {"module": "M", "warm_ms_median": 2.0, "graft_nodes": 0},
                 "c": {"module": "N", "warm_ms_median": 4.0, "graft_nodes": 0},
                 "d": {"module": "N", "warm_ms_median": 3.0, "graft_nodes": 0},
                 "e": {"module": "M", "warm_ms_median": 9.0, "graft_nodes": 2}}
        self.assertEqual(op_times.select(times, 2, True), ["a", "b", "d", "e"])
        self.assertEqual(op_times.select(times, 0, False), ["a", "d"])


class JvmTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = bench.build()

    def jvm(self, mode, cores=2, **kw):
        with bench.RunDir() as rd:
            res, _, _ = bench.run_jvm(self.cp, rd, mode, cores, mode, **kw)
        return res

    def test_listener_matches_status_tracker(self):
        r = self.jvm("selftest")
        self.assertGreater(r["tracker_jobs"], 0)
        self.assertEqual(r["listener_jobs"], r["tracker_jobs"])
        self.assertEqual(r["listener_stages"], r["tracker_stages"])
        self.assertEqual(r["listener_tasks"], r["tracker_tasks"])

    def test_workload_ops_exist_in_their_modules(self):
        inv = self.jvm("inventory", cores=1)
        queries = set(inv["queries"])
        spec = json.loads((bench.ROOT / "BENCHMARK.json").read_text())
        module_metrics = {m["name"][len("ops."):-len(".s")] for m in spec["per_layer"]
                          if re.fullmatch(r"ops\.[A-Za-z]+\.s", m["name"])}
        self.assertEqual(len(module_metrics), 15)
        ops_dir = bench.ROOT / "src" / "main" / "scala" / "graft" / "ops"
        for name, wl in bench.load_workloads().items():
            for op in wl["ops"]:
                with self.subTest(workload=name, op=op):
                    self.assertIn(op, queries)
                    module = inv["modules"][op]
                    self.assertIn(module, module_metrics)
                    src = (ops_dir / f"{module}.scala").read_text()
                    self.assertRegex(src, rf'\n\s*"{op}"\s*->')

    def test_workloads_match_benchmark_json(self):
        spec = json.loads((bench.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(bench.load_workloads()))
        expected = json.loads((bench.HERE / "expected.json").read_text())
        for wl in bench.load_workloads().values():
            for op in wl["ops"]:
                self.assertIn(op, expected)


if __name__ == "__main__":
    unittest.main()
