"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test makes a short traced run (it compiles the engine on first
use, so it needs Java and the Spark jars).
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def op(name, fp, expected_fp, ok=True, error="", kind="query", wall=1.0, traced=False, id=0):
    return {"id": id, "kind": kind, "name": name, "traced": traced, "wall_s": wall,
            "cpu_s": wall, "fp": fp, "expected_fp": expected_fp, "ok": ok, "error": error}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(benchlib.percentile(xs, 50), 3)
        self.assertEqual(benchlib.percentile(xs, 80), 4)
        self.assertEqual(benchlib.percentile(range(1, 101), 90), 90)

    def test_needs_ten_samples_beyond(self):
        self.assertEqual(benchlib.percentile(range(20), 50), 9)    # exactly 10 beyond
        self.assertEqual(benchlib.percentile(range(100), 90), 89)  # exactly 10 beyond
        for xs, p in ((range(19), 50), (range(99), 90), ([], 50)):
            with self.assertRaises(ValueError):
                benchlib.percentile(xs, p)


class FailureCountTest(unittest.TestCase):
    def test_planted_wrong_fingerprint(self):
        ops = [op("q1", "10:1:2", "10:1:2"), op("q2", "5:3:4", "5:3:4"),
               op("q3", "7:0:0", "7:0:0")]
        self.assertEqual(benchlib.count_failures(ops), (3, 0))
        ops[1]["expected_fp"] = "5:3:5"
        self.assertEqual(benchlib.count_failures(ops), (3, 1))

    def test_throws_and_failed_checks_count(self):
        ops = [op("a", "", "1:1:1", ok=False, error="boom"),
               op("b", "", "", ok=False, kind="pipeline.rerun"),
               op("c", "", "", kind="gold.refresh"),
               op("d", "2:2:2", "2:2:2")]
        self.assertEqual(benchlib.count_failures(ops), (4, 2))

    def test_failed_op_takes_the_slowest_latency(self):
        ops = [op("a", "1:1:1", "1:1:1", wall=0.5), op("b", "1:1:1", "9:9:9", wall=0.1),
               op("c", "1:1:1", "1:1:1", wall=2.0)]
        self.assertEqual(benchlib.latencies(ops), [0.5, 2.0, 2.0])


class TypicalLatencyTest(unittest.TestCase):
    def test_geometric_mean_of_each_operations_median(self):
        ops = [op("a", "", "", wall=w) for w in (1.0, 9.0, 4.0)]
        ops += [op("kr_etf_old/2019-01-0%d" % d, "", "", kind="ingest", wall=w)
                for d, w in ((2, 0.25), (3, 0.5), (4, 0.75))]
        ops.append(op("gold", "", "", kind="gold.refresh", wall=100.0))  # not a latency sample
        self.assertAlmostEqual(benchlib.typical_latency(ops), (4.0 * 0.5) ** 0.5)

    def test_failed_op_takes_the_slowest_latency(self):
        ops = [op("a", "1:1:1", "1:1:1", wall=w) for w in (1.0, 2.0, 3.0)]
        ops += [op("b", "1:1:1", "1:1:1", wall=0.5), op("b", "1:1:1", "1:1:1", wall=0.5),
                op("b", "1:1:1", "9:9:9", wall=0.5)]
        self.assertAlmostEqual(benchlib.typical_latency(ops), (2.0 * 0.5) ** 0.5)
        ops[4]["error"] = "boom"  # two of b's three samples now count as 3.0
        self.assertAlmostEqual(benchlib.typical_latency(ops), (2.0 * 3.0) ** 0.5)

    def test_needs_a_sample_beyond_each_median(self):
        with self.assertRaises(ValueError):
            benchlib.typical_latency([op("a", "", "", wall=1.0), op("b", "", "", wall=1.0)])


class IntervalTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(benchlib.union_length([]), 0)
        self.assertEqual(benchlib.union_length([(0, 10), (20, 30)]), 20)
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (14, 16)]), 16)
        self.assertEqual(benchlib.union_length([(0, 100), (10, 20), (30, 40)]), 100)
        self.assertEqual(benchlib.union_length([(0, 10), (10, 20)]), 20)

    def test_clipped_to_the_operation(self):
        self.assertEqual(benchlib.union_length([(-5, 5), (8, 30)], 0, 20), 17)
        self.assertEqual(benchlib.union_length([(25, 30)], 0, 20), 0)

    def test_self_time(self):
        # op: build [0,40] with a job [10,20]; exec [40,100] with plan [40,50]
        # and jobs [55,70], [60,90]
        spans = [[1, 1, 0, "build", 0, 40], [1, 2, 0, "exec", 40, 100]]
        extra = [(1, "jobs", 10, 20), (2, "plan", 40, 50), (2, "jobs", 55, 70),
                 (2, "jobs", 60, 90)]
        st = benchlib.self_times(spans, extra)
        self.assertEqual(st, {"build": 30, "exec": 15, "plan": 10, "jobs": 45})
        self.assertEqual(sum(st.values()), 100)


class SeedTest(unittest.TestCase):
    expected = {n: {"fp": "", "cost_s": 1.0} for n in benchlib.MIX + benchlib.WARMUP}

    def plan(self, seed, trace=False):
        return benchlib.query_plan(seed, self.expected, passes=3, trace=trace)["ops"]

    def test_same_seed_same_order_and_payloads(self):
        self.assertEqual(self.plan(7), self.plan(7))
        self.assertEqual(benchlib.platform_plan(7, 30, False, 30), benchlib.platform_plan(7, 30, False, 30))
        self.assertEqual(benchlib.payloads(7), benchlib.payloads(7))

    def test_different_seeds_differ(self):
        self.assertNotEqual(self.plan(7), self.plan(8))
        self.assertNotEqual(benchlib.platform_plan(7, 30, False, 30)["ops"],
                            benchlib.platform_plan(8, 30, False, 30)["ops"])
        self.assertNotEqual(benchlib.payloads(7), benchlib.payloads(8))

    def test_every_pass_is_the_whole_mix(self):
        ops = self.plan(1)
        self.assertEqual([o["name"] for o in ops if o["pass"] == 0], benchlib.MIX)
        for p in range(1, 4):
            names = [o["name"] for o in ops if o["pass"] == p]
            self.assertEqual(sorted(names), sorted(benchlib.MIX))

    def test_passes_follow_seconds(self):
        self.assertEqual(benchlib.query_passes(1, self.expected), 1)
        self.assertEqual(benchlib.query_passes(42, self.expected), 3)  # 14 queries at 1 s

    def test_traced_plan_pairs_each_query(self):
        ops = [o for o in self.plan(1, trace=True) if o["pass"] > 0]
        for a, b in zip(ops[::2], ops[1::2]):
            self.assertEqual(a["name"], b["name"])
            self.assertNotEqual(a["traced"], b["traced"])

    def test_payload_rows(self):
        files = benchlib.payloads(1)
        etf = [v for k, v in files.items() if k.startswith("kr_etf_old/")]
        self.assertEqual(len(etf), benchlib.DAYS)
        self.assertEqual(json.loads(etf[0])["output"].__len__(), benchlib.ETF_ROWS)
        codes = [v for k, v in files.items() if k.startswith("krx_codes/")]
        self.assertEqual(len(json.loads(codes[0])), benchlib.CODE_ROWS)

    def test_cycles_follow_seconds(self):
        self.assertEqual(benchlib.platform_plan(1, 12, False, 30)["cycles"], 1)
        self.assertEqual(benchlib.platform_plan(1, 60, False, 20)["cycles"], 3)


class TracedRunTest(unittest.TestCase):
    def test_layers_account_for_the_wall_time(self):
        with tempfile.TemporaryDirectory() as tmp:
            keep = os.path.join(tmp, "raw.json")
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", "queries",
                 "--seed", "5", "--seconds", "6", "--trace", "1", "--keep", keep],
                capture_output=True, text=True, timeout=900)
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            last = r.stdout.strip().splitlines()[-1]
            self.assertLess(len(last.encode()), 2048)
            line = json.loads(last)
            with open(keep) as f:
                raw = json.load(f)
        self.assertTrue(line["correct"])
        m = {k: v["value"] for k, v in line["metrics"].items()}
        traced = [o for o in raw["ops"] if o["traced"]]
        self.assertTrue(traced and raw["spans"] and raw["jobs"] and raw["queries"])
        wall = sum(o["wall_s"] for o in traced) / len(traced)
        plan = m["plan.optimization_s"] + m["plan.planning_s"]
        layers = m["self.build_s"] + plan + m["self.exec_s"] + m["self.jobs_s"]
        self.assertLess(abs(layers - wall), 0.1 * wall, (layers, wall))
        self.assertGreater(m["self.jobs_s"], 0)
        self.assertGreater(plan, 0)


if __name__ == "__main__":
    unittest.main()
