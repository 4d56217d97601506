"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'     (from the repository root)

The fingerprint test builds the engine (cached under .bench_build) and runs
two JVMs on a few queries at a tiny scale factor; the others run in seconds.
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, want in ((20, 50.0), (30, 200 / 3), (40, 75.0), (100, 90.0),
                        (1000, 99.0)):
            xs = [float(i) for i in range(n)]
            p, v, beyond = stats.tail(list(reversed(xs)))
            self.assertAlmostEqual(p, want, msg=n)
            self.assertEqual(beyond, sum(1 for x in xs if x > v))
            self.assertEqual(beyond, stats.MIN_BEYOND)
            # one percentile step higher would leave fewer than ten beyond
            self.assertEqual(sum(1 for x in xs if x > xs[xs.index(v) + 1]),
                             stats.MIN_BEYOND - 1)

    def test_too_few_samples_falls_back_to_median(self):
        p, v, beyond = stats.tail([3.0, 1.0, 2.0, 5.0])
        self.assertEqual((p, v, beyond), (50.0, 2.5, 2))


class SeededPlans(unittest.TestCase):
    QUERIES = {**{f"q_{i:03d}": {"cost_s": i / 100, "scan_s": i / 200, "fp": "x",
                                 "index_builds": []} for i in range(150)},
               **{f"q_stream_{i}": {"cost_s": i / 4, "scan_s": i / 8, "fp": "x",
                                    "index_builds": []} for i in range(12)},
               "q_index_user": {"cost_s": 0.5, "scan_s": 0.1, "fp": "x",
                                "index_builds": ["postings"]}}

    def plan(self, workload, seed, work):
        q = self.QUERIES
        orig = workloads.load_queries
        workloads.load_queries = lambda: q
        try:
            return workloads.plan(workload, seed, 10, False, "d", work)
        finally:
            workloads.load_queries = orig

    def test_same_seed_same_sample_and_order(self):
        with tempfile.TemporaryDirectory() as w:
            a = self.plan("fixed-cost-mix", 7, w)
            b = self.plan("fixed-cost-mix", 7, w)
            c = self.plan("fixed-cost-mix", 8, w)
        self.assertEqual(a["passes"], b["passes"])
        self.assertNotEqual(a["passes"], c["passes"])

    def test_every_pass_orders_one_query_per_stratum(self):
        with tempfile.TemporaryDirectory() as w:
            p = self.plan("fixed-cost-mix", 3, w)
        n_timed = round(10 / workloads.SECONDS_PER_PASS["fixed-cost-mix"])
        self.assertEqual(len(p["passes"]), workloads.WARM_PASSES + max(1, n_timed))
        panel = p["passes"][0]
        self.assertEqual(len(panel), len(set(panel)))
        self.assertNotIn("q_index_user", panel)
        for ps in p["passes"]:
            self.assertEqual(sorted(ps), sorted(panel))
        self.assertNotEqual(p["passes"][0], p["passes"][1])
        for pool, k in zip(workloads.pools(self.QUERIES),
                           (workloads.BATCH_STRATA, workloads.STREAM_STRATA)):
            costs = {n: q["scan_s"] for n, q in pool.items()}
            for g in workloads.strata(costs, k):
                self.assertEqual(len(set(panel) & set(g)), 1)

    def test_total_is_one_pass_at_each_calls_median(self):
        calls = [{"pass": 0, "name": "a", "wall_s": 9.0}]
        calls += [{"pass": i, "name": n, "wall_s": w * i}
                  for i in (1, 2, 3) for n, w in (("a", 1.0), ("b", 2.0))]
        s = stats.summarize({"calls": calls, "warm_passes": 1, "setup_s": [1.0],
                             "heap_mb": 1.0})
        self.assertAlmostEqual(s["total_s"], 2.0 + 4.0)    # warm pass left out
        self.assertEqual((s["samples"], s["passes"], s["attempted"]), (6, 3, 7))

    def test_same_seed_same_sketch_keys(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            pa_, pb, pc = (self.plan("sketch-throughput", s, d) for s, d in ((5, a), (5, b), (6, c)))
            self.assertEqual(pa_["passes"], pb["passes"])
            for f in ("keys", "probes"):
                self.assertTrue(filecmp.cmp(pa_["sketch"][f], pb["sketch"][f], shallow=False))
                self.assertFalse(filecmp.cmp(pa_["sketch"][f], pc["sketch"][f], shallow=False))
            self.assertEqual(pa_["sketch"]["distinct"], pb["sketch"]["distinct"])


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], stats.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(workloads.WORKLOADS))


class FingerprintStability(unittest.TestCase):
    """The same queries fingerprint identically in two separate JVMs."""
    NAMES = "q_tpch_q1,q_bloom_probe,q_cuckoo_filter,q_stream_tumbling,q_minhash_neardup"

    def test_two_runs_agree(self):
        import run
        os.makedirs(run.OUT, exist_ok=True)
        cp = run.build()
        data = run.ensure_data(0.001)
        fps = []
        with tempfile.TemporaryDirectory(dir=run.OUT) as w:
            os.makedirs(os.path.join(w, "tmp"))
            for i in range(2):
                out = os.path.join(w, f"scan{i}.json")
                cmd = run.java_cmd(cp, w, "graft.perfbench.Scan",
                                   [data, out, w, "-", self.NAMES], "2g")
                self.assertEqual(run.run_group(cmd, out + ".log", 600, cwd=w), 0)
                with open(out) as f:
                    fps.append({n: q.get("fp") for n, q in json.load(f).items()})
        self.assertEqual(fps[0], fps[1])
        self.assertTrue(all(fps[0].values()), fps[0])


if __name__ == "__main__":
    unittest.main()
