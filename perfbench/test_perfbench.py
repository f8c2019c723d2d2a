"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The fast tests need only Python, numpy, pandas and duckdb. The tests that
run the harness end to end (a deliberately failing operation, a checkout
without the engine) start a JVM; they run when PERFBENCH_SLOW=1.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SLOW = os.environ.get("PERFBENCH_SLOW") == "1"


def op(i, key, wall, phase="measure", error=""):
    return {"id": i, "key": key, "phase": phase, "start_ms": i, "end_ms": i + 1,
            "wall_s": wall, "build_s": 0.0, "cpu_s": wall, "rows": 1, "fp": "f", "error": error}


def result(ops):
    return {"ops": ops, "setup_wall_s": [3.0, 1.0, 1.1], "setup_cpu_s": [9.0, 2.0, 1.5],
            "canary_s": [0.3, 0.3, 0.31],
            "peak_rss_mb": 100.0, "oracles": {}, "steal_frac": 0.01}


class SeededInputs(unittest.TestCase):
    def test_open_loop_input_and_key_order_follow_the_seed(self):
        a = datagen.schedule(7, 5000, run.OPEN_KEYS)
        self.assertTrue(a.equals(datagen.schedule(7, 5000, run.OPEN_KEYS)))
        b = datagen.schedule(8, 5000, run.OPEN_KEYS)
        self.assertFalse(a["user_id"].equals(b["user_id"]))

    def test_closed_loop_order_follows_the_seed(self):
        for w in run.POOLS:
            self.assertEqual(run.plan(w, 3), run.plan(w, 3))
            self.assertNotEqual(run.plan(w, 3), run.plan(w, 4))
            self.assertTrue(all(sorted(p) == sorted(run.POOLS[w]) for p in run.plan(w, 3)))

    def test_tables_follow_the_seed(self):
        a, b, c = (datagen.tables(s, 0.001) for s in (5, 5, 6))
        for name in datagen.TABLES:
            self.assertTrue(a[name].astype(str).equals(b[name].astype(str)), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_open_loop_keys_are_skewed(self):
        counts = datagen.schedule(1, 20000, run.OPEN_KEYS)["user_id"].value_counts()
        self.assertGreater(counts.iloc[0], 20 * counts.median())


class Percentiles(unittest.TestCase):
    def test_a_percentile_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.percentile(range(1, 21), 0.5), 10)
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile(range(1, 20), 0.5)
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile(range(999), 0.99)

    def test_a_run_with_too_few_ops_is_not_correct(self):
        out = metrics.closed_loop(result([op(i, "q_a", 1.0) for i in range(12)]),
                                  checks.Verdict(), trace=0)["result"]
        self.assertFalse(out["correct"])


class FailureAccounting(unittest.TestCase):
    def test_a_thrown_error_is_failed_and_never_fast(self):
        ops = [op(i, "q_a", 1.0) for i in range(30)] + \
              [op(30 + i, "q_b", 0.001, error="boom") for i in range(30)]
        out = metrics.closed_loop(result(ops), checks.Verdict(), trace=0)
        r = out["result"]
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (60, 30))
        self.assertEqual(out["detail"]["failed_frac"], 0.5)
        # the fast failures cost CPU, add no operation and no throughput,
        # and sit above every success in the latency order
        self.assertAlmostEqual(r["metrics"]["cpu_ms_per_op"]["value"], 1000 * 30.03 / 30)
        self.assertAlmostEqual(out["detail"]["ops_per_s"], round(30 / 30.03, 4))
        self.assertEqual(out["detail"]["op_p50_s"], 1.0)

    def test_a_wrong_result_is_failed(self):
        v = checks.Verdict()
        v.fail("q_b", "value mismatch")
        ops = [op(i, "q_a" if i % 2 else "q_b", 0.5) for i in range(40)]
        r = metrics.closed_loop(result(ops), v, trace=0)["result"]
        self.assertEqual(r["failed"], 20)
        self.assertFalse(r["correct"])

    def test_warm_up_ops_are_checked_but_not_timed(self):
        ops = [op(0, "q_a", 100.0, phase="warm")] + [op(i, "q_a", 1.0) for i in range(1, 31)]
        out = metrics.closed_loop(result(ops), checks.Verdict(), trace=0)
        self.assertTrue(out["result"]["correct"])
        self.assertEqual(out["result"]["attempted"], 31)
        self.assertEqual(out["detail"]["op_p50_s"], 1.0)


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], metrics.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_canary_marks_a_contended_run(self):
        res = result([])
        self.assertEqual(metrics.canary(res)[1], 0)
        res["canary_s"] = [0.3, 0.5, 0.3]
        self.assertEqual(metrics.canary(res)[1], 1)
        res = result([])
        res["steal_frac"] = 0.2
        self.assertEqual(metrics.canary(res)[1], 1)


@unittest.skipUnless(SLOW, "starts a JVM; set PERFBENCH_SLOW=1")
class EndToEnd(unittest.TestCase):
    def bench(self, cwd, *args):
        return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                              cwd=cwd, capture_output=True, text=True, timeout=600)

    def test_a_deliberately_failing_operation_shows_in_failed(self):
        p = self.bench(ROOT, "--workload", "llm_pipeline", "--seed", "1", "--seconds", "2",
                       "--trace", "0", "--fail", "q_text_stats")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        self.assertIn('"failed_frac": ', p.stderr)

    def test_without_the_engine_it_exits_nonzero_and_prints_no_result(self):
        bdir = os.path.join(ROOT, ".bench_build")
        os.makedirs(bdir, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=bdir) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = self.bench(d, "--workload", "stream_open", "--seed", "1", "--seconds", "2",
                           "--trace", "0")
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
