"""The benchmark's own tests: the canonicalizer, the tail rule, and a smoke
run of each workload on the smallest inputs.

Run from the repository root:  python3 -m unittest discover perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import canon  # noqa: E402
import stats  # noqa: E402


class CanonTest(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
        b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
        self.assertEqual(canon.digest(a), canon.digest(b))

    def test_floats_compare_at_nine_significant_digits(self):
        a = pd.DataFrame({"v": [0.1 + 0.2]})
        b = pd.DataFrame({"v": [0.3]})
        self.assertEqual(canon.compare(canon.digest(a), canon.digest(b)), "")
        c = pd.DataFrame({"v": [0.30000001]})
        self.assertEqual(canon.compare(canon.digest(a), canon.digest(c)),
                         "values differ")

    def test_nan_renders_as_nan(self):
        self.assertEqual(list(canon.canon(pd.DataFrame(
            {"v": [float("nan"), 1.5]}))["v"]), ["1.5", "NaN"])

    def test_integer_widths_are_one_kind_but_floats_are_not(self):
        i32 = pd.DataFrame({"n": pd.Series([1, 2], dtype="int32")})
        u64 = pd.DataFrame({"n": pd.Series([1, 2], dtype="uint64")})
        f64 = pd.DataFrame({"n": pd.Series([1.0, 2.0])})
        self.assertEqual(canon.compare(canon.digest(i32), canon.digest(u64)), "")
        self.assertIn("kinds", canon.compare(canon.digest(i32),
                                             canon.digest(f64)))

    def test_row_count_and_columns_are_checked(self):
        a = canon.digest(pd.DataFrame({"n": [1, 1]}))
        self.assertIn("rows", canon.compare(
            a, canon.digest(pd.DataFrame({"n": [1]}))))
        self.assertIn("columns", canon.compare(
            a, canon.digest(pd.DataFrame({"m": [1, 1]}))))


class TailRuleTest(unittest.TestCase):
    def test_no_tail_below_forty_samples(self):
        self.assertIsNone(stats.tail_percentile(39))

    def test_forty_samples_give_p75(self):
        self.assertEqual(stats.tail_percentile(40), 75)

    def test_tail_of_the_traced_pipeline_run(self):
        # 4 timed epochs of 12 cycles: p79, the 38th of 48 samples
        xs = [float(x) for x in range(48, 0, -1)]
        self.assertEqual(stats.tail(xs), (79, 38.0))
        self.assertIsNone(stats.tail(xs[:39]))

    def test_ten_samples_stay_beyond_the_tail(self):
        for n in [40, 41, 57, 100, 1000]:
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            beyond_next = sum(1 for x in xs if x > stats.percentile(xs, p + 1))
            self.assertLess(beyond_next, 10, n)

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), 3 / 3)


def _can_run() -> bool:
    data = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    return (shutil.which("java") and shutil.which("sbt")
            and os.path.isdir(os.path.join(data, "sf0.001")))


@unittest.skipUnless(_can_run(), "needs java, sbt and the sf0.001 fixture")
class SmokeTest(unittest.TestCase):
    def run_bench(self, *args):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), *args],
            cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def spec(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return json.load(fh)

    def test_queries_at_sf0_001(self):
        res = self.run_bench("--workload", "queries", "--seed", "1",
                             "--seconds", "1", "--sf", "0.001")
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(sorted(res["metrics"]),
                         sorted(m["name"] for m in self.spec()["end_to_end"]))
        self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_traced_tiny_pipeline(self):
        res = self.run_bench("--workload", "pipeline", "--seed", "1",
                             "--seconds", "1", "--scale", "tiny",
                             "--trace", "1")
        self.assertTrue(res["correct"])
        # an epoch is 2 import rounds and 12 poll cycles, and every cycle
        # loses the Task's fields (FhirSinks.writebackTasks)
        self.assertEqual(res["failed"] * 7, res["attempted"] * 6)
        self.assertEqual(sorted(res["metrics"]),
                         sorted(m["name"] for m in self.spec()["per_layer"]))
        # the reported tail is the rule's, over the run's own cycle samples
        with open(os.path.join(HERE, ".runs", "pipeline-t1",
                               "result.json")) as fh:
            samples = json.load(fh)["extra"]["cycle_samples_s"]
        self.assertGreaterEqual(len(samples), stats.TAIL_MIN_SAMPLES)
        self.assertEqual(res["metrics"]["streaming.cycle_tail_s"]["value"],
                         stats.tail(samples)[1])


if __name__ == "__main__":
    unittest.main()
