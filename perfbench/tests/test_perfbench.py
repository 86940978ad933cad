"""The benchmark's own tests:

    python3 -m unittest discover -s perfbench/tests

The last test builds the program and runs one short pass in a JVM."""
import datetime
import math
import os
import shutil
import statistics
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import oracle  # noqa: E402
import check_oracle  # noqa: E402  (importable once oracle is)
import run  # noqa: E402
import stats  # noqa: E402
from workloads import Workload  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertEqual(stats.median(xs), 4.0)
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5))
        self.assertAlmostEqual(stats.spread(xs), (q[2] - q[0]) / 4.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(39))))
        self.assertEqual(stats.tail(list(range(1, 41))), (75.0, 30))
        self.assertEqual(stats.tail(list(range(1, 200)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(1, 201))), (95.0, 190))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        for n in (40, 199, 200, 1000, 10000):
            p, v = stats.tail(list(range(1, n + 1)))
            self.assertGreaterEqual(sum(1 for x in range(1, n + 1) if x > v), 10)


def result(cpus=4, sf="sf0.01:abc", bench="b1", commit="c1", wall=10.0, workload="elt"):
    return {"workload": workload, "correct": True,
            "fingerprint": {"box": {"cpus": cpus, "xmx": "4g", "jdk": "17", "spark": "4.1.2"},
                            "sf": sf, "bench": bench, "commit": commit},
            "metrics": {"wall_s": wall}}


class FingerprintTest(unittest.TestCase):
    def test_refuses_other_box(self):
        with self.assertRaisesRegex(ValueError, "box.cpus: 4 != 32"):
            compare.compare([result()], [result(cpus=32)], {"wall_s": 0.1})

    def test_refuses_other_data(self):
        with self.assertRaisesRegex(ValueError, "sf: sf0.01:abc != sf0.1:def"):
            compare.compare([result()], [result(sf="sf0.1:def")], {"wall_s": 0.1})

    def test_refuses_other_benchmark(self):
        with self.assertRaisesRegex(ValueError, "bench: b1 != b2"):
            compare.compare([result()], [result(bench="b2")], {"wall_s": 0.1})

    def test_compares_commits_on_one_box(self):
        lines, worse = compare.compare([result(wall=10.0)], [result(commit="c2", wall=12.0)],
                                       {"wall_s": 0.1})
        self.assertTrue(worse)
        self.assertIn("WORSE", lines[0])
        _, worse = compare.compare([result(wall=10.0)], [result(commit="c2", wall=10.5)],
                                   {"wall_s": 0.1})
        self.assertFalse(worse)


def step(name, secs, ok=True):
    return {"name": name, "start_s": 0.0, "end_s": secs, "ok": ok,
            "error": "" if ok else "java.lang.RuntimeException: injected"}


def a_pass(wall, steps):
    return {"wall_s": wall, "setup_s": 6.0, "cpu_s": 20.0, "peak_rss_mb": 1500.0,
            "steps": steps}


class FailureAccountingTest(unittest.TestCase):
    def test_thrown_gate_counts_as_error_not_as_fast_run(self):
        clean = a_pass(20.0, [step("q_a", 10.0), step("q_b", 10.0)])
        thrown = a_pass(0.5, [step("q_a", 0.4), step("q_b", 0.1, ok=False)])
        self.assertEqual(run.account([clean, thrown]), (4, 1))
        e2e, samples, lat = run.end_to_end([clean, thrown])
        self.assertEqual(samples["wall_s"], [20.0])
        self.assertEqual(e2e["wall_s"], 20.0)
        self.assertEqual(lat, [10.0, 10.0])
        self.assertEqual(run.end_to_end([thrown]), ({}, {}, []))  # no timing from a failed pass

    def test_crashed_jvm_counts_as_failure(self):
        self.assertEqual(run.account([{"crashed": True, "steps": []}]), (1, 1))


class OracleTest(unittest.TestCase):
    def test_hash_is_check_oracle_hash(self):
        df = pd.DataFrame({
            "b": [1.5, float("nan"), 0.1 + 0.2, None],
            "a": ["x", None, "z", "w"],
            "d": [datetime.date(2020, 1, 2), None, datetime.date(1999, 12, 31),
                  datetime.date(2000, 2, 29)],
            "i": [3, 1, 2, 2]})
        c = check_oracle.canon(df)
        self.assertEqual(oracle.table_hash(c), check_oracle.table_hash(c))

    def test_projection_only_when_asked(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "t.parquet")
            pd.DataFrame({"k": [1, 2], "extra": [9, 9]}).to_parquet(path)
            want = oracle.digest(pd.DataFrame({"k": [2, 1]}))
            self.assertEqual(oracle.check(path, want, project=True)[0], "ok")
            self.assertEqual(oracle.check(path, want)[0], "mismatch")
            self.assertEqual(oracle.check(path, {"unverified": "slow"})[0], "unverified")


class InjectedThrowTest(unittest.TestCase):
    """A gate that throws inside the harness JVM is recorded as failed."""

    def test_unknown_gate_throws_and_is_counted(self):
        run.spark_home()
        os.makedirs(os.path.join(run.WORK, "runs"), exist_ok=True)
        run.ensure_build("-".join(run.code_hashes()))
        w = Workload("inject", "sf0.001", [])
        res, out_dir = run.run_pass(w, ["q_dim_rate_code", "q_no_such_gate"], False, "inject-test")
        self.addCleanup(shutil.rmtree, out_dir, True)
        self.assertFalse(res.get("crashed"))
        cache, sql = run.oracles(w)
        sql = dict(sql, q_no_such_gate="SELECT 1")
        run.check_pass(w, res, out_dir, cache, sql)
        ok = {s["name"]: s["ok"] for s in res["steps"]}
        self.assertTrue(ok["q_dim_rate_code"])
        self.assertFalse(ok["q_no_such_gate"])
        self.assertEqual(run.account([res]), (2, 1))
        self.assertEqual(run.end_to_end([res]), ({}, {}, []))
        self.assertTrue(math.isfinite(res["wall_s"]))


if __name__ == "__main__":
    unittest.main()
