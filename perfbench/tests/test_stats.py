"""Tests of the benchmark's own statistics and its metric list.

Run from the repository root:
    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, p, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)  # 91..100 are the ten beyond it
        self.assertEqual(p, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_small_samples_report_the_interpolated_p90(self):
        v, p, n = stats.tail([3.0, 1.0, 2.0])
        self.assertAlmostEqual(v, 2.8)
        self.assertEqual((p, n), (90.0, 3))
        v, p, n = stats.tail(list(range(20)))
        self.assertAlmostEqual(v, 17.1)
        self.assertEqual((p, n), (90.0, 20))
        self.assertEqual(stats.tail([7.0]), (7.0, 90.0, 1))
        self.assertEqual(stats.tail(list(range(21)))[0], 10)

    def test_one_slow_sample_does_not_set_the_small_sample_tail(self):
        xs = [100.0] * 15 + [400.0]
        self.assertLess(stats.tail(xs)[0], 400.0)

    def test_empty(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8]), 4.0)
        self.assertAlmostEqual(stats.geomean([5]), 5.0)

    def test_ignores_non_positive_and_empty(self):
        self.assertAlmostEqual(stats.geomean([0, 4, 16]), 8.0)
        self.assertEqual(stats.geomean([]), 0.0)

    def test_query_map(self):
        runs = [{"layers": {"queries.a.ms": 10.0, "queries.b.ms": 1000.0, "queries.tasks": 5}},
                {"layers": {"queries.a.ms": 30.0, "queries.b.ms": 1000.0, "queries.tasks": 5}}]
        g, n = compare.query_geomean(runs)
        self.assertEqual(n, 2)
        self.assertAlmostEqual(g, (20.0 * 1000.0) ** 0.5)


class ChunkAccounting(unittest.TestCase):
    def test_closed_loop(self):
        acc = stats.chunk_accounting([1500.0, 1600.0, 2100.0], timed_wall_s=5.2, streams=32)
        self.assertEqual(acc["chunks"], 3)
        self.assertEqual(acc["video_s"], 32 * 2.0 * 3)
        self.assertAlmostEqual(acc["video_s_per_s"], 192.0 / 5.2)
        self.assertAlmostEqual(acc["chunks_per_s"], 3 / 5.2)
        self.assertEqual(acc["over_deadline"], 1)

    def test_no_wall_time(self):
        self.assertEqual(stats.chunk_accounting([], 0.0, 8)["video_s_per_s"], 0.0)


class ErrorAccounting(unittest.TestCase):
    def test_clean(self):
        e = stats.error_accounting(100, 0, 5, 0)
        self.assertEqual((e["attempted"], e["failed"], e["error_rate"]), (105, 0, 0.0))

    def test_oracle_failures_count(self):
        e = stats.error_accounting(10, 1, 5, 2)
        self.assertEqual((e["attempted"], e["failed"]), (15, 3))
        self.assertAlmostEqual(e["error_rate"], 0.2)

    def test_nothing_attempted_is_an_error(self):
        self.assertEqual(stats.error_accounting(0, 0)["error_rate"], 1.0)

    def test_oracle_verdicts(self):
        out = ("PASS q01 (6 rows)\n"
               "FAIL q06: rows 3 vs 4\n"
               "PASS q07 (2 rows)  [dtype diff: ['int64'] vs ['int32']]\n"
               "\n2 passed, 1 failed\n")
        v = run.check_verdicts(out, "", ["q01", "q06", "q07", "n05"])
        self.assertEqual([(n, ok) for n, ok, _ in v],
                         [("q01", True), ("q06", False), ("q07", True), ("n05", False)])
        self.assertIn("no PASS or FAIL line", v[3][2])

    def test_oracle_crash_fails_every_query(self):
        v = run.check_verdicts("", "Traceback ...\nModuleNotFoundError: duckdb\n", ["a", "b"])
        self.assertEqual([ok for _, ok, _ in v], [False, False])
        self.assertIn("duckdb", v[0][2])


class Compare(unittest.TestCase):
    def test_pair_wins_and_verdict(self):
        a = [10.0, 10.5, 9.8, 10.2, 10.1]
        b = [8.0, 8.2, 8.1, 7.9, 10.1]
        self.assertEqual(stats.pair_wins(a, b, "lower"), (4, 0, 5))  # the tie counts for neither
        b = [8.0, 8.2, 8.1, 7.9, 8.05]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1), "better")
        self.assertEqual(compare.verdict(a, a, "lower", 0.1), "same")
        self.assertEqual(compare.verdict([1, 10, 1, 10], a, "lower", 0.1), "unresolved")
        self.assertEqual(compare.verdict(a, b, "higher", 0.1), "worse")


class BenchmarkFile(unittest.TestCase):
    def test_matches_metric_list(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as f:
            self.assertEqual(json.load(f), metrics.benchmark_json())

    def test_contract_limits(self):
        b = metrics.benchmark_json()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)
        self.assertTrue(all(len(n) <= 64 for n in names))
        self.assertTrue(all(m["bound"] <= 0.25 for m in b["end_to_end"]))
        self.assertEqual(max(m["bound"] for m in b["end_to_end"]),
                         next(m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s"))
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(all(len(w["why"]) <= 200 for w in b["workloads"]))
        self.assertLessEqual(len(b["per_layer"]), 128)


if __name__ == "__main__":
    unittest.main()
