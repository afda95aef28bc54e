"""Self-tests for the benchmark's arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import pathlib
import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_ten_samples_stay_beyond_the_reported_one(self):
        values = list(range(1, 21))  # 1..20, shuffled order must not matter
        v, pct, n = metrics.tail(values[::-1])
        self.assertEqual(v, 10)
        self.assertEqual(sum(1 for x in values if x > v), 10)
        self.assertEqual(pct, 50.0)
        self.assertEqual(n, 20)

    def test_eleven_samples_give_the_minimum(self):
        v, pct, n = metrics.tail([5.0] + [9.0] * 10)
        self.assertEqual(v, 5.0)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_percentile_rises_with_the_sample_count(self):
        v, pct, _ = metrics.tail(list(range(1000)))
        self.assertEqual(v, 989)
        self.assertEqual(pct, 99.0)

    def test_ten_or_fewer_samples_have_no_tail(self):
        with self.assertRaises(ValueError):
            metrics.tail([1.0] * 10)


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([3.0, 3.0, 3.0]), 3.0)
        self.assertAlmostEqual(metrics.geomean([0.1, 10.0, 1.0]), 1.0)

    def test_one_slow_op_moves_it_less_than_the_mean(self):
        xs = [0.3] * 9 + [30.0]
        self.assertLess(metrics.geomean(xs), sum(xs) / len(xs) / 5)

    def test_rejects_non_positive(self):
        for bad in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                metrics.geomean(bad)


class NoTaskTest(unittest.TestCase):
    def test_overlapping_intervals_count_once(self):
        tasks = [(0, 10), (5, 15), (20, 30), (22, 25)]
        self.assertEqual(metrics.busy_intervals(tasks, 0, 40),
                         [[0, 15], [20, 30]])
        self.assertEqual(metrics.no_task_time(tasks, 0, 40), 15)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.busy_intervals([(5, 10), (0, 5)], 0, 10),
                         [[0, 10]])
        self.assertEqual(metrics.no_task_time([(5, 10), (0, 5)], 0, 10), 0)

    def test_intervals_are_clipped_to_the_pass(self):
        tasks = [(-5, 3), (8, 50), (60, 70)]
        self.assertEqual(metrics.busy_intervals(tasks, 0, 10),
                         [[0, 3], [8, 10]])
        self.assertEqual(metrics.no_task_time(tasks, 0, 10), 5)

    def test_no_tasks_means_the_whole_pass(self):
        self.assertEqual(metrics.no_task_time([], 100, 350), 250)


class ModuleTest(unittest.TestCase):
    FILES = metrics.file_modules([
        "src/main/scala/graft/operators/RangeJoin.scala",
        "src/main/scala/graft/sources/CsvSources.scala",
        "src/main/scala/graft/etl/CidEtl.scala",
        "src/main/scala/graft/sinks/BomCsvSink.scala",
        "src/main/scala/graft/Tables.scala",
        "src/main/scala/graft/functions/expressions/DotProduct.scala",
    ])
    BENCH = {"Main.scala", "Trace.scala"}

    def mod(self, site):
        return metrics.module_of(site, self.FILES, self.BENCH)

    def test_file_to_module(self):
        self.assertEqual(self.FILES["RangeJoin.scala"], "operators")
        self.assertEqual(self.FILES["Tables.scala"], "graft")
        self.assertEqual(self.FILES["DotProduct.scala"], "functions")

    def test_call_sites(self):
        self.assertEqual(self.mod("collect at RangeJoin.scala:70"), "operators")
        self.assertEqual(self.mod("csv at CsvSources.scala:97"), "sources")
        self.assertEqual(self.mod("zipWithIndex at CidEtl.scala:145"), "etl")
        self.assertEqual(self.mod("csv at BomCsvSink.scala:36"), "sinks")
        self.assertEqual(self.mod("parquet at Tables.scala:45"), "graft")
        self.assertEqual(self.mod("collect at Main.scala:121"), "bench")

    def test_unknown_sites(self):
        self.assertEqual(self.mod("run at ThreadPoolExecutor.java:1136"),
                         "other")
        self.assertEqual(self.mod(""), "other")
        self.assertEqual(self.mod(None), "other")
        self.assertEqual(self.mod("collect at Elsewhere.scala:1"), "other")

    def test_jobs_add_up_with_unlisted_modules_in_other(self):
        jobs = [("etl", 1.0), ("etl", 0.5), ("sinks", 2.0),
                ("newmodule", 0.25), ("other", 0.25)]
        got = metrics.jobs_by_module(jobs, ["etl", "sinks", "other"])
        self.assertEqual(got, {"etl": [2, 1.5], "sinks": [1, 2.0],
                               "other": [2, 0.5]})
        self.assertEqual(sum(n for n, _ in got.values()), len(jobs))

    def test_engine_tree(self):
        src = pathlib.Path(__file__).resolve().parent.parent / "src/main/scala"
        if not src.is_dir():
            self.skipTest("engine sources not present")
        files = metrics.file_modules(str(p) for p in src.rglob("*.scala"))
        for f, m in [("RangeJoin.scala", "operators"),
                     ("CsvSources.scala", "sources"),
                     ("CidEtl.scala", "etl"), ("BomCsvSink.scala", "sinks"),
                     ("Tables.scala", "graft")]:
            self.assertEqual(files[f], m)


if __name__ == "__main__":
    unittest.main()
