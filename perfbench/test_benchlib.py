"""Tests of benchlib. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""

import unittest

import benchlib


class PercentileTest(unittest.TestCase):
    def test_interpolates_like_numpy_linear(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(benchlib.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(benchlib.percentile(xs, 0.9), 90.1)

    def test_order_of_input_does_not_matter(self):
        xs = [float(x) for x in range(200)]
        self.assertEqual(benchlib.percentile(xs, 0.9),
                         benchlib.percentile(list(reversed(xs)), 0.9))

    def test_needs_ten_samples_beyond(self):
        self.assertEqual(benchlib.samples_beyond(100, 0.9), 10)
        self.assertEqual(benchlib.samples_beyond(99, 0.9), 9)
        benchlib.percentile(range(100), 0.9)
        with self.assertRaises(ValueError):
            benchlib.percentile(range(99), 0.9)
        with self.assertRaises(ValueError):
            benchlib.percentile(range(19), 0.5)
        benchlib.percentile(range(20), 0.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5, min_beyond=0)


class LayerTest(unittest.TestCase):
    def test_sums_fields(self):
        s = [{"layers": {"a": 1.0, "b": 2.0}}, {"layers": {"a": 0.5}}, {}]
        self.assertEqual(benchlib.layer_sums(s), {"a": 1.5, "b": 2.0})

    def test_consistency_reports_misses_only(self):
        traced = {"q1": ({"build.s": 0.1, "exec.s": 0.2}, 0.32),
                  "q2": ({"exec.s": 1.0}, 0.52),
                  "q3": ({"exec.s": 0.4}, 0.41)}
        untraced = {"q1": 0.31, "q2": 0.5, "q3": 0.5}
        misses = benchlib.consistency_misses(traced, untraced, slack=0.005)
        # q1 is 0.01 s off with a 0.01 s overhead; q3's layers miss 0.1 s
        # of a statement whose tracing cost 0.09 s
        self.assertEqual([m[0] for m in misses], ["q2", "q3"])
        self.assertAlmostEqual(misses[1][3], 0.095)

    def test_statements_without_untraced_twin_are_skipped(self):
        self.assertEqual(benchlib.consistency_misses({"i1": ({}, 0.1)}, {}), [])

if __name__ == "__main__":
    unittest.main()
