"""Tests for the benchmark's own code: statistics, generators, span self time.

Run from the repository root: python3 -m unittest perfbench/test_perfbench.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen    # noqa: E402
import stats  # noqa: E402

SMALL = dict(stations=2, rows_per_file=60, json_stations=2, json_records=40)


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        xs = [float(x) for x in range(1, 11)]
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))
        self.assertEqual(stats.quartiles([4.0, 2.0]), (1.5, 3.0, 4.5))

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        value, pct = stats.tail(list(range(11)))
        self.assertEqual((value, pct), (0, 100.0 / 11))
        xs = list(range(100, 0, -1))          # 1..100, unsorted
        value, pct = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertEqual(pct, 90.0)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, layer, a, b):
        return {"id": i, "parent": parent, "layer": layer,
                "startNs": int(a * 1e9), "endNs": int(b * 1e9)}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, -1, "bench", 0, 10),
                 self.span(1, 0, "entry", 1, 4),
                 self.span(2, 0, "sink", 3, 6),       # overlaps its sibling
                 self.span(3, 2, "operators", 4, 5)]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["bench"], 10 - 5)   # children cover [1, 6]
        self.assertAlmostEqual(got["entry"], 3)
        self.assertAlmostEqual(got["sink"], 3 - 1)
        self.assertAlmostEqual(got["operators"], 1)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, "bench", 0, 2), self.span(1, 0, "sink", 1, 5)]
        self.assertAlmostEqual(stats.self_times(spans)["bench"], 1)


def files(d):
    return sorted(os.listdir(d))


def lines(path):
    with open(path, "rb") as f:
        return f.read().count(b"\n")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_fleet(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            _, ea = gen.etl_fleet(a, 7, **SMALL)
            _, eb = gen.etl_fleet(b, 7, **SMALL)
            self.assertEqual(ea, eb)
            match, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(len(match), 2 * 7 + 1)

    def test_other_seed_changes_values_not_sizes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            _, ea = gen.etl_fleet(a, 7, **SMALL)
            _, eb = gen.etl_fleet(b, 8, **SMALL)
            self.assertEqual(files(a), files(b))
            for f in files(a):
                self.assertEqual(lines(os.path.join(a, f)), lines(os.path.join(b, f)))
            self.assertEqual(ea["rows"], eb["rows"])
            self.assertEqual(ea["rows"], 2 * 7 * 60 + 2 * 40)
            self.assertFalse(filecmp.cmp(os.path.join(a, "infoclimat.json"),
                                         os.path.join(b, "infoclimat.json"), shallow=False))

    def test_injected_counts_add_up(self):
        with tempfile.TemporaryDirectory() as a:
            _, e = gen.etl_fleet(a, 3, **SMALL)
            self.assertEqual(sum(e["anomalies"].values()), e["injected_anomalies"])
            self.assertEqual(sum(e["nulls"].values()), e["injected_nulls"])

    def test_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.tables(a, sf=0.001)
            gen.tables(b, sf=0.001)
            match, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(len(match), 8)

if __name__ == "__main__":
    unittest.main()
