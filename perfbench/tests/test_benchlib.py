"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import ast
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from benchlib import digest, spans, stats  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "trace": "t",
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        r = stats.percentile(list(range(99)), 90)
        self.assertIsNone(r["value"])
        self.assertEqual(r["samples"], 99)
        self.assertEqual(r["needed"], 100)
        r = stats.percentile(list(range(100)), 90)
        self.assertAlmostEqual(r["value"], 89.1)
        self.assertEqual(r["samples"], 100)

    def test_p50_needs_twenty(self):
        self.assertIsNone(stats.percentile(list(range(19)), 50)["value"])
        self.assertEqual(stats.percentile(list(range(20)), 50)["value"], 9.5)

    def test_low_percentile_counts_the_lower_tail(self):
        self.assertEqual(stats.percentile(list(range(50)), 10)["needed"], 100)
        self.assertIsNone(stats.percentile(list(range(50)), 10)["value"])

    def test_empty_and_median(self):
        self.assertIsNone(stats.percentile([], 90)["value"])
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_pass_totals_sum_whole_passes_only(self):
        self.assertEqual(stats.pass_totals([1, 2, 3, 4, 5, 6, 7], 3), [6, 15])
        self.assertEqual(stats.pass_totals([1, 2], 3), [])

    def test_iqr_spread_matches_statistics_quantiles(self):
        vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        self.assertAlmostEqual(stats.iqr_spread(vals), (17.25 - 11.75) / 14.5)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        ss = [span(0, -1, 0, 10), span(1, 0, 1, 3), span(2, 0, 2, 5), span(3, 0, 7, 8)]
        st = spans.self_times(ss)
        self.assertAlmostEqual(st[0], 10 - 4 - 1)
        self.assertAlmostEqual(st[1], 2)

    def test_grandchildren_only_reduce_their_parent(self):
        ss = [span(0, -1, 0, 10), span(1, 0, 2, 6), span(2, 1, 3, 4)]
        st = spans.self_times(ss)
        self.assertAlmostEqual(st[0], 6)
        self.assertAlmostEqual(st[1], 3)
        self.assertAlmostEqual(st[2], 1)

    def test_children_are_clipped_to_the_parent(self):
        ss = [span(0, -1, 5, 10), span(1, 0, 4, 6), span(2, 0, 9, 12)]
        self.assertAlmostEqual(spans.self_times(ss)[0], 3)

    def test_by_name_groups_occurrences(self):
        ss = [span(0, -1, 0, 1, "a"), span(1, -1, 1, 3, "a"), span(2, -1, 3, 4, "b")]
        g = spans.by_name(ss)
        self.assertEqual(sorted(t for _, t in g["a"]), [1.0, 2.0])


def local_verify_canon_rows():
    """canon_rows as defined in tools/local_verify.py, loaded without running
    that script's top level."""
    path = os.path.join(ROOT, "tools", "local_verify.py")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon_rows")
    ns = {}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), path, "exec"), ns)
    return ns["canon_rows"]


class DigestParity(unittest.TestCase):
    def frame(self):
        import pandas as pd
        return pd.DataFrame({
            "z": [1.0 / 3, 2.5e-12, float("nan"), 123456789.123],
            "a": ["x", None, "tab\there", "é"],
            "m": [3, 1, 2, 0],
            "t": pd.to_datetime(["2020-01-01 00:00:00", "2021-06-30 12:00:00", None, "1999-12-31 00:00:00"]),
        })

    def test_canon_rows_equals_local_verify(self):
        ref = local_verify_canon_rows()
        if ref is None:
            self.skipTest("tools/local_verify.py not present")
        df = self.frame()
        self.assertEqual(digest.canon_rows(df), ref(df))

    def test_nine_significant_digits_and_sorting(self):
        cols, rows = digest.canon_rows(self.frame())
        self.assertEqual(cols, ["a", "m", "t", "z"])
        self.assertEqual(rows, sorted(rows))
        self.assertTrue(any(r.endswith("\x1f0.333333333") for r in rows))

    def test_digest_ignores_row_and_column_order(self):
        df = self.frame()
        shuffled = df.iloc[[2, 0, 3, 1]][["t", "z", "m", "a"]]
        self.assertEqual(digest.digest(df), digest.digest(shuffled))
        changed = df.copy()
        changed.loc[0, "z"] = 1.0 / 3 + 1e-6
        self.assertNotEqual(digest.digest(df)["sha256"], digest.digest(changed)["sha256"])


if __name__ == "__main__":
    unittest.main()
