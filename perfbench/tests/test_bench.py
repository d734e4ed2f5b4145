"""Tests for the benchmark's own logic: tail-percentile choice, span self
time, and result canonicalization.

    python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import decimal
import io
import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from compare import report, verdict  # noqa: E402
from pb.canon import canon, decode_results, fingerprint  # noqa: E402
from pb.stats import (beyond, percentile, self_ms, spread,  # noqa: E402
                      tail_percentile, union_ms)


class TailPercentile(unittest.TestCase):
    def test_beyond_counts_samples_above_the_rank(self):
        self.assertEqual(beyond(100, 90), 10)
        self.assertEqual(beyond(99, 90), 9)
        self.assertEqual(beyond(20, 50), 10)

    def test_picks_highest_with_ten_beyond(self):
        self.assertEqual(tail_percentile(1000), 99)
        self.assertEqual(tail_percentile(999), 95)
        self.assertEqual(tail_percentile(200), 95)
        self.assertEqual(tail_percentile(199), 90)
        self.assertEqual(tail_percentile(100), 90)
        self.assertEqual(tail_percentile(99), 75)
        self.assertEqual(tail_percentile(40), 75)
        self.assertEqual(tail_percentile(39), 50)
        self.assertEqual(tail_percentile(20), 50)

    def test_too_few_samples_for_any(self):
        self.assertIsNone(tail_percentile(19))
        self.assertIsNone(tail_percentile(0))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile([7.0], 90), 7.0)
        self.assertEqual(percentile([3, 1, 2], 100), 3)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(union_ms([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(union_ms([]), 0)
        self.assertEqual(union_ms([(1, 5), (2, 3)]), 4)

    def test_overlapping_children_are_not_double_counted(self):
        # parent 0..10, children 1..5 and 3..7 overlap on 3..5: the
        # children cover 1..7 = 6, so self time is 4 (a sum would say 2).
        self.assertEqual(self_ms((0, 10), [(1, 5), (3, 7)]), 4)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(self_ms((2, 6), [(0, 3), (5, 9)]), 2)
        self.assertEqual(self_ms((2, 6), [(7, 9)]), 4)

    def test_no_children(self):
        self.assertEqual(self_ms((1.5, 4.0), []), 2.5)


class Canonicalization(unittest.TestCase):
    def test_null_sorts_and_compares(self):
        a = [(None, 1), (2, None)]
        b = [(2, None), (None, 1)]
        self.assertEqual(fingerprint(a, ["x", "y"]), fingerprint(b, ["x", "y"]))
        self.assertNotEqual(fingerprint([(None,)], ["x"]),
                            fingerprint([(0,)], ["x"]))

    def test_nan_equals_nan(self):
        self.assertEqual(fingerprint([(float("nan"),)], ["x"]),
                         fingerprint([(math.nan,)], ["x"]))
        self.assertNotEqual(fingerprint([(float("nan"),)], ["x"]),
                            fingerprint([(None,)], ["x"]))

    def test_negative_zero_equals_zero(self):
        self.assertEqual(fingerprint([(-0.0,)], ["x"]),
                         fingerprint([(0.0,)], ["x"]))

    def test_float_rounding_at_six_digits(self):
        self.assertEqual(fingerprint([(1.0000001,)], ["x"]),
                         fingerprint([(1.0000002,)], ["x"]))
        self.assertNotEqual(fingerprint([(1.00001,)], ["x"]),
                            fingerprint([(1.00002,)], ["x"]))
        self.assertEqual(fingerprint([(5,)], ["x"]),
                         fingerprint([(5.0,)], ["x"]))

    def test_columns_by_name_case_insensitive(self):
        rows, cols = canon([(1, "a")], ["B", "a"])
        self.assertEqual(cols, ["a", "b"])
        self.assertEqual(rows, [("'a'", "1")])

    def test_decode_tags(self):
        line = ('{"id": 3, "cols": ["d", "f", "t", "m"], "rows": '
                '[[{"$dec": "1.50"}, {"$f": "NaN"}, '
                '{"$ts": "2024-01-01T00:00:01.5"}, {"$row": {"k": 1}}]]}')
        i, cols, rows = decode_results(line)
        self.assertEqual(i, 3)
        d, f, t, m = rows[0]
        self.assertEqual(d, decimal.Decimal("1.50"))
        self.assertTrue(math.isnan(f))
        self.assertEqual(t.isoformat(), "2024-01-01T00:00:01.500000")
        self.assertEqual(m, {"k": 1})


class Spread(unittest.TestCase):
    def test_iqr_over_median(self):
        self.assertAlmostEqual(spread([10] * 10), 0.0)
        self.assertGreater(spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


class Verdict(unittest.TestCase):
    def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_iqr(self):
        parent = [100, 101, 102, 99, 100, 101, 100, 102, 99, 100]
        change = [90, 91, 92, 89, 90, 91, 90, 92, 89, 103]
        self.assertEqual(verdict(parent, change, "lower", 0.1), ("gain", 9))
        change[0] = 105  # 8/10 wins
        self.assertEqual(verdict(parent, change, "lower", 0.1)[0],
                         "within bound")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        change = [x + 5 for x in parent]
        self.assertEqual(verdict(parent, change, "lower", 0.1)[0],
                         "unresolved")

    def test_regression_beyond_the_bound(self):
        parent = [100.0] * 5 + [101.0] * 5
        change = [120.0] * 10
        self.assertEqual(verdict(parent, change, "lower", 0.1)[0],
                         "regression")
        self.assertEqual(verdict(parent, [105.0] * 10, "lower", 0.1)[0],
                         "within bound")

    def test_gain_is_void_when_the_change_fails_more(self):
        parent = [100, 101, 102, 99, 100, 101, 100, 102, 99, 100]
        change = [x - 10 for x in parent]
        self.assertEqual(verdict(parent, change, "lower", 0.1)[0], "gain")
        self.assertEqual(verdict(parent, change, "lower", 0.1, True),
                         ("gain void: more failures", 10))

    def test_report_counts_failures_per_side_and_workload(self):
        bench = {"end_to_end": [{"name": "lat", "unit": "ms",
                                 "better": "lower", "bound": 0.1}],
                 "per_layer": []}
        rows = []
        for i in range(10):
            for side, lat, failed in (("parent", 100 + i % 2, 0),
                                      ("change", 80 + i % 2, int(i == 3))):
                rows.append(dict(pair=i, side=side, workload="w", trace=0,
                                 failed=failed,
                                 metrics={"lat": {"value": lat,
                                                  "unit": "ms"}}))
        with tempfile.TemporaryDirectory() as d:
            pairs, bj = os.path.join(d, "p.jsonl"), os.path.join(d, "b.json")
            with open(pairs, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
            with open(bj, "w") as f:
                json.dump(bench, f)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                report(pairs, bj)
        lines = out.getvalue().splitlines()
        self.assertTrue(lines[1].endswith("gain void: more failures"))
        self.assertEqual(lines[2].split()[-2:], ["0", "1"])

    def test_higher_is_better(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        change = [x * 1.2 for x in parent]
        self.assertEqual(verdict(parent, change, "higher", 0.1)[0], "gain")


if __name__ == "__main__":
    unittest.main()
