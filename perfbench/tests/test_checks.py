"""Self-tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import gen  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_p90_needs_a_hundred_samples(self):
        values = list(range(1, 101))
        random.Random(1).shuffle(values)
        self.assertEqual(checks.tail_percentile(values), (90, 90.0, 100))
        self.assertEqual(checks.tail_percentile(list(range(99)))[0], 89)

    def test_falls_back_to_highest_supported_percentile(self):
        q, value, n = checks.tail_percentile(list(range(50)))
        self.assertEqual((q, n), (80, 50))
        self.assertEqual(value, 39.0)
        self.assertGreaterEqual(sum(v > value for v in range(50)), 10)

    def test_too_few_samples(self):
        self.assertIsNone(checks.tail_percentile(list(range(10))))
        self.assertIsNone(checks.tail_percentile([]))

    def test_median(self):
        self.assertEqual(checks.median([3, 1, 2]), 2.0)
        self.assertEqual(checks.median([4, 1, 3, 2]), 2.5)


class DigestCanonicalisation(unittest.TestCase):

    def frame(self, rows, cols):
        import pandas as pd
        return pd.DataFrame(rows, columns=cols)

    def test_row_and_column_order_do_not_matter(self):
        a = self.frame([(1, "x", 0.5), (2, "y", 1.25)], ["id", "s", "v"])
        b = self.frame([(1.25, 2, "y"), (0.5, 1, "x")], ["v", "id", "s"])
        self.assertEqual(checks.digest_frame(a), checks.digest_frame(b))

    def test_integer_width_and_int_float_do_not_matter(self):
        import numpy as np
        a = self.frame([(np.int32(7), 3.0)], ["a", "b"])
        b = self.frame([(7.0, np.int64(3))], ["a", "b"])
        self.assertEqual(checks.digest_frame(a), checks.digest_frame(b))

    def test_values_and_names_do_matter(self):
        base = checks.digest_frame(self.frame([(1, 0.1)], ["a", "b"]))
        self.assertNotEqual(base, checks.digest_frame(self.frame([(1, 0.1 + 1e-16 * 2)], ["a", "b"])))
        self.assertNotEqual(base, checks.digest_frame(self.frame([(1, 0.1)], ["a", "c"])))
        self.assertNotEqual(base, checks.digest_frame(self.frame([(1, 0.1), (1, 0.1)], ["a", "b"])))

    def test_nulls_nested_and_timestamps(self):
        import numpy as np
        import pandas as pd
        self.assertEqual(checks.canon(None), "null")
        self.assertEqual(checks.canon(float("nan")), "null")
        self.assertEqual(checks.canon(pd.NaT), "null")
        self.assertEqual(checks.canon(np.array([1.0, 2.5], dtype=np.float32)), "[1,2.5]")
        self.assertEqual(checks.canon({"b": 1, "a": [True]}), "{a:[true],b:1}")
        self.assertEqual(checks.canon(pd.Timestamp("2024-01-01 00:00:01.5")),
                         "2024-01-01T00:00:01.500000")


class PlantedSet(unittest.TestCase):

    def test_plan_is_seeded(self):
        self.assertEqual(gen.plan_spikes(3, 50), gen.plan_spikes(3, 50))
        self.assertNotEqual(gen.plan_spikes(3, 50)[0], gen.plan_spikes(4, 50)[0])
        order, paired = gen.plan_spikes(3, 50)
        self.assertEqual(len(order), 100)
        self.assertEqual(len(set(order)), 100)
        self.assertEqual(len(paired), 20)

    def test_second_spikes_are_not_expected(self):
        planted = [{"topic": "t", "path": "two", "produced_ms": 10, "emit": True},
                   {"topic": "t", "path": "two", "produced_ms": 900, "emit": False}]
        self.assertEqual(gen.expected_records(planted, [900, 3600]),
                         [("t", "two", 900, 10), ("t", "two", 3600, 10)])

    def test_duplicates_and_strays_count_as_spurious(self):
        want = [("t", "p", 900, 1), ("t", "p", 900, 2)]
        self.assertEqual(checks.compare_records(want, want), (0, 0))
        self.assertEqual(checks.compare_records(want, want[:1] * 2), (1, 1))
        self.assertEqual(checks.compare_records(want, want + [("u", "p", 900, 3)]), (0, 1))

    def test_backfill_spikes_are_judgeable_and_pairs_in_cooldown(self):
        files, file_s, trigger_files = 90, 60, 30
        with tempfile.TemporaryDirectory() as d:
            planted = gen.write_backfill(d, 5, 20, files, file_s, 3, trigger_files)
            names = sorted(os.listdir(d))
            mtimes = [os.path.getmtime(os.path.join(d, f)) for f in names]
        self.assertEqual(len(names), files)
        self.assertEqual(mtimes, sorted(set(mtimes)))
        firsts = {(s["topic"], s["path"]): s["produced_ms"] for s in planted if s["emit"]}
        self.assertEqual(len(firsts), 40)
        self.assertEqual(len(planted), 48)
        end_ms = gen.EPOCH_MS + files * file_s * 1000
        for s in planted:
            file = (s["produced_ms"] - gen.EPOCH_MS) // (file_s * 1000)
            first = firsts[(s["topic"], s["path"])]
            self.assertLess(s["produced_ms"], end_ms)
            if s["emit"]:
                # not in the first trigger, which has no stats to judge by,
                # and inside the 15-minute window of the trigger that does
                self.assertGreaterEqual(file, trigger_files)
                self.assertGreaterEqual(file % trigger_files, trigger_files - 14)
            else:
                self.assertTrue(0 < s["produced_ms"] - first <= 60000)

    def test_steady_values_never_clear_three_sigma(self):
        steady = gen.Steady()
        seq = [steady.values("t")["two"] for _ in range(60)]
        for n in range(3, 60):
            for i in range(0, 60 - n):
                w = seq[i:i + n]
                mean, sd = statistics.fmean(w), statistics.pstdev(w)
                self.assertGreater(sd, 0)
                self.assertTrue(all(abs(v - mean) < 3 * sd for v in w))


if __name__ == "__main__":
    unittest.main()
