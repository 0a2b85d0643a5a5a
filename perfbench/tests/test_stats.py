"""Unit tests for the benchmark's math. Run: python3 -m unittest discover perfbench/tests"""
import datetime
import decimal
import json
import os
import struct
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(10000)))[0], 99.9)
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)

    def test_reports_value_and_count(self):
        p, v, n = stats.tail([float(x) for x in range(1, 101)])
        self.assertEqual((p, n), (90.0, 100))
        self.assertAlmostEqual(v, 90.1)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.median([5, 1, 3]), 3)


class Latency(unittest.TestCase):
    def test_dws_excludes_window_and_watermark(self):
        # window [0, 10 s), 11 s watermark: closable at 21 s; committed at 23.5 s
        self.assertEqual(stats.dws_latency_ms(23_500, 10_000, 11_000), 2_500)

    def test_dwm_counts_from_later_input(self):
        self.assertEqual(stats.dwm_latency_ms(5_000, 1_000, 3_000), 2_000)
        self.assertEqual(stats.dwm_latency_ms(5_000, 3_000, 1_000), 2_000)

    def test_commit_time_is_first_trigger_end_after_write(self):
        ends = [100.0, 200.0, 300.0]
        self.assertEqual(stats.commit_time(150.0, ends), 200.0)
        self.assertEqual(stats.commit_time(200.0, ends), 200.0)
        self.assertEqual(stats.commit_time(50.0, ends), 100.0)
        self.assertIsNone(stats.commit_time(301.0, ends))

    def test_watermark_delay_from_progress(self):
        # 11 s delay: batch 2's watermark is the max event time of batches 0-1 minus 11 s
        prog = [{"batch": 2, "event_max_ms": 40_000, "watermark_ms": 19_000},
                {"batch": 0, "event_max_ms": 30_000, "watermark_ms": 0},
                {"batch": 1, "event_max_ms": -1, "watermark_ms": 0},
                {"batch": 3, "event_max_ms": 35_000, "watermark_ms": 29_000}]
        self.assertEqual(stats.watermark_delay_ms(prog), 11_000)

    def test_watermark_delay_unknown_until_it_advances(self):
        self.assertIsNone(stats.watermark_delay_ms([
            {"batch": 0, "event_max_ms": 30_000, "watermark_ms": 0}]))


class Fingerprint(unittest.TestCase):
    def test_shared_vectors(self):
        with open(os.path.join(HERE, "canon_vectors.json"), encoding="utf-8") as f:
            vectors = json.load(f)
        for v in vectors:
            value = v["value"]
            if v["kind"] == "decimal":
                value = decimal.Decimal(value)
            elif v["kind"] == "ts_micros":
                value = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=value)
            elif v["kind"] == "date_days":
                value = datetime.date(1970, 1, 1) + datetime.timedelta(days=value)
            elif v["kind"] == "float":
                value = struct.unpack("f", struct.pack("f", value))[0]
            self.assertEqual(stats.canon(value), v["canon"], v)

    def test_numbers_compare_as_doubles(self):
        self.assertEqual(stats.canon(3), stats.canon(3.0))
        self.assertEqual(stats.canon(decimal.Decimal("2.5000")), stats.canon(2.5))
        self.assertEqual(stats.canon(-0.0), stats.canon(0))
        self.assertNotEqual(stats.canon("3"), stats.canon(3))

    def test_timestamps_are_utc_micros(self):
        aware = datetime.datetime(2024, 1, 1, 1, 0, tzinfo=datetime.timezone(datetime.timedelta(hours=1)))
        self.assertEqual(stats.canon(aware), stats.canon(datetime.datetime(2024, 1, 1)))

    def test_order_independent_and_multiset_exact(self):
        cols = ["b", "a"]
        rows = [(1, "x"), (2, "y"), (2, "y")]
        fp = stats.fingerprint(cols, rows)
        self.assertEqual(fp, stats.fingerprint(cols, list(reversed(rows))))
        self.assertEqual(fp[0], 3)
        self.assertNotEqual(fp, stats.fingerprint(cols, rows[:2]))
        self.assertNotEqual(fp[1], stats.fingerprint(cols, [(1, "x"), (2, "y"), (1, "x")])[1])

    def test_columns_in_name_order(self):
        self.assertEqual(stats.fingerprint(["a", "b"], [(1, 2)]),
                         stats.fingerprint(["b", "a"], [(2, 1)]))


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once(self):
        self.assertEqual(stats.self_time(0, 100, [(10, 30), (20, 40), (60, 70)]), 60)

    def test_children_clipped_to_parent(self):
        self.assertEqual(stats.self_time(0, 100, [(-10, 10), (90, 130)]), 80)

    def test_leaf(self):
        self.assertEqual(stats.self_time(5, 25, []), 20)

    def test_self_times_by_id(self):
        spans = [{"id": 1, "parent": -1, "start_ms": 0, "end_ms": 10},
                 {"id": 2, "parent": 1, "start_ms": 2, "end_ms": 6},
                 {"id": 3, "parent": 2, "start_ms": 3, "end_ms": 4}]
        self.assertEqual(stats.self_times(spans), {1: 6, 2: 3, 3: 1})


if __name__ == "__main__":
    unittest.main()
