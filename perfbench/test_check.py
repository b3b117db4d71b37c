"""Tests for the benchmark's own checker: a correct result passes and each
kind of corruption fails it.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

from check import (check_deliveries, check_log, check_lsh_pairs, check_metrics, check_oracle,
                   check_retries)

HERE = os.path.dirname(os.path.abspath(__file__))


def log_of(streams):
    """A log of (position, stream, version, id, crc) appending the given
    stream ids in order."""
    versions, rows = {}, []
    for pos, s in enumerate(streams):
        v = versions.get(s, 0)
        versions[s] = v + 1
        rows.append((pos, s, v, f"id-{pos}", 1000 + pos))
    return rows


class LogTest(unittest.TestCase):
    def setUp(self):
        self.log = log_of(["a", "b", "a", "c", "b", "a"])

    def test_correct_log_passes(self):
        self.assertEqual(check_log(list(self.log), self.log), [])

    def test_duplicated_position_fails(self):
        bad = self.log[:3] + [self.log[2]] + self.log[3:]
        self.assertTrue(any("more than once" in e for e in check_log(list(self.log), bad)))

    def test_gap_in_positions_fails(self):
        bad = [r for r in self.log if r[0] != 3]
        self.assertTrue(any("not dense" in e for e in check_log(bad, bad)))

    def test_lost_ack_fails(self):
        bad = self.log[:-1]
        self.assertTrue(any("missing" in e for e in check_log(list(self.log), bad)))

    def test_ack_at_wrong_position_fails(self):
        acks = list(self.log)
        acks[1] = (1, "b", 0, "id-other", 1001)
        self.assertNotEqual(check_log(acks, self.log), [])

    def test_version_gap_fails(self):
        bad = [(p, s, v + 1 if (s, p) == ("a", 5) else v, m, c) for p, s, v, m, c in self.log]
        self.assertTrue(any("version" in e for e in check_log(bad, bad)))

    def test_changed_payload_fails(self):
        bad = [(p, s, v, m, c + 1 if p == 4 else c) for p, s, v, m, c in self.log]
        self.assertNotEqual(check_log(list(self.log), bad), [])

    def test_retry_with_other_result_fails(self):
        self.assertEqual(check_retries([("a", "2", "5", "2", "5")]), [])
        self.assertNotEqual(check_retries([("a", "2", "5", "3", "6")]), [])


class DeliveryTest(unittest.TestCase):
    def setUp(self):
        self.log = log_of(["a", "b", "a", "c", "b", "a", "a"])

    def test_all_stream_delivery_passes(self):
        self.assertEqual(check_deliveries(("all", "", "1", "6"), [2, 3, 4, 5, 6], self.log), [])

    def test_upper_bound_is_respected(self):
        self.assertEqual(check_deliveries(("all", "", "-1", "3"), [0, 1, 2, 3], self.log), [])

    def test_stream_delivery_passes(self):
        self.assertEqual(check_deliveries(("stream", "a", "0", "3"), [1, 2, 3], self.log), [])

    def test_dropped_delivery_fails(self):
        errors = check_deliveries(("all", "", "1", "6"), [2, 3, 5, 6], self.log)
        self.assertTrue(any("dropped 1" in e for e in errors))

    def test_duplicated_delivery_fails(self):
        errors = check_deliveries(("all", "", "1", "6"), [2, 3, 3, 4, 5, 6], self.log)
        self.assertTrue(any("twice" in e for e in errors))

    def test_out_of_order_delivery_fails(self):
        errors = check_deliveries(("stream", "a", "0", "3"), [1, 3, 2], self.log)
        self.assertTrue(any("out of order" in e for e in errors))


class OracleTest(unittest.TestCase):
    cols = ["id_a", "id_b", "jaccard"]
    rows = [(1, 2, 0.75), (3, 10003, 1.0), (5, 9, 0.5)]

    def test_same_rows_in_any_order_and_column_order_pass(self):
        theirs = [(j, a, b) for a, b, j in reversed(self.rows)]
        self.assertEqual(check_oracle("s", self.cols, self.rows, ["jaccard", "id_a", "id_b"], theirs), [])

    def test_missing_row_fails(self):
        self.assertNotEqual(check_oracle("s", self.cols, self.rows[:-1], self.cols, self.rows), [])

    def test_changed_value_fails(self):
        bad = [(1, 2, 0.75), (3, 10003, 1.0), (5, 9, 0.5000001)]
        self.assertNotEqual(check_oracle("s", self.cols, bad, self.cols, self.rows), [])

    def test_renamed_column_fails(self):
        self.assertNotEqual(check_oracle("s", ["id_a", "id_b", "score"], self.rows, self.cols, self.rows), [])


class LshPairsTest(unittest.TestCase):
    cols = OracleTest.cols
    rows = OracleTest.rows

    def test_all_pairs_pass(self):
        self.assertEqual(check_lsh_pairs("s", self.cols, self.rows, self.cols, self.rows), ([], 0))

    def test_missed_pair_below_jaccard_1_is_counted(self):
        mine = [r for r in self.rows if r[2] < 1][1:] + [r for r in self.rows if r[2] == 1]
        self.assertEqual(check_lsh_pairs("s", self.cols, mine, self.cols, self.rows), ([], 1))

    def test_missed_identical_pair_fails(self):
        mine = [r for r in self.rows if r[2] < 1]
        self.assertNotEqual(check_lsh_pairs("s", self.cols, mine, self.cols, self.rows)[0], [])

    def test_invented_pair_fails(self):
        mine = self.rows + [(7, 8, 0.6)]
        self.assertNotEqual(check_lsh_pairs("s", self.cols, mine, self.cols, self.rows)[0], [])

    def test_changed_jaccard_fails(self):
        mine = [(1, 2, 0.7), (3, 10003, 1.0), (5, 9, 0.5)]
        self.assertNotEqual(check_lsh_pairs("s", self.cols, mine, self.cols, self.rows)[0], [])

    def test_duplicated_pair_fails(self):
        mine = self.rows + [self.rows[0]]
        self.assertNotEqual(check_lsh_pairs("s", self.cols, mine, self.cols, self.rows)[0], [])


class MetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
            self.spec = json.load(f)["end_to_end"]
        self.metrics = {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in self.spec}

    def test_complete_metrics_pass(self):
        self.assertEqual(check_metrics(self.metrics, self.spec), [])

    def test_missing_metric_fails(self):
        name = self.spec[0]["name"]
        del self.metrics[name]
        self.assertEqual(check_metrics(self.metrics, self.spec), [f"metric {name} is missing"])

    def test_missing_unit_fails(self):
        name = self.spec[0]["name"]
        del self.metrics[name]["unit"]
        self.assertEqual(check_metrics(self.metrics, self.spec), [f"metric {name} is missing"])

    def test_wrong_unit_fails(self):
        name = self.spec[0]["name"]
        self.metrics[name]["unit"] = "furlongs"
        self.assertTrue(check_metrics(self.metrics, self.spec)[0].startswith(f"metric {name} has unit"))

    def test_non_finite_value_fails(self):
        name = self.spec[-1]["name"]
        self.metrics[name]["value"] = float("nan")
        self.assertNotEqual(check_metrics(self.metrics, self.spec), [])


if __name__ == "__main__":
    unittest.main()
