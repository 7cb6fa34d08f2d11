"""The benchmark's checkers must reject wrong outputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each test builds a valid output, asserts that it passes, then corrupts it
in one way and asserts that the checker rejects it.
"""
import copy
import unittest

import numpy as np

import checks


def pubsub_output(numbers):
    """What a correct run of the FizzBuzz topology records."""
    acks = [(k, k, k + 1) for k in range(len(numbers))]
    roots = list(range(len(numbers)))
    classes = [checks.fizz_buzz(n) for n in numbers]
    return acks, roots, classes


class AckedSends(unittest.TestCase):
    numbers = [3, 5, 15, 7, 9, 10, 30, 1]

    def test_valid_output_passes(self):
        self.assertEqual(
            checks.check_acked_sends(self.numbers, *pubsub_output(self.numbers)), [])

    def test_misclassified_event_is_rejected(self):
        acks, roots, classes = pubsub_output(self.numbers)
        classes[2] = "FIZZ"  # 15 is FIZZBUZZ
        self.assertTrue(checks.check_acked_sends(self.numbers, acks, roots, classes))

    def test_out_of_order_delivery_is_rejected(self):
        acks, roots, classes = pubsub_output(self.numbers)
        roots[3], roots[4] = roots[4], roots[3]
        classes[3], classes[4] = classes[4], classes[3]
        self.assertTrue(checks.check_acked_sends(self.numbers, acks, roots, classes))

    def test_dropped_event_is_rejected(self):
        acks, roots, classes = pubsub_output(self.numbers)
        del roots[5], classes[5]
        self.assertTrue(checks.check_acked_sends(self.numbers, acks, roots, classes))

    def test_ack_before_collector_saw_event_is_rejected(self):
        acks, roots, classes = pubsub_output(self.numbers)
        acks[4] = (4, 4, 4)  # sendSync(4) returned with 4 events collected
        self.assertTrue(checks.check_acked_sends(self.numbers, acks, roots, classes))


class Fanout(unittest.TestCase):
    bulk = [4, 8, 15, 16, 23, 42]
    starts = [0, 6, 12]

    def subscribers(self):
        ids = np.arange(18)
        total = 3 * sum(self.bulk)
        return [(ids.copy(), 18, total) for _ in range(4)]

    def test_valid_output_passes(self):
        self.assertEqual(checks.check_fanout(self.bulk, self.starts, self.subscribers()), [])

    def test_dropped_row_is_rejected(self):
        subs = self.subscribers()
        ids, _, total = subs[2]
        subs[2] = (np.delete(ids, 7), 17, total - self.bulk[1])
        self.assertTrue(checks.check_fanout(self.bulk, self.starts, subs))

    def test_out_of_order_delivery_is_rejected(self):
        subs = self.subscribers()
        ids = subs[1][0]
        ids[[9, 10]] = ids[[10, 9]]
        self.assertTrue(checks.check_fanout(self.bulk, self.starts, subs))

    def test_duplicate_delivery_is_rejected(self):
        subs = self.subscribers()
        ids, count, total = subs[0]
        ids[5] = 4
        self.assertTrue(checks.check_fanout(self.bulk, self.starts, subs))

    def test_wrong_payload_sum_is_rejected(self):
        subs = self.subscribers()
        ids, count, total = subs[3]
        subs[3] = (ids, count, total + 1)
        self.assertTrue(checks.check_fanout(self.bulk, self.starts, subs))


class QueryResults(unittest.TestCase):
    cols = ["segment", "n", "revenue"]
    rows = [("AUTOMOBILE", 10, 1234.5678901234),
            ("BUILDING", 7, 0.1 + 0.2),
            ("FURNITURE", 3, 98765.4321)]

    def test_valid_result_passes_in_any_row_and_column_order(self):
        got_cols = ["revenue", "segment", "n"]
        got = [(r[2], r[0], r[1]) for r in reversed(self.rows)]
        self.assertEqual(checks.check_result("q", got_cols, got, self.cols, self.rows), [])

    def test_float_within_tolerance_passes(self):
        got = copy.deepcopy(self.rows)
        got[1] = ("BUILDING", 7, 0.3)
        self.assertEqual(checks.check_result("q", self.cols, got, self.cols, self.rows), [])

    def test_dropped_row_is_rejected(self):
        self.assertTrue(checks.check_result("q", self.cols, self.rows[:2], self.cols, self.rows))

    def test_float_beyond_tolerance_is_rejected(self):
        got = list(self.rows)
        got[0] = ("AUTOMOBILE", 10, 1234.5678901234 * (1 + 1e-7))
        self.assertTrue(checks.check_result("q", self.cols, got, self.cols, self.rows))

    def test_changed_value_is_rejected(self):
        got = list(self.rows)
        got[2] = ("FURNITURE", 4, 98765.4321)
        self.assertTrue(checks.check_result("q", self.cols, got, self.cols, self.rows))

    def test_renamed_column_is_rejected(self):
        self.assertTrue(checks.check_result(
            "q", ["segment", "count", "revenue"], self.rows, self.cols, self.rows))


class Totals(unittest.TestCase):
    def test_equal_totals_pass(self):
        self.assertEqual(checks.check_totals("rows", 100000, 100000), [])

    def test_unequal_totals_are_rejected(self):
        self.assertTrue(checks.check_totals("rows", 99999, 100000))


if __name__ == "__main__":
    unittest.main()
