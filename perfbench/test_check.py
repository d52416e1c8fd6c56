"""Self-test of the output checker: it must accept an equal result in any
row order and reject a dropped row, a changed value and a widened dtype.

    python3 perfbench/test_check.py
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


def table(ids=(1, 2, 3), cents=(100, 250, -7), score=(0.5, 1.25, float("nan")),
          id_type=pa.int64(), score_type=pa.float64()):
    return pa.table({
        "id": pa.array(ids, id_type),
        "cents": pa.array(cents, pa.int64()),
        "score": pa.array(score, score_type),
        "tags": pa.array([["a"], [], ["b", "c"]][:len(ids)], pa.list_(pa.string())),
    })


class CompareTest(unittest.TestCase):
    def test_equal_in_any_row_order(self):
        want = table()
        got = want.take([2, 0, 1]).select(["score", "tags", "id", "cents"])
        self.assertEqual(check.compare(got, want), [])

    def test_dropped_row(self):
        self.assertTrue(check.compare(table().slice(0, 2), table()))

    def test_duplicated_row_in_place_of_another(self):
        self.assertTrue(check.compare(table().take([0, 0, 1]), table()))

    def test_changed_value(self):
        self.assertTrue(check.compare(table(cents=(100, 251, -7)), table()))

    def test_last_bit_of_a_float(self):
        nudged = 1.25 + 2 ** -50
        self.assertTrue(check.compare(table(score=(0.5, nudged, float("nan"))), table()))

    def test_widened_dtype(self):
        self.assertTrue(check.compare(table(id_type=pa.int32()), table()))
        self.assertTrue(check.compare(table(score_type=pa.float32()), table()))
        got = table().set_column(1, "cents", pa.array([100, 250, -7], pa.decimal128(38, 0)))
        self.assertTrue(check.compare(got, table()))

    def test_renamed_column(self):
        self.assertTrue(check.compare(table().rename_columns(["id", "cent", "score", "tags"]), table()))


class FsmCheckTest(unittest.TestCase):
    """The toggle-machine check over a six-event script: user 1 signs up,
    buys twice, signs up again (off), buys; user 2 buys without signing up."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.events = os.path.join(self.dir.name, "events.parquet")
        pq.write_table(pa.table({
            "user_id": pa.array([1, 1, 1, 2, 1, 1], pa.int64()),
            "event_id": pa.array([0, 1, 2, 3, 4, 5], pa.int64()),
            "event_type": ["signup", "purchase", "purchase", "purchase", "signup", "purchase"],
            "value": [0.0, 1.5, 2.25, 9.0, 0.0, 3.0],
        }), self.events)

    def tearDown(self):
        self.dir.cleanup()

    def out(self, rows):
        k, s, e, v = zip(*rows)
        return pa.table({"key": pa.array(k, pa.int64()), "seq": pa.array(s, pa.int64()),
                         "event_id": pa.array(e, pa.int64()), "value_c": pa.array(v, pa.int64())})

    def run_check(self, rows):
        return check.check_fsm_output(self.out(rows), self.events, "user_id", "event_id", "t")

    def test_correct_output(self):
        self.assertEqual(self.run_check([(1, 0, 1, 150), (1, 1, 2, 225)]), [])

    def test_dropped_row(self):
        self.assertTrue(self.run_check([(1, 0, 1, 150)]))

    def test_duplicate_pair(self):
        self.assertTrue(self.run_check([(1, 0, 1, 150), (1, 1, 1, 150), (1, 2, 2, 225)]))

    def test_gap_in_emission_index(self):
        self.assertTrue(self.run_check([(1, 0, 1, 150), (1, 2, 2, 225)]))


class ClosedFormTest(unittest.TestCase):
    def test_load_term(self):
        for n, off in ((0, 0), (1, 0), (7, 3), (25, 9), (1000, 4)):
            xs = [(i + off) % 10 for i in range(n)]
            outs = [check.LOAD_OUT[x] for x in xs if x % 2 == 0]
            self.assertEqual(check.load_closed_form(n, off), (len(outs), sum(outs)))


if __name__ == "__main__":
    unittest.main()
