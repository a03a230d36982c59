"""Tests of the input generators and the result fingerprint.

Run: python3 -m unittest discover -s perfbench/tests
"""
import csv
import datetime as dt
import decimal
import io
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fingerprint  # noqa: E402
import gen  # noqa: E402

ROWS = (400, 80)


class SurveyDeterminism(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(gen.survey_files(7, *ROWS), gen.survey_files(7, *ROWS))

    def test_different_seed_gives_different_csvs(self):
        a, b = gen.survey_files(7, *ROWS), gen.survey_files(8, *ROWS)
        for name in ("survey_online.csv", "survey_offline.csv", "census.csv"):
            self.assertNotEqual(a[name], b[name], name)

    def test_headers_and_row_counts(self):
        files = gen.survey_files(1, *ROWS)
        online = list(csv.reader(io.StringIO(files["survey_online.csv"].decode())))
        offline = list(csv.reader(io.StringIO(files["survey_offline.csv"].decode())))
        self.assertEqual(online[0], gen.ONLINE_HEADER)
        self.assertEqual(len(online), ROWS[0] + 1)
        self.assertEqual(len(offline), ROWS[1] + 1)
        self.assertTrue(set(gen.LIKERT_COLUMNS) <= set(online[0]))
        self.assertTrue(all(len(r) == len(online[0]) for r in online))

    def test_every_invalid_branch_is_reachable(self):
        files = gen.survey_files(3, 2000, 0)
        rows = list(csv.DictReader(io.StringIO(files["survey_online.csv"].decode())))
        seen = lambda c: {r[c] for r in rows}
        self.assertTrue({"Complete", "Partial", "Disqualified", "Abandoned", ""}
                        <= seen("Survey Completed?"))
        self.assertTrue({"Test link", "Test"} <= seen("Survey Link Used"))
        self.assertTrue({"ok", "VALID"} <= seen("Alchemer Admin Comments"))
        self.assertIn("Canada", seen("IP Address - Country"))


class TableDeterminism(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.table_arrays(0.001), gen.table_arrays(0.001)
        for t in gen.TABLES:
            for c in a[t]:
                self.assertEqual([repr(x) for x in a[t][c]],
                                 [repr(x) for x in b[t][c]], f"{t}.{c}")

    def test_near_duplicates_present(self):
        docs = gen.table_arrays(0.001)["documents"]["text"]
        self.assertTrue(any(d.endswith(" dup") for d in docs))


class Fingerprint(unittest.TestCase):
    def test_numbers_of_any_type_agree(self):
        for a, b in [(5, 5.0), (decimal.Decimal("12.30"), 12.3), (0, -0.0),
                     (1234567890123456, 1.234567890123456e15)]:
            self.assertEqual(fingerprint.canon(a), fingerprint.canon(b))

    def test_timestamps_are_epoch_micros(self):
        self.assertEqual(fingerprint.canon(dt.datetime(1970, 1, 1, 0, 0, 1, 5)),
                         "1000005")
        self.assertEqual(fingerprint.canon(dt.date(2024, 1, 2)), "2024-01-02")

    def test_order_insensitive(self):
        cols = ["b", "a"]
        rows = [(1, "x"), (2, "y"), (None, "z")]
        self.assertEqual(fingerprint.of(cols, rows),
                         fingerprint.of(cols, list(reversed(rows))))
        self.assertNotEqual(fingerprint.of(cols, rows)["sum"],
                            fingerprint.of(cols, rows[:2])["sum"])


if __name__ == "__main__":
    unittest.main()
