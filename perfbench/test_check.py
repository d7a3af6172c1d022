"""Tests of the benchmark's own correctness check; no Spark needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest
from decimal import Decimal

import duckdb

import check
from gen import Generator

# raw fixture rows: a non-sporty commute, one within its limit, one over it
EMPLOYEES = [
    {"id_employee": 10001, "gross_salary": 41234, "business_unity": "R&D",
     "constract_type": "CDI", "transport_mode": "Transports en commun", "distance_m": 900},
    {"id_employee": 10002, "gross_salary": 50001, "business_unity": "Ventes",
     "constract_type": "CDD", "transport_mode": "Marche/running", "distance_m": 15000},
    {"id_employee": 10003, "gross_salary": 30000, "business_unity": "R&D",
     "constract_type": "CDI", "transport_mode": "Vélo/Trottinette/Autres", "distance_m": 25001},
]


def envelope(op, key, ts, lsn, emp=10002, dur=600):
    after = None if op == "d" else {
        "id": key, "id_employee": emp, "first_name": "A", "last_name": "B",
        "start_datetime": 0, "sport_type": "Yoga", "distance": None,
        "activity_duration": dur, "comment": None}
    return json.dumps({"payload": {"before": {"id": key} if op == "d" else None,
                                   "after": after, "op": op, "ts_ms": ts,
                                   "source": {"lsn": lsn}}})


class ReplayTest(unittest.TestCase):
    def replay(self, lines):
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "ev-0000000.json"), "w") as f:
                f.write("\n".join(lines) + "\n")
            check.replay(con, [d])
        return dict(con.execute("SELECT id, activity_duration FROM expected").fetchall())

    def test_order_by_ts_then_lsn_not_arrival(self):
        state = self.replay([
            envelope("c", 1, 100, 1, dur=1),
            envelope("u", 1, 200, 3, dur=3),   # newest, arrives first
            envelope("u", 1, 199, 2, dur=2),   # older ts_ms, arrives last
            envelope("u", 2, 300, 5, dur=5),   # same ms: lsn decides
            envelope("u", 2, 300, 4, dur=4),
            envelope("d", 3, 400, 6),          # never inserted
        ])
        self.assertEqual(state, {1: 3, 2: 5})

    def test_delete_then_reinsert(self):
        state = self.replay([envelope("c", 1, 100, 1), envelope("d", 1, 101, 2),
                             envelope("c", 1, 102, 3, dur=7), envelope("c", 2, 103, 4),
                             envelope("d", 2, 104, 5)])
        self.assertEqual(state, {1: 7})


class CorruptionTest(unittest.TestCase):
    """One corrupted table row and one corrupted report value are caught."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        g = Generator(7, self.tmp.name)
        g.preload("preload", 500, 2)
        g.batch("b", 3, 300, recent=False)
        self.con = duckdb.connect()
        check.replay(self.con, [os.path.join(self.tmp.name, x) for x in ("preload", "b")])

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def dump(self, edit=None):
        """Writes `expected`, optionally edited, as the system's table dump."""
        out = os.path.join(self.tmp.name, "table")
        os.makedirs(out, exist_ok=True)
        self.con.execute("CREATE OR REPLACE TABLE actual AS SELECT * FROM expected")
        if edit:
            self.con.execute(edit)
        self.con.execute(f"COPY actual TO '{out}/part-0.parquet' (FORMAT parquet)")
        return out

    def test_clean_copy_passes(self):
        self.assertEqual(check.wrong_keys(self.con, self.dump()), [])
        report = check.report_oracle(self.con, EMPLOYEES)
        self.assertEqual(check.diff_keys(report, dict(report)), [])

    def test_corrupted_row_is_caught(self):
        k = self.con.execute("SELECT id FROM expected ORDER BY id LIMIT 1 OFFSET 10").fetchone()[0]
        out = self.dump(f"UPDATE actual SET activity_duration = activity_duration + 1 WHERE id = {k}")
        self.assertEqual(check.wrong_keys(self.con, out), [k])

    def test_missing_and_extra_rows_are_caught(self):
        gone = self.con.execute("SELECT min(id) FROM expected").fetchone()[0]
        out = self.dump(f"DELETE FROM actual WHERE id = {gone}; "
                        "INSERT INTO actual SELECT 1000000000, * EXCLUDE (id) FROM expected LIMIT 1")
        self.assertEqual(check.wrong_keys(self.con, out), [gone, 1000000000])

    def test_corrupted_report_value_is_caught(self):
        want = check.report_oracle(self.con, EMPLOYEES)
        got = dict(want)
        row = got[10002]
        got[10002] = row[:7] + (row[7] + 0.01,) + row[8:]
        self.assertEqual(check.diff_keys(want, got), [10002])

    def test_report_oracle_rules(self):
        self.con.execute("CREATE OR REPLACE TABLE expected AS SELECT * FROM (VALUES "
                         "(1, 10002, 600), (2, 10002, 901)) t(id, id_employee, activity_duration)")
        r = check.report_oracle(self.con, EMPLOYEES)
        self.assertEqual(r[10001][3:], (None, False, False, None, 0.0, 41234.0))
        # 50001 * 0.05 = 2500.05; the prime rounds half-up to cents
        self.assertEqual(r[10002][3:], (Decimal("15000.00"), True, False, 750.5,
                                        2500.05, 52501.05))
        self.assertEqual(r[10003][3:], (Decimal("25001.00"), False, False, None,
                                        0.0, 30000.0))

    def test_missing_employee_is_caught(self):
        want = check.report_oracle(self.con, EMPLOYEES)
        got = {k: v for k, v in want.items() if isinstance(v, tuple)}
        # the fixture's 158 other employees have no row on either side
        self.assertEqual(len(check.diff_keys(want, got)), 158)
        del got[10003]
        self.assertIn(10003, check.diff_keys(want, got))


class QuantileTest(unittest.TestCase):
    def test_weighted(self):
        pairs = [(1.0, 1), (2.0, 8), (3.0, 1)]
        self.assertEqual(check.weighted_quantile(pairs, 0.5), 2.0)
        self.assertEqual(check.weighted_quantile(pairs, 0.95), 3.0)


if __name__ == "__main__":
    unittest.main()
