"""Tests of tools/ledger_diff.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import ledger_diff  # noqa: E402


def row(calls, wall, driver, jobs, fs):
    return {"calls": calls, "wall_ms": wall, "self_ms": wall,
            "driver_ms": driver, "jobs": jobs, "fs_ops": fs}


class LedgerDiffTest(unittest.TestCase):
    def write(self, d, name, spans_):
        p = Path(d) / name
        p.write_text(json.dumps({"ledger": {"run": "t", "spans": spans_},
                                 "per_layer": {}}))
        return str(p)

    def test_deltas_per_span(self):
        with tempfile.TemporaryDirectory() as d:
            before = self.write(d, "b.json", {
                "table.sql_dml": row(4, 6968.0, 2526.0, 166, 2538),
                "table.read_point": row(2, 170.0, 112.0, 2, 28)})
            after = self.write(d, "a.json", {
                "table.sql_dml": row(4, 4664.0, 2282.0, 22, 1530),
                "table.read_point": row(2, 170.0, 112.0, 2, 28),
                "table.new": row(1, 10.0, 5.0, 1, 3)})
            rows = dict(ledger_diff.delta(ledger_diff.spans(before),
                                          ledger_diff.spans(after)))
            self.assertEqual(rows["table.sql_dml"][3], (166.0, 22.0, -144.0))
            self.assertEqual(rows["table.sql_dml"][4], (2538.0, 1530.0, -1008.0))
            self.assertEqual(rows["table.new"][0], (0.0, 1.0, 1.0))
            text = ledger_diff.render(list(rows.items()))
            self.assertIn("166 -> 22 (-87%)", text)
            self.assertIn("table.new", text)
            self.assertNotIn("table.read_point", text)
            self.assertIn("table.read_point",
                          ledger_diff.render(list(rows.items()), show_all=True))

    def test_usage_error(self):
        self.assertEqual(ledger_diff.main(["only-one.json"]), 2)


if __name__ == "__main__":
    unittest.main()
