"""The result comparator: it must reject a changed value, a missing row
and a changed type, and accept the same result in another row order."""
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracle  # noqa: E402

COLS = ["k", "v", "price", "name"]
TYPES = ["i64", "f64", "dec(12,2)", "str"]
ROWS = [(1, 0.5, decimal.Decimal("10.25"), "a,b"),
        (2, -0.0, decimal.Decimal("-3.00"), ""),
        (3, float("nan"), None, None)]


def summary(rows=ROWS, types=TYPES, cols=COLS):
    return oracle.summarize(cols, types, rows)


class ComparatorTest(unittest.TestCase):
    def test_same_result_in_any_row_order_agrees(self):
        self.assertIsNone(oracle.compare(summary(), summary(list(reversed(ROWS)))))

    def test_zero_signs_agree(self):
        self.assertIsNone(oracle.compare(summary(), summary([ROWS[0], (2, 0.0, decimal.Decimal("-3.00"), ""), ROWS[2]])))

    def test_changed_value_is_rejected(self):
        changed = [ROWS[0], (2, -0.0, decimal.Decimal("-3.01"), ""), ROWS[2]]
        self.assertEqual(oracle.compare(summary(), summary(changed)), "values differ")
        last_bit = [(1, 0.5000000000000001, decimal.Decimal("10.25"), "a,b")] + ROWS[1:]
        self.assertEqual(oracle.compare(summary(), summary(last_bit)), "values differ")
        # field boundaries count: "a,b" + "" is not "a" + ",b"
        moved = [(1, 0.5, decimal.Decimal("10.25"), "a")] + ROWS[1:]
        self.assertEqual(oracle.compare(summary(), summary(moved)), "values differ")

    def test_missing_row_is_rejected(self):
        self.assertIn("rows", oracle.compare(summary(), summary(ROWS[:2])))

    def test_duplicated_row_is_rejected(self):
        self.assertIn("rows", oracle.compare(summary(), summary(ROWS + [ROWS[0]])))

    def test_changed_type_is_rejected(self):
        types = ["i32", "f64", "dec(12,2)", "str"]
        self.assertIn("types", oracle.compare(summary(), summary(types=types)))

    def test_changed_column_name_is_rejected(self):
        self.assertIn("columns", oracle.compare(summary(), summary(cols=["k", "v", "cost", "name"])))

    def test_positional_names_ignore_engine_names(self):
        a = oracle.summarize(["min(t.a)"], ["i64"], [(1,)], positional=True)
        b = oracle.summarize(["min(a)"], ["i64"], [(1,)], positional=True)
        self.assertIsNone(oracle.compare(a, b))


if __name__ == "__main__":
    unittest.main()
