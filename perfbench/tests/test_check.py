import datetime
import math
import unittest

from bench import check


class Canon(unittest.TestCase):
    def test_numbers_compare_by_value(self):
        self.assertEqual(check.canon(5), check.canon(5.0))
        self.assertEqual(check.canon(-0.0), check.canon(0))
        self.assertNotEqual(check.canon(0.1), check.canon(0.1000000001))

    def test_null_equals_nan(self):
        self.assertEqual(check.canon(None), check.canon(math.nan))

    def test_timestamps_as_utc_wall_clock(self):
        naive = datetime.datetime(2024, 1, 2, 3, 4, 5)
        aware = datetime.datetime(2024, 1, 2, 4, 4, 5,
                                  tzinfo=datetime.timezone(datetime.timedelta(hours=1)))
        self.assertEqual(check.canon(naive), check.canon(aware))

    def test_nested_and_binary(self):
        self.assertEqual(check.canon([1, 2.0, None]), "[1,2,∅]")
        self.assertEqual(check.canon(b"\x01\xff"), "01ff")

    def test_strings_cannot_forge_separators(self):
        self.assertNotEqual(check.canon("a\x1fb"), check.canon("a") + "\x1f" + check.canon("b"))


class ResultHash(unittest.TestCase):
    def test_row_order_and_column_order_do_not_matter(self):
        con = check.duckdb.connect()
        a = check.result_hash(con, "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(a, b)")
        b = check.result_hash(con, "SELECT b, a FROM (VALUES (2, 'y'), (1, 'x')) t(a, b)")
        c = check.result_hash(con, "SELECT * FROM (VALUES (1, 'x'), (2, 'z')) t(a, b)")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
