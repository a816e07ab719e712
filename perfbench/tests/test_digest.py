"""The Python digest: canonical value forms and order insensitivity.
`DigestSpec.scala` checks that the Scala digest gives the same hex for the
same rows."""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import digest  # noqa: E402

# Rows shared with DigestSpec.scala; the expected digest is pinned in both.
COLUMNS = ["b", "a", "c"]
ROWS = [(1, "x", 0.1), (2, None, 2.0), (3, "zé", -1.5e-7),
        (4, "w", 123456789012.5)]
PINNED = "cb19be9a0bb875d2"


class DigestTest(unittest.TestCase):

    def test_numbers_render_alike_across_types(self):
        self.assertEqual(digest.value(3), "3")
        self.assertEqual(digest.value(3.0), "3")
        self.assertEqual(digest.value(decimal.Decimal("3.000000000")), "3")
        self.assertEqual(digest.value(-0.0), "0")
        self.assertEqual(digest.value(0.1), "0.1")
        self.assertEqual(digest.value(decimal.Decimal("0.1")), "0.1")
        self.assertEqual(digest.value(2 / 3), "0.666666667")
        self.assertEqual(digest.value(123456789012.5), "123456789000")
        self.assertEqual(digest.value(1e20), "100000000000000000000")
        self.assertEqual(digest.value(float("nan")), "nan")

    def test_other_values(self):
        self.assertEqual(digest.value(None), "\\N")
        self.assertEqual(digest.value(True), "true")
        self.assertEqual(digest.value([1, None, 2.5]), "[1,\\N,2.5]")
        self.assertEqual(digest.value({"x": 1, "y": "a"}), "{1,a}")
        self.assertEqual(digest.value(datetime.datetime(2024, 3, 1, 9, 5, 7)),
                         "2024-03-01 09:05:07")
        self.assertEqual(digest.value(datetime.datetime(2024, 3, 1, 9, 5, 7, 25)),
                         "2024-03-01 09:05:07.000025")
        self.assertEqual(digest.value(datetime.date(2024, 3, 1)), "2024-03-01")

    def test_order_insensitive(self):
        n1, d1 = digest.of(COLUMNS, ROWS)
        n2, d2 = digest.of(COLUMNS, list(reversed(ROWS)))
        self.assertEqual((n1, d1), (n2, d2))
        self.assertEqual(n1, 4)

    def test_column_order_is_by_name(self):
        swapped = [(r[1], r[0], r[2]) for r in ROWS]
        self.assertEqual(digest.of(["a", "b", "c"], swapped), digest.of(COLUMNS, ROWS))

    def test_content_sensitive(self):
        changed = ROWS[:-1] + [(4, "w", 123456789012.6e3)]
        self.assertNotEqual(digest.of(COLUMNS, changed), digest.of(COLUMNS, ROWS))

    def test_pinned(self):
        self.assertEqual(digest.of(COLUMNS, ROWS), (4, PINNED))


if __name__ == "__main__":
    unittest.main()
