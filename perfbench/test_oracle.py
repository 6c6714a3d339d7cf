"""Tests of the output digest (run: python3 -m unittest discover perfbench)."""
import unittest

from oracle import digest


class DigestTest(unittest.TestCase):
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.25)]

    def test_row_order_does_not_matter(self):
        self.assertEqual(digest(["id", "s", "x"], self.rows),
                         digest(["id", "s", "x"], list(reversed(self.rows))))

    def test_column_order_does_not_matter(self):
        swapped = [(x, i, s) for i, s, x in self.rows]
        self.assertEqual(digest(["id", "s", "x"], self.rows), digest(["x", "id", "s"], swapped))

    def test_a_changed_value_changes_the_digest(self):
        changed = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.5)]
        self.assertNotEqual(digest(["id", "s", "x"], self.rows)[1],
                            digest(["id", "s", "x"], changed)[1])

    def test_duplicates_count(self):
        n1, d1 = digest(["a"], [(1,), (2,)])
        n2, d2 = digest(["a"], [(1,), (2,), (2,)])
        self.assertEqual((n1, n2), (2, 3))
        self.assertNotEqual(d1, d2)

    def test_last_bit_float_noise_is_equal_but_rounding_is_not(self):
        self.assertEqual(digest(["x"], [(0.1 + 0.2,)]), digest(["x"], [(0.3,)]))
        self.assertNotEqual(digest(["x"], [(0.300001,)]), digest(["x"], [(0.3,)]))
        self.assertEqual(digest(["x"], [(-0.0,)]), digest(["x"], [(0.0,)]))
        self.assertEqual(digest(["x"], [(float("nan"),)]), digest(["x"], [(float("nan"),)]))

    def test_types_stay_apart(self):
        self.assertNotEqual(digest(["x"], [("1",)]), digest(["x"], [(1,)]))
        self.assertNotEqual(digest(["x"], [(None,)]), digest(["x"], [("N",)]))
        self.assertEqual(digest(["x"], [([1.0, 2.0],)]), digest(["x"], [((1.0, 2.0),)]))

    def test_empty(self):
        self.assertEqual(digest(["x"], []), (0, 0))


if __name__ == "__main__":
    unittest.main()
