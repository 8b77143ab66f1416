"""The tail-percentile rule of the reports."""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from stats import tail  # noqa: E402


class Tail(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(tail(list(range(10))))
        self.assertIsNotNone(tail(list(range(11))))

    def test_exactly_ten_beyond(self):
        rng = random.Random(2)
        for n in (11, 12, 25, 100, 1000):
            xs = [rng.random() for _ in range(n)]
            value, pct, count = tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(x > value for x in xs), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_known_values(self):
        self.assertEqual(tail(list(range(1, 101))), (90, 90.0, 100))
        self.assertEqual(tail(list(range(1, 1001))), (990, 99.0, 1000))
        self.assertEqual(tail(list(range(11))), (0, 100 / 11, 11))

    def test_highest_such_percentile(self):
        # one more rank up would leave only nine samples beyond
        xs = list(range(200))
        value, _, _ = tail(xs)
        self.assertEqual(sum(x > value + 1 for x in xs), 9)

    def test_unordered_input(self):
        xs = list(range(50))
        random.Random(3).shuffle(xs)
        self.assertEqual(tail(xs)[0], 39)


if __name__ == "__main__":
    unittest.main()
