"""Self-tests of the tail-percentile choice. Run with `python3 perfbench/run.py --selftest`
(or `python3 -m unittest` from this directory)."""
import unittest

from run import tail


class TailChoice(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # the eleventh slowest sample leaves exactly ten beyond it
        self.assertEqual(tail(list(range(40))), (75.0, 29, 10))
        self.assertEqual(tail(list(range(200))), (95.0, 189, 10))
        self.assertEqual(tail(list(range(1000))), (99.0, 989, 10))
        p, v, beyond = tail(list(range(37)))
        self.assertEqual((v, beyond), (26, 10))
        self.assertAlmostEqual(p, 100 * 27 / 37)

    def test_unsorted_input(self):
        xs = [float(x) for x in range(40)]
        xs.reverse()
        self.assertEqual(tail(xs)[1], 29.0)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(tail(list(range(20))), (50.0, 9, 10))
        p, v, beyond = tail([4.0, 1.0, 3.0, 2.0, 5.0])
        self.assertEqual((p, v, beyond), (50.0, 3.0, 2))


if __name__ == "__main__":
    unittest.main()
