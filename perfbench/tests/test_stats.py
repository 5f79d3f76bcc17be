import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_fewer_than_twenty_samples_have_no_tail(self):
        self.assertIsNone(stats.tail([float(i) for i in range(19)]))

    def test_twenty_samples_give_the_median(self):
        p, v, n = stats.tail([float(i) for i in range(1, 21)])
        self.assertEqual((p, v, n), (50.0, 10.0, 20))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail([float(i) for i in range(1, 101)])[:2], (90.0, 90.0))
        self.assertEqual(stats.tail([float(i) for i in range(1, 201)])[:2], (95.0, 190.0))
        self.assertEqual(stats.tail([float(i) for i in range(1, 1001)])[:2], (99.0, 990.0))
        self.assertEqual(stats.tail([float(i) for i in range(1, 10001)])[:2], (99.9, 9990.0))

    def test_samples_equal_to_the_percentile_are_not_beyond_it(self):
        # 30 samples, the top 12 tied: p75 = 10 has nothing above it
        values = [1.0] * 18 + [10.0] * 12
        self.assertEqual(stats.tail(values)[:2], (50.0, 1.0))
        self.assertIsNone(stats.tail([5.0] * 50))

    def test_order_does_not_matter(self):
        values = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(name, id_, parent, a, b):
        return {"name": name, "id": id_, "parent": parent, "start_ms": a, "end_ms": b}

    def test_overlapping_children_count_once(self):
        spans = [self.span("apply", "1", "", 0, 100),
                 self.span("job", "1", "apply:1", 10, 30),
                 self.span("job", "2", "apply:1", 20, 50),
                 self.span("job", "3", "apply:1", 60, 70)]
        self.assertEqual(stats.self_times(spans)["apply:1"], 50)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span("apply", "1", "", 10, 20),
                 self.span("job", "1", "apply:1", 0, 15),
                 self.span("job", "2", "apply:1", 18, 40)]
        self.assertEqual(stats.self_times(spans)["apply:1"], 3)

    def test_nested_and_contained_children(self):
        spans = [self.span("batch", "7", "", 0, 100),
                 self.span("apply", "7", "batch:7", 5, 60),
                 self.span("lookup", "7", "batch:7", 70, 90),
                 self.span("job", "1", "apply:7", 10, 50),
                 self.span("job", "2", "apply:7", 12, 20),
                 self.span("job", "3", "lookup:7", 75, 80)]
        s = stats.self_times(spans)
        self.assertEqual(s["batch:7"], 100 - 55 - 20)
        self.assertEqual(s["apply:7"], 55 - 40)
        self.assertEqual(s["lookup:7"], 15)
        self.assertEqual(s["job:1"], 40)

    def test_covered_handles_touching_and_empty(self):
        self.assertEqual(stats.covered([(0, 5), (5, 10)], 0, 10), 10)
        self.assertEqual(stats.covered([], 0, 10), 0)
        self.assertEqual(stats.covered([(20, 30)], 0, 10), 0)


if __name__ == "__main__":
    unittest.main()
