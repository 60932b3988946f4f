import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}


class TailLevel(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_level(19))
        self.assertEqual(stats.tail_level(20), 0.5)
        self.assertEqual(stats.tail_level(39), 0.5)
        self.assertEqual(stats.tail_level(40), 0.75)
        self.assertEqual(stats.tail_level(99), 0.75)
        self.assertEqual(stats.tail_level(100), 0.9)
        self.assertEqual(stats.tail_level(200), 0.95)
        self.assertEqual(stats.tail_level(1000), 0.99)
        self.assertEqual(stats.tail_level(10000), 0.999)

    def test_quantile_interpolates(self):
        self.assertEqual(stats.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(stats.quantile([5], 0.9), 5)
        self.assertAlmostEqual(stats.quantile(range(11), 0.9), 9.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 4), (0, 10)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (5, 7)]), 7)
        self.assertEqual(stats.union_length([(4, 4), (6, 5)]), 0)

    def test_self_time_subtracts_covered_part_of_children(self):
        spans = [span(1, -1, 0, 100),
                 span(2, 1, 10, 40), span(3, 1, 30, 60),   # overlapping children
                 span(4, 1, 90, 130),                       # runs past its parent
                 span(5, 2, 10, 20)]
        self_t = stats.self_times(spans)
        self.assertEqual(self_t[1], 100 - 50 - 10)
        self.assertEqual(self_t[2], 30 - 10)
        self.assertEqual(self_t[5], 10)

    def test_jobs_link_to_the_innermost_span_they_start_in(self):
        spans = [dict(span(1, -1, 0, 100), kind="query"), dict(span(2, 1, 10, 90), kind="write"),
                 dict(span(-1, -1, 20, 30), kind="job"), dict(span(-1, -1, 95, 99), kind="job"),
                 dict(span(-1, -1, 150, 160), kind="job")]
        linked = stats.link_by_time(spans, ("job",))
        self.assertEqual([s["parent"] for s in linked], [-1, 1, 2, 1, -1])
        self_t = stats.self_times(linked)
        self.assertEqual((self_t[1], self_t[2]), (100 - 80 - 4, 80 - 10))
        self.assertEqual(len(self_t), 5)

    def test_driver_time_is_query_wall_without_any_job(self):
        ops = [span(1, -1, 0, 1000), span(2, -1, 2000, 2500)]
        jobs = [span(-1, -1, 100, 300), span(-1, -1, 200, 400),  # concurrent jobs count once
                span(-1, -1, 900, 1200),                         # clipped at the query end
                span(-1, -1, 1500, 1600),                        # between queries: ignored
                span(-1, -1, 2100, 2200)]
        job_s, driver_s = stats.job_cover(ops, jobs)
        self.assertAlmostEqual(job_s, 0.3 + 0.1 + 0.1)
        self.assertAlmostEqual(driver_s, 1.5 - 0.5)


if __name__ == "__main__":
    unittest.main()
