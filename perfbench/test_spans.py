"""Tests for perfbench/spans.py on hand-built spans.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import spans


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(spans.union_length([(0, 10), (20, 25)]), 15)

    def test_overlapping_intervals_count_once(self):
        # two entity branches running side by side
        self.assertEqual(spans.union_length([(0, 10), (5, 15)]), 15)

    def test_nested_and_touching(self):
        self.assertEqual(spans.union_length([(0, 100), (10, 20), (20, 30), (100, 110)]), 110)

    def test_unsorted_and_empty(self):
        self.assertEqual(spans.union_length([(50, 60), (0, 5), (3, 4), (7, 7)]), 15)
        self.assertEqual(spans.union_length([]), 0)


class OutsideTest(unittest.TestCase):
    def test_outside_is_wall_minus_union_not_sum(self):
        # span 0..100; jobs 10..40 and 30..60 overlap: union 50, sum 60
        self.assertEqual(spans.outside((0, 100), [(10, 40), (30, 60)]), 50)

    def test_jobs_clipped_to_span(self):
        # a job that started before the span only counts inside it
        self.assertEqual(spans.outside((100, 200), [(50, 150), (190, 300)]), 40)

    def test_fan_out_runs(self):
        # four concurrent file runs: each run's self time uses only its own jobs
        runs = {"a": (0, 100), "b": (0, 100)}
        jobs = {"a": [(0, 50), (25, 75)], "b": [(90, 120)]}
        self.assertEqual(spans.outside(runs["a"], jobs["a"]), 25)
        self.assertEqual(spans.outside(runs["b"], jobs["b"]), 90)

    def test_no_jobs(self):
        self.assertEqual(spans.outside((5, 9), []), 4)


class AttributionTest(unittest.TestCase):
    def job(self, jid, start, end=None, exec_id=None, file=None):
        return {"id": jid, "start": start, "end": end if end is not None else start + 1,
                "exec": exec_id, "file": file}

    def test_observed_name_wins_over_stale_property(self):
        jobs = [self.job(1, 50, exec_id=7, file="run_0_0")]
        sql = [{"id": 7, "observed": ["graft/run_0_1/contact"]}]
        got = spans.attribute_jobs(jobs, sql, {"run_0_0": (0, 100), "run_0_1": (0, 100)})
        self.assertEqual(list(got), ["run_0_1"])

    def test_property_used_inside_its_window_only(self):
        jobs = [self.job(1, 50, file="run_0_0"), self.job(2, 500, file="run_0_0")]
        got = spans.attribute_jobs(jobs, [], {"run_0_0": (0, 100)})
        self.assertEqual([j["id"] for j in got["run_0_0"]], [1])

    def test_unknown_jobs_unattributed(self):
        got = spans.attribute_jobs([self.job(1, 5)], [{"id": 3, "observed": ["other"]}], {})
        self.assertEqual(got, {})

    def test_jobs_in_sequential_spans(self):
        jobs = [self.job(1, 5), self.job(2, 15), self.job(3, 25)]
        self.assertEqual([j["id"] for j in spans.jobs_in(jobs, (10, 20))], [2])


class SampleTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 61))  # 60 samples
        value, p, n = spans.tail(xs)
        self.assertEqual((p, n), (83, 60))
        self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_small_sample_is_max(self):
        self.assertEqual(spans.tail([3, 1, 2]), (3, 100, 3))

    def test_spread(self):
        self.assertAlmostEqual(spans.spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(spans.spread([8, 9, 10, 11, 12]), 0.0)


if __name__ == "__main__":
    unittest.main()
