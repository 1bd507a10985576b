"""Unit tests of the metric computation (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def progress(batch, start, trigger_ms):
    return {"batch": batch, "rows": 0, "start": start,
            "durations": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 10}}


class FreshnessAttribution(unittest.TestCase):
    # two backlog files (0, 1) then four open-loop files (2..5) of 10
    # events each, due every 100 ms from t=1000
    files = [(1000, 1002), (1100, 1101), (1200, 1205), (1300, 1301)]  # (due, published)

    def test_each_event_gets_its_batch_commit_minus_its_due_time(self):
        prog = [progress(0, 500, 300), progress(1, 1150, 200), progress(2, 1350, 100)]
        ends = metrics.commit_ends(prog)
        self.assertEqual(ends, {0: 800, 1: 1350, 2: 1450})
        file_batch = {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2}
        fresh, missing = metrics.attribute(ends, file_batch, 2, self.files, 10)
        self.assertEqual(missing, 0)
        self.assertEqual(len(fresh), 40)
        self.assertEqual(sorted(set(fresh)), [150, 250, 350])
        self.assertEqual(fresh[:10], [350] * 10)
        self.assertEqual(fresh[30:], [150] * 10)

    def test_files_of_uncommitted_batches_count_as_missing(self):
        prog = [progress(0, 500, 300), progress(1, 1150, 200)]
        file_batch = {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}  # batch 2 never committed; file 5 never read
        fresh, missing = metrics.attribute(metrics.commit_ends(prog), file_batch, 2, self.files, 10)
        self.assertEqual(len(fresh), 20)
        self.assertEqual(missing, 20)

    def test_backlog_counts_published_minus_committed(self):
        ends = {0: 800, 1: 1350, 2: 1450}
        file_batch = {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2}
        # at 1350 all four open-loop files are out, two committed -> 20 events;
        # at 1450 all four are committed -> 0
        self.assertEqual(metrics.backlog_series(ends, file_batch, 2, self.files, 10, 1000), [20, 0])


class PercentileRule(unittest.TestCase):
    def test_a_quantile_needs_ten_samples_beyond_it(self):
        self.assertTrue(metrics.supported(100, 0.9))
        self.assertFalse(metrics.supported(99, 0.9))
        self.assertTrue(metrics.supported(20, 0.5))
        self.assertFalse(metrics.supported(19, 0.5))

    def test_tail_is_the_highest_supported_quantile_up_to_p90(self):
        self.assertEqual(metrics.tail_level(1000), 0.9)
        self.assertAlmostEqual(metrics.tail_level(40), 0.75)
        self.assertEqual(metrics.tail_level(19), 0.5)

    def test_summary_reports_the_count_and_level(self):
        s = metrics.summary([float(i) for i in range(1, 41)])
        self.assertEqual(s["n"], 40)
        self.assertAlmostEqual(s["tail_q"], 0.75)
        self.assertAlmostEqual(s["p50"], 20.5)
        self.assertAlmostEqual(s["tail"], metrics.percentile(range(1, 41), 0.75))
        self.assertEqual(metrics.summary([])["n"], 0)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.percentile([5], 0.9), 5)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_excludes_children_and_jobs_nest_in_the_deepest_span(self):
        spans = [{"id": 1, "parent": 0, "name": "query", "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "name": "query.execute", "start": 40, "end": 100}]
        jobs = [{"id": 7, "span": 1, "start": 50, "end": 70}]
        out = {n["id"]: n for n in metrics.self_times(spans, jobs)}
        self.assertEqual(out["job7"]["parent"], 2)
        self.assertEqual(out[1]["self_ms"], 40)
        self.assertEqual(out[2]["self_ms"], 40)


if __name__ == "__main__":
    unittest.main()
