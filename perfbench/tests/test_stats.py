import unittest

from bench import stats


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertIsNone(stats.percentile(xs[:99], 0.9))

    def test_p50_needs_twenty_samples(self):
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)
        self.assertIsNone(stats.percentile(list(range(1, 20)), 0.5))

    def test_rank_is_exact(self):
        # 0.9 * 100 is 90.00000000000001 in floating point
        self.assertEqual(stats.nearest_rank(0.9, 100), 90)
        self.assertEqual(stats.nearest_rank(0.9, 101), 91)
        self.assertEqual(stats.nearest_rank(0.5, 1), 1)

    def test_order_does_not_matter(self):
        xs = list(range(200, 0, -1))
        self.assertEqual(stats.percentile(xs, 0.9), 180)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 0.5))


def span(i, parent, start, end, op=0, name="x"):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0, 10_000_000_000),
                 span(1, 0, 1_000_000_000, 3_000_000_000),
                 span(2, 0, 5_000_000_000, 9_000_000_000),
                 span(3, 2, 6_000_000_000, 7_000_000_000)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t[0], 4.0)
        self.assertAlmostEqual(t[1], 2.0)
        self.assertAlmostEqual(t[2], 3.0)
        self.assertAlmostEqual(t[3], 1.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 2, 6), span(2, 0, 4, 8)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 4 / 1e9)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 10, 20), span(1, 0, 5, 15)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 5 / 1e9)

    def test_phase_coverage(self):
        spans = [span(0, -1, 0, 100, op=7, name="op"),
                 span(1, 0, 0, 40, op=7, name="construct"),
                 span(2, 0, 40, 45, op=7, name="plan"),
                 span(3, 0, 45, 95, op=7, name="action")]
        self.assertAlmostEqual(stats.coverage(spans)[7], 0.95)


class Attribution(unittest.TestCase):
    def events(self):
        return [
            {"ev": "op_start", "op": 1},
            {"ev": "job", "job": 0, "op": 1, "stages": [0, 1]},
            {"ev": "stage", "stage": 0, "op": 1, "tasks": 2},
            {"ev": "task", "stage": 0, "run_s": 0.5, "gc_s": 0.0,
             "shuffle_bytes": 10, "spill_bytes": 0, "in_bytes": 100, "in_rows": 5,
             "out_bytes": 0},
            {"ev": "block", "block": "rdd_3_0", "bytes": 1000, "valid": True},
            {"ev": "plan_string", "chars": 300},
            {"ev": "construct_end", "op": 1},
            {"ev": "plan_string", "chars": 200},
            {"ev": "job", "job": 1, "op": 1, "stages": [2]},
            {"ev": "stage", "stage": 2, "op": 1, "tasks": 1},
            {"ev": "task", "stage": 2, "run_s": 0.25, "gc_s": 0.01,
             "shuffle_bytes": 0, "spill_bytes": 7, "in_bytes": 0, "in_rows": 0,
             "out_bytes": 3},
            {"ev": "op_end", "op": 1},
            {"ev": "plan_string", "chars": 999},
            # a job with no op property (outside any operation) is dropped
            {"ev": "job", "job": 2, "op": -1, "stages": [3]},
            {"ev": "stage", "stage": 3, "op": -1, "tasks": 1},
            {"ev": "task", "stage": 3, "run_s": 9.0, "gc_s": 0.0,
             "shuffle_bytes": 0, "spill_bytes": 0, "in_bytes": 0, "in_rows": 0,
             "out_bytes": 0},
            {"ev": "op_start", "op": 2},
            {"ev": "block", "block": "rdd_3_0", "bytes": 0, "valid": False},
            {"ev": "job", "job": 3, "op": 2, "stages": [4]},
            {"ev": "stage", "stage": 4, "op": 2, "tasks": 1},
            {"ev": "task", "stage": 4, "run_s": 1.0, "gc_s": 0.0,
             "shuffle_bytes": 0, "spill_bytes": 0, "in_bytes": 0, "in_rows": 0,
             "out_bytes": 0},
            {"ev": "op_end", "op": 2},
        ]

    def test_events_follow_the_local_property(self):
        a = stats.attribute(self.events())
        self.assertEqual(sorted(a), [1, 2])
        self.assertEqual(a[1]["jobs"], 2)
        self.assertEqual(a[1]["construct_jobs"], 1)
        self.assertEqual(a[1]["stages"], 2)
        self.assertEqual(a[1]["tasks"], 2)
        self.assertAlmostEqual(a[1]["run_s"], 0.75)
        self.assertAlmostEqual(a[1]["scan_task_s"], 0.5)
        self.assertEqual(a[1]["shuffle_bytes"], 10)
        self.assertEqual(a[1]["spill_bytes"], 7)
        self.assertEqual(a[1]["out_bytes"], 3)
        self.assertEqual(a[2]["jobs"], 1)
        self.assertAlmostEqual(a[2]["run_s"], 1.0)

    def test_cached_blocks_follow_the_marks(self):
        a = stats.attribute(self.events())
        self.assertEqual(a[1]["blocks_written"], 1)
        self.assertEqual(a[1]["cache_bytes_peak"], 1000)
        self.assertEqual(a[1]["cache_bytes_left"], 1000)
        self.assertEqual(a[2]["blocks_written"], 0)
        self.assertEqual(a[2]["cache_bytes_peak"], 1000)
        self.assertEqual(a[2]["cache_bytes_left"], 0)

    def test_plan_strings_follow_the_marks(self):
        a = stats.attribute(self.events())
        self.assertEqual((a[1]["plan_strings"], a[1]["plan_chars"]), (2, 500))
        self.assertEqual(a[2]["plan_chars"], 0)

    def test_task_of_unannounced_stage_is_dropped(self):
        ev = [{"ev": "task", "stage": 99, "run_s": 1.0, "gc_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0, "in_bytes": 0, "in_rows": 0,
               "out_bytes": 0}]
        self.assertEqual(stats.attribute(ev), {})


class CpuUtil(unittest.TestCase):
    def test_task_seconds_per_core_second(self):
        self.assertAlmostEqual(stats.cpu_util(2.0, 1.0, 4), 0.5)
        self.assertAlmostEqual(stats.cpu_util(4.0, 1.0, 4), 1.0)
        self.assertAlmostEqual(stats.cpu_util(0.9, 0.96, 4), 0.234375)

    def test_degenerate(self):
        self.assertEqual(stats.cpu_util(1.0, 0.0, 4), 0.0)


if __name__ == "__main__":
    unittest.main()
