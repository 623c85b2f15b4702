"""Unit tests for the benchmark's metric arithmetic; no Spark session.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


class TailPercentile(unittest.TestCase):
    def test_ninetieth_once_ten_samples_lie_beyond_it(self):
        self.assertEqual(metrics.tail_percentile(100), 0.9)
        self.assertEqual(metrics.tail_percentile(1000), 0.9)

    def test_lower_percentile_keeps_ten_samples_beyond(self):
        p = metrics.tail_percentile(40)
        self.assertAlmostEqual(p, 0.75)
        values = list(range(1, 41))
        tail = metrics.percentile(values, p)
        self.assertEqual(sum(v > tail for v in values), 10)

    def test_median_when_no_tail_is_resolvable(self):
        self.assertEqual(metrics.tail_percentile(4), 0.5)
        self.assertEqual(metrics.tail_percentile(19), 0.5)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5, 1, 3, 2, 4], 0.5), 3)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)
        self.assertEqual(metrics.percentile([7], 0.9), 7)


class SelfTime(unittest.TestCase):
    def test_children_covering_part_of_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 5), (3, 7), (6, 8)]), 3)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((10, 20), [(5, 12), (19, 25)]), 7)

    def test_children_plus_self_add_up_to_wall(self):
        out = {
            "requests": [{"id": 1, "kind": "window", "startMs": 0.0, "buildEndMs": 4.0,
                          "execEndMs": 9.0, "endMs": 10.0}],
            "recorder": {"jobs": [{"id": 7, "tags": ["pb.1.build"], "submitMs": 1,
                                   "endMs": 3},
                                  {"id": 8, "tags": ["pb.1.exec"], "submitMs": 5,
                                   "endMs": 8}],
                         "plans": [{"executionId": 3, "tags": ["pb.1.exec"],
                                    "phases": {"analysis": [4, 5]}}]},
        }
        span_list = metrics.spans(out)
        selfs = metrics.self_times(span_list)
        self.assertEqual(selfs["1"], 0.0)
        self.assertEqual(selfs["1.build"], 2.0)
        self.assertEqual(selfs["1.exec"], 1.0)
        self.assertEqual(metrics.span_check(span_list, selfs), 0.0)


class Attribution(unittest.TestCase):
    def test_build_and_exec_tags(self):
        self.assertEqual(metrics.job_phase(["pb.12.build"]), (12, "build"))
        self.assertEqual(metrics.job_phase(["spark-session-x", "pb.3.exec"]), (3, "exec"))
        self.assertEqual(metrics.job_phase(["pb.3.release"]), (3, "release"))

    def test_untagged(self):
        self.assertIsNone(metrics.job_phase([]))
        self.assertIsNone(metrics.job_phase(["pb.x.build", "pb.1.other"]))

    def test_later_phase_wins_when_tags_nest(self):
        self.assertEqual(metrics.job_phase(["pb.4.build", "pb.4.exec"]), (4, "exec"))


class Scheduling(unittest.TestCase):
    def test_idle_frac(self):
        self.assertEqual(metrics.idle_frac(task_wall_s=10, cores=4, wall_s=5), 0.5)
        self.assertEqual(metrics.idle_frac(task_wall_s=20, cores=4, wall_s=5), 0.0)
        self.assertEqual(metrics.idle_frac(task_wall_s=0, cores=4, wall_s=5), 1.0)


class HeaviestStage(unittest.TestCase):
    def test_share_of_the_largest_task_in_the_heaviest_stage(self):
        stages = [{"attempts": 8, "cpuNs": 100, "maxTaskCpuNs": 20},
                  {"attempts": 4, "cpuNs": 400, "maxTaskCpuNs": 300},
                  {"attempts": 1, "cpuNs": 0, "maxTaskCpuNs": 0}]
        self.assertEqual(metrics.heaviest_stage(stages), (4, 0.75))

    def test_no_cpu(self):
        self.assertIsNone(metrics.heaviest_stage([]))
        self.assertIsNone(metrics.heaviest_stage([{"attempts": 1, "cpuNs": 0,
                                                   "maxTaskCpuNs": 0}]))


class Correctness(unittest.TestCase):
    def test_exceptions_and_wrong_counts_fail(self):
        reqs = [{"id": 1, "kind": "window", "query": "a", "rows": 3, "error": None},
                {"id": 2, "kind": "window", "query": "a", "rows": 2, "error": None},
                {"id": 3, "kind": "setup", "query": "b", "rows": -1,
                 "error": "java.lang.IllegalStateException", "message": "boom"}]
        failed = metrics.check_rows(reqs, {"a": 3, "b": 1})
        self.assertEqual([f["id"] for f in failed], [2, 3])
        self.assertEqual(failed[0]["error"], "WrongRowCount")
        self.assertEqual(failed[1]["message"], "boom")


if __name__ == "__main__":
    unittest.main()
