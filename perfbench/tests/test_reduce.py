"""The span reducer on a hand-built span tree.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import reduce  # noqa: E402
import run  # noqa: E402

S = 1e6  # microseconds per second


def span(i, parent, name, t0, t1, **kw):
    return dict(kind="span", id=i, parent=parent, name=name,
                t0_us=t0 * S, t1_us=t1 * S, **kw)


def job(j, group, t0, t1, **kw):
    return dict(dict(kind="job", job=j, group=group, t0_us=t0 * S, t1_us=t1 * S,
                     stages=1, tasks=4, task_run_ms=100, task_cpu_ns=0,
                     shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
                     scan_bytes=0, stage_names=["count at X.scala:1"]), **kw)


# op 0-10 s
#   engine 1-9 s: jobs 2-5 and 4-7 (overlapping), a job 8-12 clipped at 9
#   cycle 9.5-10 s (stream run r1): one job tagged by the run id
# a job with no group (untimed work) and one naming an unknown span
RECORDS = [
    span(1, 0, "op", 0, 10),
    span(2, 1, "engine", 1, 9),
    span(3, 1, "cycle", 9.5, 10, stream_run_id="r1"),
    job(1, "pb-2", 2, 5),
    job(2, "pb-2", 4, 7),
    job(3, "pb-2", 8, 12),
    job(4, "r1", 9.6, 9.9),
    job(5, "", 3, 4),
    job(6, "pb-99", 3, 4),
    span(4, 0, "after", 11, 12),
]


class ReduceTest(unittest.TestCase):
    def setUp(self):
        self.spans = reduce.tree(RECORDS)
        self.table = reduce.layer_table(self.spans)

    def test_self_time_is_duration_minus_covered_children(self):
        # engine 8 s, children cover 2-7 and 8-9 -> 6 s covered
        self.assertAlmostEqual(self.table["engine"]["self_s"], 2.0)
        # op 10 s, children cover 1-9 and 9.5-10
        self.assertAlmostEqual(self.table["op"]["self_s"], 1.5)
        # cycle 0.5 s, its stream job covers 0.3 s
        self.assertAlmostEqual(self.table["cycle"]["self_s"], 0.2)

    def test_jobs_attach_by_group_or_stream_run(self):
        self.assertEqual(self.table["spark.job"]["count"], 4)
        self.assertAlmostEqual(self.table["spark.job"]["total_s"], 3 + 3 + 4 + 0.3)

    def test_jobs_in_ops_excludes_work_outside_ops(self):
        self.assertEqual(sorted(j["job"] for j in reduce.jobs_in_ops(self.spans)),
                         [1, 2, 3, 4])

    def test_covered_merges_and_clips(self):
        self.assertAlmostEqual(reduce.covered(0, 10, [(2, 5), (4, 7), (9, 15)]), 6)
        self.assertAlmostEqual(reduce.covered(0, 10, []), 0)


class TailTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        lat = list(range(1, 101))
        self.assertEqual(run.tail(lat), (90, 90.0, 10))

    def test_tail_of_a_short_run_is_its_p90(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (2.8, 90.0, 1))
        value, pct, beyond = run.tail(list(range(1, 12)))
        self.assertAlmostEqual(value, 10.0)
        self.assertEqual((pct, beyond), (90.0, 1))
        self.assertEqual(run.tail([5.0]), (5.0, 90.0, 0))

if __name__ == "__main__":
    unittest.main()
