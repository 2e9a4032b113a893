"""Tests of the trace checker.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import tracecheck


def span(i, parent, op, span_name, start, end, **attrs):
    return {"id": i, "parent": parent, "op": op, "name": span_name,
            "start": start, "end": end, "attrs": attrs}


def job(i, parent, group, start, end, job_id):
    return span(i, parent, group, "job", start, end, job_id=job_id, group=group,
                stages=1, tasks=4, task_ms=(end - start) * 3)


def trace():
    """One op of 1000 ms: 300 ms build with one job, then a 700 ms
    action: 50 ms planning, a 500 ms job, 150 ms driver gap."""
    return [
        span(1, 0, "", "run", 0, 2000),
        span(2, 1, "", "pass", 0, 2000),
        span(3, 2, "p1.0.q", "op", 100, 1100, name="q", kind="action"),
        span(4, 3, "p1.0.q", "build", 100, 400),
        job(5, 4, "p1.0.q", 200, 300, 0),
        span(6, 3, "p1.0.q", "action", 400, 1100),
        span(7, 6, "p1.0.q", "plan.optimization", 400, 430),
        span(8, 6, "p1.0.q", "plan.planning", 430, 450),
        job(9, 6, "p1.0.q", 500, 1000, 1),
    ]


class CheckTest(unittest.TestCase):
    def test_consistent_trace_passes(self):
        self.assertEqual(tracecheck.check(trace()), [])
        r = tracecheck.ops(trace())["p1.0.q"]
        self.assertAlmostEqual(r["gap_ms"], 150)
        self.assertAlmostEqual(r["jobs_ms"], 500)
        self.assertEqual(r["build_jobs"], 1)

    def test_untied_job_fails(self):
        t = trace() + [job(10, 6, "", 600, 700, 2)]
        self.assertTrue(any("tied to no op" in p for p in tracecheck.check(t)))

    def test_job_outside_its_op_fails(self):
        t = trace() + [job(10, 6, "p1.0.q", 1500, 1600, 2)]
        self.assertTrue(any("outside op" in p for p in tracecheck.check(t)))

    def test_overlapping_plan_and_job_fail_the_sum(self):
        t = trace()
        t[6] = span(7, 6, "p1.0.q", "plan.optimization", 400, 800)
        self.assertTrue(any("vs wall" in p for p in tracecheck.check(t)))

    def test_build_and_action_must_cover_the_op(self):
        t = trace()
        t[2] = span(3, 2, "p1.0.q", "op", 100, 1400, name="q", kind="action")
        self.assertTrue(any("vs wall" in p for p in tracecheck.check(t)))

    def test_layer_metrics(self):
        m = tracecheck.layer_metrics(trace(), cores=4)
        self.assertAlmostEqual(m["op.wall_ms"], 1000)
        self.assertAlmostEqual(m["build.ms"], 300)
        self.assertAlmostEqual(m["driver.gap_ms"], 150)
        self.assertAlmostEqual(m["op.fixed_share"], (300 + 50 + 150) / 1000)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertAlmostEqual(m["exec.core_util"], (300 + 1500) / (1000 * 4))


if __name__ == "__main__":
    unittest.main()
