"""The metrics a run computes are exactly the ones BENCHMARK.json declares.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import tempfile
import unittest

import run
import test_tracecheck


def declared(section):
    return {m["name"] for m in run.BENCH[section]}


class DeclaredMetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        passes = [{"traced": False, "wall_s": 2.0,
                   "ops": [{"name": "q", "ms": 10.0 * i, "ok": True} for i in range(1, 6)]}]
        got = run.end_to_end(20.0, passes, 900.0, 200.0)
        self.assertEqual(declared("end_to_end"), set(got))
        self.assertEqual(got["op_ms_p50"], 30.0)
        self.assertAlmostEqual(run.quantile([10.0 * i for i in range(1, 6)], 0.9), 46.0)

    def test_per_layer(self):
        with tempfile.TemporaryDirectory() as work:
            got = run.per_layer(test_tracecheck.trace(), 4, work, {}, {}, "olap_fixed")
        got["trace.overhead_ratio"] = 1.0
        self.assertEqual(declared("per_layer"), set(got))


if __name__ == "__main__":
    unittest.main()
