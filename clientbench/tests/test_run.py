"""Throughput with partial credit for the ops in flight at the deadline."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class Completed(unittest.TestCase):
    def test_in_flight_op_gets_its_done_share(self):
        ops = [{"start": 0, "end": 4}, {"start": 4, "end": 10},
               {"start": 10, "end": 30},   # 8 of 20 done at 18
               {"start": 0, "end": 18}]    # ends exactly at the deadline
        self.assertAlmostEqual(run.completed(ops, 18), 3.4)

    def test_ops_after_the_deadline_count_nothing(self):
        self.assertEqual(run.completed([{"start": 20, "end": 25}], 18), 0)


class Throughput(unittest.TestCase):
    def test_failed_ops_are_not_throughput(self):
        def op(kind, start, end, ok):
            return {"kind": kind, "start": start, "end": end, "ok": ok,
                    "ms": (end - start) / 1e6, "rows": 1}
        samples = [op("point", 0, 1e9, True), op("range", 1e9, 2e9, False),
                   op("point", 2e9, 3e9, True), op("point", 3e9, 5e9, True)]
        result = {"setup_s": 1.0, "timed_start_ns": 0,
                  "retained_heap_mb": 1.0}
        rep = run.end_to_end({"workload": "serve"}, result, samples, None, 4)
        self.assertAlmostEqual(rep["ops_per_s"][0], 2.5 / 4)
        self.assertEqual(rep["failed_share"][0], 0.25)


if __name__ == "__main__":
    unittest.main()
