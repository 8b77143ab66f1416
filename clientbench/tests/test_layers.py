"""Span attribution and per-layer arithmetic of the traced run."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import layers  # noqa: E402


def span(sid, name, start, end, parent=0, stmt=0, **attrs):
    return {"id": sid, "parent": parent, "stmt": stmt, "name": name,
            "start": start, "end": end, "dur": end - start, "attrs": attrs}


class Union(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(layers._union([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(layers._union([(3, 4), (0, 1)]), 2)
        self.assertEqual(layers._union([]), 0)


class Attribution(unittest.TestCase):
    def test_jobs_go_to_the_op_window_holding_their_start(self):
        spans = [span(1, "op", 100, 200, stmt=1, kind="point"),
                 span(2, "op", 300, 400, stmt=2, kind="range"),
                 span(3, "job", 150.5, 190),
                 span(4, "job", 300.4, 350),  # listener times are whole ms
                 span(5, "job", 250, 260),     # between ops: nobody's
                 span(6, "stage", 301, 349, parent=4),
                 span(7, "task", 302, 320, parent=6),
                 span(8, "task", 330, 340, parent=6)]
        owner, stages, tasks = layers.attribute(spans)
        self.assertEqual([j["id"] for j in owner[1]], [3])
        self.assertEqual([j["id"] for j in owner[2]], [4])
        self.assertNotIn(5, [j["id"] for js in owner.values() for j in js])
        self.assertEqual([t["id"] for t in tasks[6]], [7, 8])
        self.assertEqual([s["id"] for s in stages[4]], [6])

    def test_scheduling_gap_and_per_op_counts(self):
        spans = [span(1, "op", 0, 100, stmt=1, kind="range", rows=1,
                      bytes=10, fetches=1, mode="text"),
                 span(2, "parse", 100, 100.2, stmt=1),
                 span(3, "job", 10, 60),
                 span(4, "stage", 10, 60, parent=3),
                 span(5, "task", 20, 30, parent=4, in_rows=5, run_ms=10),
                 span(6, "task", 25, 40, parent=4, run_ms=15),
                 span(7, "sql", 5, 90, scan_files=3, scan_rows=7)]
        m, detail, _ = layers.layer_metrics(spans, {}, [], [])
        self.assertEqual(m["spark.jobs_per_stmt"][0], 1)
        self.assertEqual(m["spark.tasks_per_stmt"][0], 2)
        # job 10..60 with tasks covering 20..40: 30 ms with none running
        self.assertEqual(m["spark.sched_gap_ms"][0], 30)
        self.assertEqual(m["spark.empty_task_share"][0], 0.5)
        self.assertEqual(m["spark.executor_run_ms"][0], 25)
        self.assertEqual(m["scan.files_read_per_stmt"][0], 3)
        self.assertEqual(m["scan.rows_read_per_row_returned"][0], 7)
        self.assertAlmostEqual(m["parser.parse_us"][0], 200)
        self.assertEqual(detail[0][0], "range")

    def test_layers_not_reached_read_none_and_print_na(self):
        spans = [span(1, "op", 0, 100, stmt=1, kind="point", rows=1,
                      bytes=10, fetches=1, mode="text"),
                 span(2, "parse", 100, 100.2, stmt=1)]
        m, detail, ops = layers.layer_metrics(spans, {}, [], [])
        for name in ("wire.bytes_per_row.binary", "wire.fetches_per_export",
                     "write.files_per_load", "write.rewrite_bytes",
                     "operators.kcore_s", "trace.overhead_pct",
                     "spark.empty_task_share"):
            self.assertIsNone(m[name][0], name)
        self.assertEqual(m["spark.jobs_per_stmt"][0], 0)
        table = layers.format_table("serve", m, detail, ops)
        self.assertRegex(table, r"write\.files_per_load +n/a ")

    def test_overhead_pairs_the_same_statements(self):
        untraced = [("s", 0, "point", 10.0), ("s", 1, "point", 20.0)]
        traced = [("s", 0, "point", 11.0), ("s", 2, "point", 99.0)]
        m, _, _ = layers.layer_metrics([], {}, traced, untraced)
        self.assertAlmostEqual(m["trace.overhead_pct"][0], 10.0)


if __name__ == "__main__":
    unittest.main()
