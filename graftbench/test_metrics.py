"""Tests of the benchmark's own arithmetic. Run: python3 -m unittest
discover -s graftbench"""
import os
import tempfile
import unittest

import metrics


class TailPercentile(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(xs), (90, 0.90, 100))
        xs = list(range(1, 201))
        self.assertEqual(metrics.tail_percentile(xs), (180, 0.90, 200))

    def test_fewer_samples_give_a_lower_percentile_with_ten_beyond(self):
        value, pct, n = metrics.tail_percentile(list(range(1, 51)))
        self.assertEqual((value, n), (40, 50))
        self.assertAlmostEqual(pct, 0.8)
        self.assertEqual(sum(1 for x in range(1, 51) if x > value), 10)
        self.assertEqual(metrics.tail_percentile(list(range(11, 0, -1)))[:2],
                         (1, 1 / 11))

    def test_under_eleven_samples_reports_the_maximum(self):
        self.assertEqual(metrics.tail_percentile([3, 9, 1]), (9, 1.0, 3))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile([])


def span(i, parent, start, end, kind="x"):
    return {"id": i, "parent": parent, "kind": kind, "label": "",
            "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_span_minus_union_of_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50),
                 span(3, 0, 90, 120)]
        # children cover [10, 50) and, clipped to the parent, [90, 100)
        self.assertEqual(metrics.self_times(spans)[0], 50)

    def test_self_times_of_a_tree_add_up_to_the_root(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 100, 400), span(2, 1, 150, 200),
                 span(3, 1, 250, 390), span(4, 0, 500, 900), span(5, 4, 500, 900)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 1000)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(7, 3, 5, 17)]), {7: 12})


class WriteAmp(unittest.TestCase):
    def test_bytes_listed_under_the_written_dirs_per_source_byte(self):
        with tempfile.TemporaryDirectory() as d:
            src, dump, db = (os.path.join(d, n) for n in ("src", "dump", "db"))
            for path, size in ((f"{src}/t.parquet/part-0", 100),
                               (f"{src}/t.parquet/part-1", 100),
                               (f"{dump}/main/t/part-0", 150),
                               (f"{dump}/_metadata.json", 10),
                               (f"{db}/stage/t/part-0", 240)):
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as fh:
                    fh.write(b"x" * size)
            self.assertEqual(metrics.listing(dump, db), (3, 400))
            self.assertEqual(metrics.write_amp([dump, db], src), 2.0)
            self.assertEqual(metrics.listing(os.path.join(d, "absent")), (0, 0))

    def test_empty_source_is_an_error(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(ValueError):
                metrics.write_amp([d], d)


class FailFrac(unittest.TestCase):
    def test_wrong_results_count_as_failures(self):
        ops = [{"name": "q_a", "ok": True}, {"name": "q_b", "ok": True},
               {"name": "q_a", "ok": True}, {"name": "q_c", "ok": False}]
        # q_a is wrong twice over, q_c threw once
        self.assertEqual(metrics.fail_frac(ops, {"q_a": "row count"}), (0.75, 3))
        self.assertEqual(metrics.fail_frac(ops, {}), (0.25, 1))

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.fail_frac([], {})


class Attribution(unittest.TestCase):
    def test_events_go_to_the_op_whose_interval_holds_them(self):
        ms = metrics.NS_PER_MS
        ops = [{"start_ns": 10 * ms, "end_ns": 20 * ms},
               {"start_ns": 30 * ms, "end_ns": 40 * ms}]
        events = {"tasks_fields": ["launch_ms", "run_ms"],
                  "tasks": [[12, 1], [19.9, 1], [25, 1], [30, 1], [41, 1]]}
        att = metrics.attribute(events, ops)
        self.assertEqual(len(att[0]["tasks"]), 2)
        self.assertEqual(len(att[1]["tasks"]), 1)


if __name__ == "__main__":
    unittest.main()
