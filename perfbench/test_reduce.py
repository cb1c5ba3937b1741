"""Tests of the benchmark's reducers.  Run: python3 -m unittest discover perfbench"""
import unittest

import reduce


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(reduce.percentile(xs, 50), 50)
        self.assertEqual(reduce.percentile(xs, 90), 90)
        self.assertEqual(reduce.percentile([3.0], 50), 3.0)
        self.assertEqual(reduce.percentile([2, 1], 50), 1)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(reduce.tail_percentile(list(range(19))))
        self.assertEqual(reduce.tail_percentile(list(range(20))), (50, 9))
        self.assertEqual(reduce.tail_percentile(list(range(99)))[0], 50)
        self.assertEqual(reduce.tail_percentile(list(range(100))), (90, 89))
        self.assertEqual(reduce.tail_percentile(list(range(999)))[0], 90)
        self.assertEqual(reduce.tail_percentile(list(range(1000)))[0], 99)


class FailCountTest(unittest.TestCase):
    ATTEMPTED = {(q, p) for q in ("a", "b", "c") for p in range(3)}

    def test_clean(self):
        self.assertEqual(reduce.fail_count(self.ATTEMPTED, set(), set()), 0)

    def test_failures_and_mismatches_count_once(self):
        failed = {("a", 0), ("b", 1)}
        # "b" mismatched: all three of its passes fail, (b, 1) only once
        self.assertEqual(reduce.fail_count(self.ATTEMPTED, failed, {"b"}), 4)

    def test_unknown_ops_are_ignored(self):
        self.assertEqual(reduce.fail_count(self.ATTEMPTED, {("z", 0)}, {"y"}), 0)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(reduce.self_time(0, 10, []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(reduce.self_time(0, 10, [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_clipped_to_span(self):
        self.assertEqual(reduce.self_time(5, 10, [(0, 6), (9, 20), (30, 40)]), 3)

    def test_union_length(self):
        self.assertEqual(reduce.union_length([(5, 7), (0, 2), (1, 3)]), 5)


def _record():
    """Two passes, one query each; the warm pass has one job, half covered."""
    spans = [
        {"id": 0, "kind": "run", "name": "w", "pass": -1, "parent": -1, "start": 0, "end": 5000, "attrs": {}},
        {"id": 1, "kind": "pass", "name": "w", "pass": 0, "parent": 0, "start": 0, "end": 3000, "attrs": {}},
        {"id": 2, "kind": "query", "name": "q", "pass": 0, "parent": 1, "start": 0, "end": 3000,
         "attrs": {"cc_rounds": 4}},
        {"id": 3, "kind": "build", "name": "q", "pass": 0, "parent": 2, "start": 0, "end": 1000, "attrs": {}},
        {"id": 4, "kind": "execute", "name": "q", "pass": 0, "parent": 2, "start": 1000, "end": 2500, "attrs": {}},
        {"id": 5, "kind": "reset", "name": "q", "pass": 0, "parent": 2, "start": 2500, "end": 2900, "attrs": {}},
        {"id": 6, "kind": "pass", "name": "w", "pass": 1, "parent": 0, "start": 3000, "end": 5000, "attrs": {}},
        {"id": 7, "kind": "query", "name": "q", "pass": 1, "parent": 6, "start": 3000, "end": 5000,
         "attrs": {"cc_rounds": 4}},
        {"id": 8, "kind": "build", "name": "q", "pass": 1, "parent": 7, "start": 3000, "end": 3200, "attrs": {}},
        {"id": 9, "kind": "execute", "name": "q", "pass": 1, "parent": 7, "start": 3200, "end": 4200, "attrs": {}},
        {"id": 10, "kind": "reset", "name": "q", "pass": 1, "parent": 7, "start": 4200, "end": 4900, "attrs": {}},
    ]
    job = {"group": "q", "start": 3300, "end": 3800, "stages": 2, "tasks": 8, "failed_tasks": 0,
           "run_ms": 2000, "cpu_ns": 1e9, "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
           "input_rows": 10, "output_bytes": 0}
    return {"spans": spans, "jobs": [job], "setup_s": [9.0, 0.5, 0.6], "retained_heap_bytes": 2 ** 20,
            "disk": [{"bytes": 0, "files": 0}, {"bytes": 2 ** 20, "files": 3}, {"bytes": 2 ** 21, "files": 6}]}


class RecordTest(unittest.TestCase):
    def test_end_to_end(self):
        e2e, extra = reduce.end_to_end(_record(), input_rows=100, input_bytes=2 ** 20)
        self.assertEqual(e2e["setup_s"], 0.6)
        self.assertEqual(e2e["first_pass_s"], 3.0)
        self.assertEqual(e2e["warm_pass_s"], 2.0)
        self.assertAlmostEqual(e2e["query_p50_s"], 1.2)   # build + execute, not reset
        self.assertEqual(e2e["rows_per_s"], 50.0)
        self.assertEqual(e2e["storage_mb"], 2.0)          # inputs + what pass 0 left
        self.assertEqual(extra, {"query_samples": 1})

    def test_per_pass_layers(self):
        rows = reduce.per_pass_layers(_record(), cpus=4)
        warm = rows[1]
        self.assertEqual(warm["exec.jobs"], 1)
        self.assertAlmostEqual(warm["exec.driver_gap_s"], 0.5)
        self.assertAlmostEqual(warm["entry.query_self_s"], 0.1)
        self.assertAlmostEqual(warm["exec.core_util"], 2.0 / (2.0 * 4))
        self.assertEqual(warm["sources.files_written"], 3)
        self.assertEqual(rows[0]["exec.jobs"], 0)
        self.assertAlmostEqual(rows[0]["exec.driver_gap_s"], 1.5)

    def test_layer_names_are_unique(self):
        names = [n for n, _ in reduce.layer_units()]
        self.assertEqual(len(names), len(set(names)))


if __name__ == "__main__":
    unittest.main()
