"""Unit tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start_s": start, "end_s": end}


class TailPercentileTest(unittest.TestCase):
    def test_forty_samples_give_p75_with_ten_beyond(self):
        p, v, n = metrics.tail_percentile(range(1, 41))
        self.assertEqual((p, v, n), (75, 30, 40))

    def test_rule_counts_samples_strictly_beyond(self):
        # 50 samples: p80 has rank 40, leaving exactly 10 beyond.
        self.assertEqual(metrics.tail_percentile(range(50))[0], 80)
        # 49 samples: p80 has rank 40 and only 9 beyond, so p75 it is.
        self.assertEqual(metrics.tail_percentile(range(49))[0], 75)

    def test_too_few_samples_give_none(self):
        self.assertIsNone(metrics.tail_percentile(range(20)))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_order_of_input_does_not_matter(self):
        xs = list(range(40))
        self.assertEqual(metrics.tail_percentile(xs),
                         metrics.tail_percentile(list(reversed(xs))))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, "unit", -1, 0.0, 10.0), span(1, "join", 0, 1.0, 4.0),
                 span(2, "encode", 0, 5.0, 7.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 5.0)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 2.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, "t", -1, 0.0, 10.0), span(1, "a", 0, 1.0, 5.0),
                 span(2, "b", 0, 3.0, 6.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 5.0)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(0, "transforms", -1, 0.0, 10.0),
                 span(1, "transforms.dedup_exact", 0, 2.0, 8.0),
                 span(2, "x", 1, 3.0, 4.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)
        self.assertAlmostEqual(st[1], 5.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, "p", -1, 2.0, 4.0), span(1, "c", 0, 1.0, 3.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 1.0)

    def test_layer_self_time_sums_the_layer_subtree(self):
        trace = {
            "spans": [span(0, "unit", -1, 0.0, 10.0),
                      span(1, "transforms", 0, 1.0, 7.0),
                      span(2, "transforms.dedup_exact", 1, 1.5, 3.5),
                      span(3, "transforms.pack_sequences", 1, 4.0, 6.0)],
            "groups": {}, "counts": {}, "traced_wall_s": 10.0}
        m = metrics.layer_metrics(trace, untraced_wall_s=9.0)
        self.assertAlmostEqual(m["transforms.self_s"], 6.0)
        self.assertAlmostEqual(m["transforms.dedup_exact.self_s"], 2.0)
        self.assertAlmostEqual(m["transforms.pack_sequences.self_s"], 2.0)
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ["setup_s", "join.feature_hit_rate", "io-write.x", "0a"]:
            self.assertTrue(metrics.valid_name(n), n)

    def test_invalid_names(self):
        for n in ["", ".x", "a b", "a/b", "é", "x" * 65, "_x"]:
            self.assertFalse(metrics.valid_name(n), n)

    def test_every_reported_name_is_valid_unique_and_bounded(self):
        names = [n for n, _, _ in metrics.per_layer_names()] + [n for n, *_ in metrics.END_TO_END]
        self.assertTrue(all(metrics.valid_name(n) for n in names))
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(metrics.per_layer_names()), 128)

    def test_benchmark_json_matches_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in bench["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         metrics.per_layer_names())


class EndToEndTest(unittest.TestCase):
    def test_medians_and_geomean(self):
        raw = {"setup_s": [9.0, 3.0], "units": [
            {"s": 2.0, "records": 10, "task_mem_mb": 5.0, "queries": {"a": 1.0, "b": 1.0}},
            {"s": 4.0, "records": 10, "task_mem_mb": 9.0, "queries": {"a": 1.0, "b": 3.0}},
            {"s": 8.0, "records": 10, "task_mem_mb": 7.0, "queries": {"a": 1.0, "b": 4.0}}]}
        m = metrics.end_to_end(raw)
        self.assertEqual(m["setup_s"], 6.0)
        self.assertEqual(m["wall_s"], 4.0)
        self.assertEqual(m["records_per_s"], 2.5)
        self.assertAlmostEqual(m["query_geomean_s"], 3.0 ** 0.5)
        self.assertEqual(m["peak_task_mem_mb"], 7.0)


if __name__ == "__main__":
    unittest.main()
