"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import traceops as t


def span(i, parent, start, end, name="x", thread="main"):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end,
            "thread": thread}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        v, pct, beyond = t.tail(list(range(1, 101)))
        self.assertEqual((v, pct, beyond), (90, 90.0, 10))

    def test_percentile_moves_with_sample_count(self):
        v, pct, beyond = t.tail([float(x) for x in range(200)])
        self.assertEqual(beyond, 10)
        self.assertEqual(v, 189.0)
        self.assertEqual(pct, 95.0)

    def test_unsorted_input(self):
        xs = list(range(50))[::-1]
        self.assertEqual(t.tail(xs)[0], 39)

    def test_few_samples_fall_back_to_upper_median(self):
        v, pct, beyond = t.tail([5.0, 1.0, 3.0, 2.0])
        self.assertEqual((v, beyond), (3.0, 1))
        self.assertGreaterEqual(v, t.median([5.0, 1.0, 3.0, 2.0]))
        self.assertEqual(t.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70)]
        self.assertEqual(t.self_times(spans)[1], 100 - 60)

    def test_disjoint_and_nested_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 10), span(3, 1, 90, 100),
                 span(4, 2, 2, 8)]
        st = t.self_times(spans)
        self.assertEqual(st[1], 80)
        self.assertEqual(st[2], 4)
        self.assertEqual(st[4], 6)

    def test_child_outliving_parent_is_clipped(self):
        # a pooled-thread child can end after its parent returned
        spans = [span(1, 0, 0, 100), span(2, 1, 80, 150, thread="pool-1")]
        self.assertEqual(t.self_times(spans)[1], 80)

    def test_union_length(self):
        self.assertEqual(t.union_length([(0, 5), (3, 8), (10, 12), (11, 11)]), 10)
        self.assertEqual(t.union_length([]), 0)


class CriticalPathTest(unittest.TestCase):
    STAGES = [
        {"impl": "feed", "input": "", "output": "posts.csv"},
        {"impl": "pre", "input": "posts.csv", "output": "pre.csv"},
        {"impl": "explore", "input": "pre.csv", "output": "explore"},
        {"impl": "images", "input": "pre.csv", "output": "images/images"},
        {"impl": "labels", "input": "images/images", "output": "labels.csv"},
        {"impl": "anon", "input": "images", "output": "anon"},
        {"impl": "text", "input": "../docs", "output": "profiled"},
    ]

    def test_longest_chain(self):
        secs = {"feed": 1, "pre": 1, "explore": 5, "images": 2, "labels": 3,
                "anon": 1, "text": 4}
        # feed > pre > images > labels = 7; explore chain = 7; the nested
        # `images` input orders anon after images: 1+1+2+1 = 5
        self.assertEqual(t.critical_path(self.STAGES, secs), 7)
        secs["labels"] = 4
        self.assertEqual(t.critical_path(self.STAGES, secs), 8)

    def test_independent_stage_alone(self):
        secs = {"feed": 1, "pre": 1, "explore": 1, "images": 1, "labels": 1,
                "anon": 1, "text": 9}
        self.assertEqual(t.critical_path(self.STAGES, secs), 9)

    def test_write_after_read_orders_stages(self):
        stages = [{"impl": "a", "input": "x", "output": "y"},
                  {"impl": "b", "input": "z", "output": "x"}]
        self.assertEqual(t.critical_path(stages, {"a": 2, "b": 3}), 5)

    def test_overlaps_is_path_nesting(self):
        self.assertTrue(t.overlaps("images", "images/images"))
        self.assertFalse(t.overlaps("images", "images_anonymized"))
        self.assertFalse(t.overlaps("", "x"))


class AttributionTest(unittest.TestCase):
    def setUp(self):
        # client thread: a pipeline run (1) with a stage span (2) that
        # finished at 40; later a second stage span (3)
        self.spans = [span(1, 0, 0, 100, "pipeline.Pipeline.run"),
                      span(2, 1, 10, 40, "pipeline.stage.a"),
                      span(3, 1, 50, 90, "pipeline.stage.b"),
                      span(4, 0, 200, 300, "bench.query.ann")]
        self.by_id = {s["id"]: s for s in self.spans}
        self.client = [s for s in self.spans if s["thread"] == "main"]

    def test_open_span_owns_its_job(self):
        self.assertEqual(t.attribute({"span": "2", "start": 20}, self.by_id, self.client), 2)

    def test_stale_inherited_span_walks_up(self):
        # a pooled thread created inside span 2 still carries its id when
        # it later runs work for span 3's time window
        self.assertEqual(t.attribute({"span": "2", "start": 60}, self.by_id, self.client), 1)

    def test_stale_span_with_no_open_ancestor_goes_to_client_span(self):
        self.assertEqual(t.attribute({"span": "2", "start": 250}, self.by_id, self.client), 4)

    def test_unlabelled_pool_job_goes_to_innermost_client_span(self):
        self.assertEqual(t.attribute({"span": "0", "start": 60}, self.by_id, self.client), 3)
        self.assertEqual(t.attribute({"span": "0", "start": 150}, self.by_id, self.client), 0)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_lists_every_metric(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as fh:
            bj = json.load(fh)
        self.assertEqual([m["name"] for m in bj["end_to_end"]], [n for n, _, _ in t.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bj["per_layer"]],
                         t.per_layer_spec())
        self.assertLessEqual(len(bj["per_layer"]), 128)

    def test_spread(self):
        self.assertEqual(t.spread([1.0, 1.0, 1.0]), 0.0)
        self.assertGreater(t.spread([1.0, 2.0, 3.0, 4.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
