"""Self-tests for the benchmark's arithmetic and comparator.

    python3 -m unittest discover -s perfbench/tests
"""

import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import stats  # noqa: E402

INF = float("inf")


class PercentileTest(unittest.TestCase):

    def test_small_samples(self):
        self.assertEqual(stats.percentile([], 50), 0.0)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.median([1.0, 3.0]), 2.0)
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        # linear interpolation between closest ranks
        self.assertAlmostEqual(stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90), 4.6)
        self.assertEqual(stats.percentile([5.0, 1.0, 4.0, 2.0, 3.0], 100), 5.0)
        self.assertEqual(stats.percentile([5.0, 1.0, 4.0, 2.0, 3.0], 0), 1.0)

    def test_failures_count_as_infinity(self):
        xs = [1.0, 2.0, 3.0, INF]
        self.assertEqual(stats.median(xs), 2.5)
        self.assertTrue(math.isinf(stats.percentile(xs, 90)))
        self.assertTrue(math.isinf(stats.median([1.0, INF, INF])))
        self.assertEqual(stats.finite(INF), stats.INF_STANDIN)
        ops = [{"start_us": 0, "end_us": 2000, "ok": True},
               {"start_us": 0, "end_us": 1000, "ok": False}]
        self.assertEqual(stats.op_latencies_ms(ops), [2.0, INF])

    def test_supported_tail(self):
        self.assertIsNone(stats.supported_tail(9))
        self.assertEqual(stats.supported_tail(20), 50)
        self.assertEqual(stats.supported_tail(99), 50)
        self.assertEqual(stats.supported_tail(100), 90)
        self.assertEqual(stats.supported_tail(1000), 99)
        self.assertEqual(stats.supported_tail(10000), 99.9)

    def test_kind_p50_is_mix_independent(self):
        def ops(kinds):
            return [{"kind": k, "start_us": 0, "end_us": t * 1000, "ok": True}
                    for k, t in kinds]
        one = ops([("a", 10), ("b", 1000)])
        many = ops([("a", 10)] * 9 + [("b", 1000)])
        self.assertAlmostEqual(stats.kind_p50_ms(one), 100.0)
        self.assertAlmostEqual(stats.kind_p50_ms(many), 100.0)
        self.assertTrue(math.isinf(stats.kind_p50_ms(
            one + [{"kind": "b", "start_us": 0, "end_us": 1, "ok": False}] * 2)))


class IntervalTest(unittest.TestCase):

    def test_union(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 1), (2, 3)]), 2.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3)]), 3.0)
        self.assertEqual(stats.union_length([(0, 4), (1, 2), (3, 5)]), 5.0)
        self.assertEqual(stats.union_length([(1, 2), (0, 4)]), 4.0)
        # touching and empty intervals
        self.assertEqual(stats.union_length([(0, 1), (1, 2), (5, 5)]), 2.0)

    def test_self_time(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 4), (9, 12)]), 6.0)
        self.assertEqual(stats.self_time((0, 10), []), 10.0)
        self.assertEqual(stats.self_time((0, 10), [(-5, 20)]), 0.0)
        self.assertEqual(stats.self_time((0, 10), [(11, 12)]), 10.0)

    def test_driver_seconds_from_a_trace(self):
        trace = {
            "spans": [
                {"id": 0, "parent": -1, "name": "op", "start_us": 0,
                 "end_us": 10_000_000, "attrs": {}},
                {"id": 1, "parent": 0, "name": "child", "start_us": 1_000_000,
                 "end_us": 9_000_000, "attrs": {}},
            ],
            "jobs": [
                {"id": 0, "span": 0, "start_ms": 500, "end_ms": 1500},
                {"id": 1, "span": 1, "start_ms": 1000, "end_ms": 3000},
                {"id": 2, "span": 1, "start_ms": 8000, "end_ms": -1},  # unfinished
            ],
            "queries": [], "progress": [],
        }
        tree = stats.SpanTree(trace)
        self.assertEqual(len(tree.jobs_in(0)), 2)
        self.assertAlmostEqual(tree.driver_seconds(0), 10 - 2.5)
        self.assertAlmostEqual(tree.driver_seconds(1), 8 - 2.0)


class LayerNamesTest(unittest.TestCase):

    def test_span_metrics_follow_the_declared_names(self):
        def span(i, parent, name, start_s, end_s):
            return {"id": i, "parent": parent, "name": name, "attrs": {},
                    "start_us": int(start_s * 1e6), "end_us": int(end_s * 1e6)}
        result = {
            "setup": {"build_s": 1.0, "generate_s": [2.0], "warm_s": 3.0},
            "ops": [], "values": {},
            "trace": {
                "spans": [span(0, -1, "op", 0, 10),
                          span(1, 0, "queries.qA", 0, 2),
                          span(2, 0, "queries.qB", 2, 5),
                          span(3, 0, "operators.TimeTravel.append", 5, 5.25),
                          span(4, -1, "queries.qA", 20, 40)],  # set-up
                "jobs": [], "queries": [],
                "progress": [{"span": 0, "triggerExecution_ms": 7,
                              "addBatch_ms": 4}],
            },
        }
        names = ["queries.qA_s", "operators.TimeTravel.append_ms",
                 "operators.TimeTravel.upsert_ms", "streaming.trigger_ms",
                 "streaming.addBatch_ms"]
        m = stats.layer_metrics(result, names)
        self.assertEqual(m["queries.qA_s"], 2.0)
        self.assertNotIn("queries.qB_s", m)
        self.assertEqual(m["operators.TimeTravel.append_ms"], 250.0)
        self.assertEqual(m["operators.TimeTravel.upsert_ms"], 0.0)
        self.assertEqual(m["streaming.trigger_ms"], 7)
        self.assertEqual(m["streaming.addBatch_ms"], 4)


class BytesPerRowTest(unittest.TestCase):

    def test_accounting(self):
        ops = [
            {"ok": True, "class": "commit", "rows": 200},
            {"ok": True, "class": "commit", "rows": 0},     # compaction
            {"ok": False, "class": "commit", "rows": 200},  # failed write
            {"ok": True, "class": "read", "rows": 0},
            {"ok": True, "class": "feed", "rows": 0, "rows_delivered": 500},
            {"ok": True, "class": "commit", "rows": 50},
        ]
        self.assertAlmostEqual(stats.bytes_written_per_row(1000, 26000, ops), 100.0)
        self.assertEqual(stats.bytes_written_per_row(1000, 5000, []), 0.0)


class CompareTest(unittest.TestCase):

    def test_clear_gain(self):
        a = [100.0 + i for i in range(10)]
        b = [80.0 + i for i in range(10)]
        v = compare.verdict(a, b, "lower", 0.2)
        self.assertTrue(v["gain"])
        self.assertEqual(v["wins"], 10)
        self.assertEqual(v["status"], "no regression")

    def test_no_gain_when_wins_below_nine_tenths(self):
        a = [100.0] * 10
        b = [50.0] * 8 + [100.0, 150.0]  # one tie, one loss
        v = compare.verdict(a, b, "lower", 0.2)
        self.assertEqual(v["wins"], 8)
        self.assertFalse(v["gain"])

    def test_no_gain_within_parent_spread(self):
        a = [90.0, 110.0] * 5
        b = [x - 1 for x in a]
        v = compare.verdict(a, b, "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertFalse(v["gain"])

    def test_regression_and_direction(self):
        a = [100.0] * 10
        self.assertEqual(compare.verdict(a, [130.0] * 10, "lower", 0.2)["status"],
                         "regression")
        self.assertEqual(compare.verdict(a, [115.0] * 10, "lower", 0.2)["status"],
                         "no regression")
        self.assertEqual(compare.verdict(a, [70.0] * 10, "higher", 0.2)["status"],
                         "regression")

    def test_unresolved_when_parent_spread_exceeds_bound(self):
        a = [50.0, 150.0] * 5
        self.assertEqual(compare.verdict(a, [100.0] * 10, "lower", 0.1)["status"],
                         "unresolved")
        self.assertEqual(compare.verdict(a, [10.0] * 10, "lower", 0.1)["status"],
                         "better")

    def test_failed_share_voids_a_gain(self):
        metrics = [{"name": "m", "better": "lower", "bound": 0.2}]

        def line(v, failed):
            return {"attempted": 10, "failed": failed,
                    "metrics": {"m": {"value": v, "unit": "ms"}}}
        recs = []
        for k in range(10):
            recs.append({"side": "a", "pair": k, "workload": "w",
                         "line": line(100.0 + k, 0)})
            recs.append({"side": "b", "pair": k, "workload": "w",
                         "line": line(50.0 + k, 1 if k == 0 else 0)})
        res = compare.compare(recs, metrics)["w"]
        self.assertTrue(res["more_failures"])
        self.assertAlmostEqual(res["failed_share_b"], 0.01)
        self.assertFalse(res["metrics"]["m"]["gain"])


class TreeHashTest(unittest.TestCase):

    def write(self, root, rel, data):
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(data)

    def test_build_output_is_left_out(self):
        with tempfile.TemporaryDirectory() as root:
            self.write(root, "run.py", "print(1)\n")
            self.write(root, "harness/project/build.properties", "sbt.version=1\n")
            before = compare.tree_hash(root)
            self.write(root, "harness/target/scala-2.13/h.jar", "jar")
            self.write(root, "harness/project/target/streams/x", "t")
            self.write(root, "harness/project/project/target/y", "t")
            self.write(root, "__pycache__/stats.cpython-312.pyc", "pyc")
            self.write(root, "tests/__pycache__/t.pyc", "pyc")
            self.assertEqual(compare.tree_hash(root), before)

    def test_sources_are_hashed(self):
        with tempfile.TemporaryDirectory() as root:
            self.write(root, "run.py", "print(1)\n")
            self.write(root, "harness/project/build.properties", "sbt.version=1\n")
            before = compare.tree_hash(root)
            self.write(root, "harness/project/build.properties", "sbt.version=2\n")
            changed = compare.tree_hash(root)
            self.assertNotEqual(changed, before)
            self.write(root, "harness/src/A.scala", "object A\n")
            self.assertNotEqual(compare.tree_hash(root), changed)


if __name__ == "__main__":
    unittest.main()
