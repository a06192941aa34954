"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 perfbench/selftest.py

Covers: the stream generator's determinism, the program's splitter
recovering exactly the generated documents, span self-time arithmetic,
the tail-percentile rule, and the adaptive-plan node count.
"""

from __future__ import annotations

import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import streamgen  # noqa: E402
from spans import Span, median, plan_nodes, self_time, tail  # noqa: E402


class StreamTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a = streamgen.generate(5, 6, 2).render()
        b = streamgen.generate(5, 6, 2).render()
        self.assertEqual(a, b)

    def test_other_seed_other_bytes(self):
        a = streamgen.generate(5, 6, 2).render()
        b = streamgen.generate(6, 6, 2).render()
        self.assertNotEqual(a, b)

    def test_stream_properties(self):
        cat = streamgen.generate(5, 20, 4)
        data = cat.render()
        head = data[:65536].decode()
        self.assertIn("\n  ", head)  # a pretty-printed document in the head
        self.assertIn("}{", data.decode())  # glued documents
        keys = [d.key for d in cat.docs]
        self.assertLess(len(set(keys)), len(keys))  # duplicate keys
        self.assertTrue(any(k[0] == streamgen.GLOBAL for k in keys))
        pkgs = [d for d in cat.truth().values() if d.schema == "olm.package"]
        with_icon = sum(1 for d in pkgs if streamgen.icon_of(d))
        self.assertTrue(0 < with_icon < len(pkgs))

    def test_splitter_recovers_every_document(self):
        try:
            from console_etl_spark.ingest import split_concatenated_json
        except ImportError as exc:  # the program is not beside the benchmark
            self.skipTest(str(exc))
        cat = streamgen.generate(9, 12, 3)
        docs = split_concatenated_json(cat.render().decode())
        self.assertEqual(len(docs), len(cat.docs))
        self.assertEqual(docs, [d.text() for d in cat.docs])


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", parent, None, start, end)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        root = _span(0, 0.0, 10.0)
        kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.5, 0)]
        self.assertAlmostEqual(self_time(root, kids), 6.5)

    def test_self_time_counts_overlap_once(self):
        root = _span(0, 0.0, 10.0)
        kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 9.0, 12.0, 0)]
        self.assertAlmostEqual(self_time(root, kids), 10.0 - 4.0 - 1.0)

    def test_self_time_without_children(self):
        self.assertAlmostEqual(self_time(_span(0, 2.0, 3.5), []), 1.5)


class StatsTest(unittest.TestCase):
    def test_tail_leaves_ten_beyond(self):
        xs = list(range(100))
        pct, value = tail(xs)
        self.assertEqual(value, 89)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 89 / 99)

    def test_tail_is_highest_such_percentile(self):
        xs = [float(x) for x in range(37)]
        _, value = tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(sum(1 for x in xs if x >= value), 11)

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (100.0, 3.0))

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)


PLAN = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(2) HashAggregate(keys=[package#16])
      +- TableCacheQueryStage 0
         +- InMemoryTableScan [package#21]
               +- InMemoryRelation [name#19, package#21]
                     +- FileScan parquet [name#19,package#21] Batched: true
+- == Initial Plan ==
   HashAggregate(keys=[package#16])
   +- InMemoryTableScan [package#21]
         +- InMemoryRelation [name#19, package#21]
               +- FileScan parquet [name#19,package#21] Batched: true
"""


class PlanTest(unittest.TestCase):
    def test_counts_final_plan_only(self):
        self.assertEqual(plan_nodes(PLAN, "FileScan "), 1)
        self.assertEqual(plan_nodes(PLAN, "HashAggregate"), 1)

    def test_plain_plan(self):
        plain = "Sort [a]\n+- FileScan parquet [a]\n"
        self.assertEqual(plan_nodes(plain, "FileScan "), 1)


if __name__ == "__main__":
    unittest.main()
