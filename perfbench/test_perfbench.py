"""Tests of the benchmark's own rules. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_corpus  # noqa: E402
import metrics  # noqa: E402


def op(i, name, start, end, err=None):
    return {"id": i, "name": name, "start": start, "end": end, "err": err}


def span(kind, start, end, op_id=-1, sid="x", parent="", attrs=None):
    return {"kind": kind, "name": kind, "id": sid, "parent": parent, "op": op_id,
            "start": start, "end": end, "attrs": attrs or {}}


class TailRule(unittest.TestCase):
    def test_ten_samples_above(self):
        xs = list(range(1, 101))  # 100 samples
        v, pct, n = metrics.tail(xs)
        self.assertEqual((v, pct, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_uneven_count(self):
        xs = [float(i) for i in range(137)]
        v, pct, n = metrics.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(pct, 92)  # floor(100 * 127 / 137)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 30
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_few_samples_give_p90(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.8, 90, 3))
        self.assertEqual(metrics.tail([float(i) for i in range(11)]), (9.0, 90, 11))
        # 20 samples: ten above would be the median, not a tail
        self.assertEqual(metrics.tail([float(i) for i in range(20)])[1], 90)
        self.assertEqual(metrics.tail([float(i) for i in range(99)])[1], 90)


class MedianOperation(unittest.TestCase):
    def test_median_of_per_operation_medians(self):
        # times in ms; per-operation medians 1, 3, 5 and 9 s
        ops = [op(i, n, 0, t) for i, (n, t) in enumerate(
            [("a", 1000), ("a", 1000), ("a", 4000), ("b", 3000), ("b", 3000),
             ("c", 5000), ("c", 5000), ("d", 9000), ("d", 8000), ("d", 9000)])]
        self.assertEqual(metrics.op_p50(ops), 4.0)

    def test_slowest_sample_of_one_kind_does_not_move_it(self):
        def ops(a):
            return [op(i, n, 0, t) for i, (n, t) in enumerate(
                [("a", x) for x in a] + [("b", 300), ("b", 310), ("b", 320)])]
        fast, slow = ops([100, 110, 120]), ops([100, 110, 290])
        self.assertAlmostEqual(metrics.op_p50(fast), 0.21)
        self.assertAlmostEqual(metrics.op_p50(slow), 0.21)
        # the median of all samples pooled falls in the gap and moves
        pooled = [statistics.median((o["end"] - o["start"]) / 1e3 for o in x)
                  for x in (fast, slow)]
        self.assertAlmostEqual(pooled[1] - pooled[0], 0.085)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(metrics.union_ms([(0, 10), (20, 30)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (14, 20)]), 20)
        self.assertEqual(metrics.union_ms([(5, 15), (0, 10)]), 15)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_ms([(0, 100), (10, 20), (30, 40)]), 100)
        self.assertEqual(metrics.union_ms([(0, 10), (10, 20)]), 20)

    def test_empty(self):
        self.assertEqual(metrics.union_ms([]), 0)


class SelfTime(unittest.TestCase):
    def test_gaps_between_children(self):
        # op 0-100, jobs 10-30 and 20-50, plan 60-70: covered 50, gap 50
        self.assertEqual(metrics.self_ms((0, 100), [(10, 30), (20, 50), (60, 70)]), 50)

    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.self_ms((0, 100), [(-10, 10), (90, 120)]), 80)
        self.assertEqual(metrics.self_ms((0, 100), [(200, 300)]), 100)

    def test_no_children(self):
        self.assertEqual(metrics.self_ms((5, 25), []), 20)


class FailedFraction(unittest.TestCase):
    def test_exceptions_and_mismatches_both_count(self):
        ops = [op(1, "a", 0, 1), op(2, "b", 1, 2, err="boom"),
               op(3, "c", 2, 3), op(4, "c", 3, 4), op(5, "a", 4, 5)]
        failed, attempted, names = metrics.failures(ops, {"c": "hash mismatch"})
        self.assertEqual((failed, attempted), (3, 5))
        self.assertEqual(names, ["b", "c"])

    def test_clean_run(self):
        self.assertEqual(metrics.failures([op(1, "a", 0, 1)], {}), (0, 1, []))


class CorpusSeed(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a = gen_corpus.corpus(7, 0.05)
        self.assertEqual(a, gen_corpus.corpus(7, 0.05))
        self.assertNotEqual(a, gen_corpus.corpus(8, 0.05))

    def test_shape(self):
        files = gen_corpus.corpus(3, 0.05)
        self.assertEqual(len(files), 8)
        sizes = [len(t.encode("utf-8")) for _, t in files]
        for got, ref in zip(sizes, gen_corpus.BOOK_BYTES):
            self.assertLessEqual(got, int(ref * 0.05))
            self.assertGreater(got, int(ref * 0.05) - 16)
        text = "".join(t for _, t in files)
        self.assertTrue(any(ord(c) > 127 and c.isalpha() for c in text))

    def test_written_files_match(self):
        with tempfile.TemporaryDirectory() as d:
            paths = gen_corpus.write(d, 5, 0.02)
            for path, (name, text) in zip(paths, gen_corpus.corpus(5, 0.02)):
                self.assertEqual(os.path.basename(path), name)
                with open(path, "rb") as f:
                    self.assertEqual(f.read(), text.encode("utf-8"))


class JobAttribution(unittest.TestCase):
    OPS = [op(1, "a", 0, 100), op(2, "b", 100, 200)]

    def test_every_job_has_an_op(self):
        spans = [span("job", 10, 20, 1, "j1"), span("job", 120, 150, 2, "j2"),
                 span("stage", 10, 20, -1, "s1", "j1")]
        self.assertEqual(metrics.unattributed_jobs(spans, self.OPS), [])

    def test_untagged_or_foreign_job_is_reported(self):
        spans = [span("job", 10, 20, -1, "j1"), span("job", 120, 150, 9, "j2")]
        self.assertEqual([s["id"] for s in metrics.unattributed_jobs(spans, self.OPS)],
                         ["j1", "j2"])

    def test_plans_and_triggers_attributed_by_time(self):
        spans = [span("plan", 101, 103, sid="p"), span("trigger", 50, 99, sid="t"),
                 span("plan", 500, 510, sid="late")]
        by_op = metrics.attribute(spans, self.OPS)
        self.assertEqual([s["id"] for s in by_op[1]], ["t"])
        self.assertEqual([s["id"] for s in by_op[2]], ["p"])


class StoreLayer(unittest.TestCase):
    def test_writes_per_pass_and_amplification(self):
        mb = 1024.0 * 1024.0
        ops = [dict(op(1, "ingest", 0, 100), phase="traced"),
               dict(op(2, "ingest", 100, 200), phase="traced")]
        res = {"workload": "stream_maintain", "ops": ops, "mr_check": [], "warm": [],
               "passes": [{"phase": "traced", "start": 0, "end": 100},
                          {"phase": "traced", "start": 100, "end": 200},
                          {"phase": "timed", "start": -100, "end": 0}],
               "plancache_entries": 0,
               "jvm": {"traced": {"gc_ms": 0, "jit_ms": 0}, "code_cache_mb": 1,
                       "retained_heap_mb": 1}}
        io = {"run_ms": 10, "input_bytes": 4 * mb, "output_bytes": mb, "output_records": 30}
        spans = [span("job", 10, 20, 1, "j1"), span("job", 110, 120, 2, "j2"),
                 span("stage", 10, 20, -1, "s1", "j1", io),
                 span("stage", 110, 120, -1, "s2", "j2", io),
                 span("stage", 300, 310, -1, "s3", "j9", io)]  # no op's job
        m = metrics.per_layer(res, spans, 4)
        self.assertEqual(m["store.write_mb"], 1.0)
        self.assertEqual(m["store.write_rows"], 30)
        self.assertEqual(m["store.write_amp"], 0.25)


class CanonHash(unittest.TestCase):
    def test_column_order_and_decimal(self):
        import decimal
        a = metrics.canon_hash(["b", "a"], [(1, decimal.Decimal("2.50"))])
        b = metrics.canon_hash(["a", "b"], [(2.5, 1)])
        self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
