"""Self-tests of the benchmark's own code, at tiny size (no Spark, no sbt).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen
import metrics

BENCH = os.path.dirname(os.path.abspath(__file__))


def _digest_dir(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class Inputs(unittest.TestCase):
    def test_ingest_rows_follow_the_seed(self):
        for make in (lambda s: gen.backfill_rows(s, 20, 4),
                     lambda s: gen.live_rows(s, 20, 0.5, 40, 200)):
            self.assertEqual(gen.rows_csv(make(7)).encode(), gen.rows_csv(make(7)).encode())
            self.assertNotEqual(gen.rows_csv(make(7)), gen.rows_csv(make(8)))

    def test_batch_tables_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_batch_tables(a, 0.001)
            gen.write_batch_tables(b, 0.001)
            self.assertEqual(_digest_dir(a), _digest_dir(b))

    def test_live_sort_keys_grow_per_shard_in_insert_order(self):
        # offset paging is exactly-once only if each insert sorts after
        # everything already in its shard: staged < primer < scheduled rows,
        # and scheduled rows in due order
        rows = gen.live_rows(3, 20, 0.5, 40, 200)
        for shard in {r[1] for r in rows}:
            mine = [r for r in rows if r[1] == shard]
            staged = [r[2] for r in mine if r[4] == -1]
            primer = [r[2] for r in mine if r[4] == -2]
            timed = [r[2] for r in sorted((r for r in mine if r[4] >= 0), key=lambda r: r[4])]
            groups = [g for g in (staged, primer, timed) if g]
            for a, b in zip(groups, groups[1:]):
                self.assertLess(max(a), min(b))
            self.assertEqual(timed, sorted(timed))

    def test_backfill_is_skewed(self):
        rows = gen.backfill_rows(1, 100, 8)
        sizes = sorted((sum(1 for r in rows if r[1] == s) for s in {r[1] for r in rows}),
                       reverse=True)
        self.assertEqual(len(sizes), len(gen.BACKFILL_WEIGHTS))
        self.assertGreater(sizes[0], 7 * 100)  # the largest shard spans ~8 pages
        self.assertLess(sizes[-1], 100)        # the smallest fits in one page


class Percentile(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(1, 300):
            xs = list(range(n))
            for q in (0.9, 0.99):
                v = metrics.percentile(xs, q)
                beyond = sum(1 for x in xs if x > v)
                if n >= 2 * metrics.MIN_BEYOND:
                    self.assertGreaterEqual(beyond, metrics.MIN_BEYOND, (n, q))
                else:
                    self.assertEqual(v, metrics.percentile(xs, 0.5), (n, q))

    def test_exact_when_the_sample_supports_it(self):
        self.assertAlmostEqual(metrics.percentile(range(101), 0.9), 90.0)
        self.assertAlmostEqual(metrics.percentile(range(101), 0.5), 50.0)
        self.assertAlmostEqual(metrics.percentile(range(1001), 0.99), 990.0)
        # 101 samples: p95 would leave 5 beyond; the value returned leaves 10
        v = metrics.percentile(range(101), 0.95)
        self.assertEqual(sum(1 for x in range(101) if x > v), 10)


class Checks(unittest.TestCase):
    expected = [(1, "a", 10, "x", 0), (2, "a", 20, "x", 0), (3, "b", 5, "x", 0)]

    def test_exactly_once(self):
        good = [(1, "a", 10, 0, 1), (2, "a", 20, 0, 2), (3, "b", 5, 0, 1)]
        self.assertEqual(metrics.check_exactly_once(self.expected, good), (0, 0, set()))
        lost = good[:2]
        self.assertEqual(metrics.check_exactly_once(self.expected, lost)[0], 1)
        dup = good + [(3, "b", 5, 0, 2)]
        self.assertEqual(metrics.check_exactly_once(self.expected, dup)[1:], (1, {2}))
        swapped = [(1, "a", 10, 0, 2), (2, "a", 20, 0, 1), (3, "b", 5, 0, 1)]
        self.assertEqual(metrics.check_exactly_once(self.expected, swapped)[2], {1})

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 20), (30, 40)], 0, 35), 25)
        self.assertEqual(metrics.union_ms([], 0, 10), 0)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(BENCH, os.pardir, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_every_emitted_metric_is_declared_with_its_unit(self):
        e2e = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(e2e, {k: u for k, (u, _) in metrics.END_TO_END.items()})
        self.assertEqual(layer, {k: u for k, (u, _) in metrics.PER_LAYER.items()})
        self.assertEqual(set(metrics.fill_per_layer({})), set(layer))
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, {"ingest", "batch_mix"})

    def test_directions_match(self):
        for m in self.spec["end_to_end"]:
            self.assertEqual(m["better"], metrics.END_TO_END[m["name"]][1])
        for m in self.spec["per_layer"]:
            self.assertEqual(m["better"], metrics.PER_LAYER[m["name"]][1])


if __name__ == "__main__":
    unittest.main()
