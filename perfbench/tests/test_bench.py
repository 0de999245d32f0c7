"""Tests of the benchmark's own logic (no Spark needed).

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


def _tree(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):

    def _inputs(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.write_inputs(workload, seed, d, os.path.join(d, "no-fingerprints"))
            return _tree(d)

    def test_same_seed_gives_identical_inputs(self):
        for w in ("batch", "ingest"):
            with self.subTest(workload=w):
                self.assertEqual(self._inputs(w, 7), self._inputs(w, 7))

    def test_other_seed_gives_other_inputs(self):
        for w in ("batch", "ingest"):
            with self.subTest(workload=w):
                a, b = self._inputs(w, 7), self._inputs(w, 8)
                self.assertNotEqual(a, b)
        sb = self._inputs("ingest", 7)
        self.assertTrue(any(k.endswith(".sb") for k in sb))

    def test_polygon_matches_ray_casting(self):
        poly = [(-10.0, -10.5), (10.0, -5.5), (0.0, 10.5)]
        self.assertTrue(gen.in_polygon(poly, 0.0, 0.0))
        self.assertFalse(gen.in_polygon(poly, 9.0, 9.0))    # inside the box, outside the triangle
        self.assertFalse(gen.in_polygon(poly, 50.0, 0.0))   # outside the box
        self.assertEqual(gen.parse_polygon(gen.polygon_text(poly)), poly)

    def test_injected_violations_are_counted(self):
        import random
        text, fields, recs, viol = gen._submission(random.Random(1), "sub_0000", 400)
        self.assertEqual(len(recs), 400)
        self.assertEqual(viol["required:lat"], sum(1 for r, _ in recs if r["lat"] is None))
        self.assertIn(f"/fields={','.join(fields)}", text)


class StatsTest(unittest.TestCase):

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_percentile_is_harrell_davis(self):
        # n = 3, median: Beta(2, 2), I_x = 3x^2 - 2x^3, weights 7/27, 13/27, 7/27
        self.assertAlmostEqual(stats.percentile([27, 0, 0], 50), 7.0, places=9)
        self.assertAlmostEqual(stats.percentile([4, 1, 3, 2], 50), 2.5, places=9)
        self.assertAlmostEqual(stats.percentile([5.0] * 30, 90), 5.0, places=9)
        self.assertAlmostEqual(stats.beta_cdf(2.5, 7.5, 0.3) + stats.beta_cdf(7.5, 2.5, 0.7), 1.0,
                               places=12)
        xs = list(range(100))
        self.assertLess(abs(stats.percentile(xs, 90) - 89.1), 0.5)
        # between two clusters, one op at the gap moves the sample median
        # (the mean of the two middle values) by 94.5; the estimate moves
        # less than half that
        fast, slow = [100.0 + i for i in range(12)], [500.0 + i for i in range(12)]
        moved = fast[:-1] + [300.0]
        self.assertLess(abs(stats.percentile(moved + slow, 50) - stats.percentile(fast + slow, 50)),
                        (300.0 - fast[-1]) / 2 / 2)

    def test_driver_gap_subtracts_union_of_jobs(self):
        # overlapping jobs count once; the part of a job outside the op is ignored
        jobs = [(10, 30), (20, 40), (90, 120)]
        self.assertEqual(stats.union_length(jobs), 60)
        self.assertEqual(stats.driver_gap(0, 100, jobs), 100 - (30 + 10))
        self.assertEqual(stats.driver_gap(0, 100, []), 100)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [(0, -1, 0, 100), (1, 0, 10, 30), (2, 0, 20, 50), (3, 1, 12, 14)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 40)
        self.assertEqual(st[1], 20 - 2)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 2)

    def test_first_to_last_run_compares_runs_of_the_same_operator(self):
        def op(kind, ms):
            return {"kind": kind, "t0_ms": 0.0, "t1_ms": ms}
        ops = [op("batch.a", 30), op("batch.b", 10), op("batch.b", 20), op("batch.a", 10),
               op("batch.a", 20)]
        self.assertEqual(metrics.first_to_last_run(ops), (30 + 10) / (20 + 20))
        self.assertEqual(metrics.first_to_last_run([op("ingest.read", 5)]), 0.0)


class IngestModelTest(unittest.TestCase):

    def test_store_search_text_round_trips(self):
        ops, _ = gen.ingest_script(5)
        dsl = next(op[2] for op in ops if op[1] == "search")
        (f1, a, b), (f2, c, e), prefix = metrics._parse_store_dsl(dsl)
        self.assertIn(f1, gen.STORE_FIELDS)
        self.assertLessEqual(a, b)
        self.assertTrue(prefix.startswith("sub_00"))

    def test_every_timed_store_search_has_a_hit(self):
        for seed in (1, 2, 3):
            script, files = gen.ingest_script(seed)
            store = {}
            for p, kind, a2, a3, _ in script:
                if p < 0:
                    continue
                if kind in ("submit", "resubmit"):
                    ds, _, _, recs, _ = files[a2]
                    store.update({f"{ds}/{i}": (ds, rec) for i, (rec, _) in enumerate(recs)})
                elif kind == "withdraw":
                    store = {k: v for k, v in store.items() if v[0] != a3}
                elif kind == "search":
                    parts, poly = metrics._parse_store_dsl(a2), gen.parse_polygon(a3)
                    self.assertTrue(any(
                        metrics._search_matches(parts, rec, ds) and rec["lat"] is not None and
                        rec["lon"] is not None and gen.in_polygon(poly, rec["lon"], rec["lat"])
                        for ds, rec in store.values()), f"seed {seed}: {a2} {a3}")

    def test_store_search_uses_three_valued_logic(self):
        parts = (("chl", 1.0, 2.0), ("temp", 0.0, 5.0), "sub_001")
        rec = dict.fromkeys(gen.STORE_FIELDS)
        self.assertFalse(metrics._search_matches(parts, rec, "sub_0200"))
        rec["chl"] = 1.5
        self.assertTrue(metrics._search_matches(parts, rec, "sub_0200"))
        self.assertFalse(metrics._search_matches(parts, rec, "sub_0012"))


if __name__ == "__main__":
    unittest.main()
