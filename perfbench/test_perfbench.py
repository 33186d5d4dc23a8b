"""Tests of the benchmark's own logic: percentile rule, generator
determinism, output checks and span arithmetic. No JVM needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import checks
import gendata
import run
import stats
import workload


class PercentileRule(unittest.TestCase):
    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(200, 95), 10)
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.samples_beyond(20, 50), 10)
        self.assertEqual(stats.samples_beyond(13, 95), 0)

    def test_rule_needs_ten_beyond(self):
        self.assertTrue(stats.supports(200, 95))
        self.assertFalse(stats.supports(199, 95))
        self.assertTrue(stats.supports(20, 50))
        self.assertFalse(stats.supports(19, 50))
        self.assertTrue(stats.supports(100, 90))
        self.assertFalse(stats.supports(99, 90))

    def test_percentile_interpolates(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 4)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(range(1, 101), 95), 95.05)


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = {"run": ("run", None, 0, 100),
                 "a": ("op", "run", 10, 40), "b": ("op", "run", 50, 90),
                 "a1": ("op.build", "a", 10, 15), "a2": ("op.exec", "a", 15, 40)}
        self.assertEqual(stats.self_times(spans),
                         {"run": 30, "a": 0, "b": 40, "a1": 5, "a2": 25})
        self.assertEqual(stats.self_time_by_name(spans),
                         {"run": 30, "op": 40, "op.build": 5, "op.exec": 25})

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 30)], 0, 25), 20)
        spans = {"p": ("p", None, 0, 10), "c1": ("c", "p", 0, 6), "c2": ("c", "p", 4, 8)}
        self.assertEqual(stats.self_times(spans)["p"], 2)

    def test_children_clipped_to_parent(self):
        self.assertEqual(stats.covered([(-5, 5), (8, 20)], 0, 10), 7)


class Fixture(unittest.TestCase):
    """Tables at the smallest scale, written once for the class."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = gendata.ensure(os.path.join(cls.tmp.name, "sf"), 0.001)
        cls.oracle = checks.Oracle(cls.data)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def plan(self, seed):
        return workload.agent_plan(seed, 6, self.oracle.part.reset_index(drop=True), 150, 500)


class GeneratorDeterminism(Fixture):
    def test_same_seed_same_inputs(self):
        a, b = self.plan(7), self.plan(7)
        self.assertEqual(a[0], b[0])
        self.assertTrue(a[2].equals(b[2]))

    def test_seeds_differ_in_keys_not_in_mix(self):
        a, b = self.plan(1), self.plan(2)
        self.assertNotEqual(a[0], b[0])
        sa, sb = workload.agent_summary(a[0], a[4]), workload.agent_summary(b[0], b[4])
        for key in ("cycles", "ops", "calls_by_type", "catalog_reads"):
            self.assertEqual(sa[key], sb[key])
        self.assertEqual(sa["deltas_by_kind"], {"brand": 5, "sweep": 1})

    def test_every_cycle_has_the_same_composition(self):
        ops = self.plan(3)[0]
        per_cycle = {}
        for o in ops:
            kind = "catalog_read" if "table" in o and o["op"] != "sku" else o["op"]
            per_cycle.setdefault(o["cycle"], []).append(kind)
        shapes = {tuple(sorted(v)) for v in per_cycle.values()}
        self.assertEqual(len(shapes), 1)

    def test_deltas_are_key_unique_and_reads_see_their_merge(self):
        ops, _, deltas, hist, _ = self.plan(4)
        self.assertFalse(deltas.duplicated(["delta_id", "p_partkey"]).any())
        for o in ops:
            if o.get("table") == "catalog" and o["op"] == "sku":
                row = hist.versions[o["version"]].loc[o["key"]]
                written = deltas[(deltas["delta_id"] == o["version"] - 1)
                                 & (deltas["p_partkey"] == o["key"])]
                self.assertEqual(row["p_retailprice"], written["p_retailprice"].iloc[0])

    def test_typo_is_one_edit(self):
        import numpy as np
        rng = np.random.default_rng(0)
        for w in gendata.PART_WORDS:
            self.assertEqual(checks.levenshtein(w, workload.typo(rng, w)), 1)


class OutputChecks(Fixture):
    def sku_rows(self, key):
        return checks.Oracle.sku(self.oracle.part, key)

    def test_right_output_passes(self):
        op = {"op": "sku", "key": 5}
        self.assertIsNone(checks.check_agent(op, self.sku_rows(5), self.oracle))
        op = {"op": "search", "terms": ["red", "bolt"]}
        rows = [[k, "", 0.0, s] for k, s in self.oracle.search(self.oracle.part, op["terms"])]
        self.assertIsNone(checks.check_agent(op, rows, self.oracle))

    def test_perturbed_output_fails(self):
        rows = self.sku_rows(5)
        rows[0][5] += 1.0
        self.assertIsNotNone(checks.check_agent({"op": "sku", "key": 5}, rows, self.oracle))
        self.assertIsNotNone(checks.check_agent({"op": "sku", "key": 6}, self.sku_rows(5), self.oracle))

    def test_topk_must_not_increase_or_miss(self):
        sims = self.oracle.sims(3)
        best = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        op = {"op": "topk", "query": 3, "k": 5}
        self.assertIsNone(checks.check_agent(op, [list(kv) for kv in best], self.oracle))
        self.assertIsNotNone(checks.check_agent(op, [list(kv) for kv in best[::-1]], self.oracle))
        self.assertIsNotNone(checks.check_agent(op, [list(kv) for kv in best[1:]], self.oracle))

    def test_entry_digest_and_ranges(self):
        digests = {"q_x": {"rows": 6, "digest": "123"}}
        self.assertIsNone(checks.check_entry("q_x", {"rows": 6, "digest": "123"}, digests))
        self.assertIsNotNone(checks.check_entry("q_x", {"rows": 6, "digest": "124"}, digests))
        ok = {"rows": 5, "min:sim": 0.2, "max:sim": 0.9, "min:vec_id": 3, "max:vec_id": 9,
              "min:cell": 0, "max:cell": 15}
        self.assertIsNone(checks.check_entry("v_ivfpq_ann", ok, digests))
        self.assertIsNotNone(checks.check_entry("v_ivfpq_ann", dict(ok, **{"max:sim": 1.5}), digests))

    def test_wrong_output_counts_as_failed_op(self):
        ops = [{"op": "sku", "key": 5, "cycle": 0}, {"op": "sku", "key": 6, "cycle": 0}]
        rec = [{"i": 0, "op": "sku", "ok": True, "rows": self.sku_rows(5)},
               {"i": 1, "op": "sku", "ok": True, "rows": self.sku_rows(5)}]
        hist = workload.CatalogHistory(self.oracle.part.reset_index(drop=True))
        t = hist.current
        final = {"rows": len(t), "keys": len(t),
                 "price_tenths": int(sum(round(p * 10) for p in t["p_retailprice"]))}
        result = {"ops": rec, "final_table": final}
        self.assertEqual(run.check_run("agent_requests", result, ops, (self.oracle, hist), False), [])
        self.assertNotIn("wrong", rec[0])
        self.assertIn("wrong", rec[1])


if __name__ == "__main__":
    unittest.main()
