"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests

The partition test builds the benchmark (perfbench/build.py) when it is
not built yet, to list the registered queries.
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib  # noqa: E402
import build  # noqa: E402


class WavePlanTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        self.assertEqual(benchlib.wave_plan(7, 500, 500), benchlib.wave_plan(7, 500, 500))

    def test_seeds_differ(self):
        plans = [benchlib.wave_plan(s, 500, 500) for s in range(5)]
        for i in range(len(plans)):
            for j in range(i + 1, len(plans)):
                self.assertNotEqual(plans[i], plans[j])

    def test_slices_are_valid(self):
        for seed in range(20):
            p = benchlib.wave_plan(seed, 500, 500)
            live = set(p["initial_docs"])
            pool = set(range(500)) - live
            cut = 400
            live_vecs = set(range(cut))
            seen_vecs = set(live_vecs)
            self.assertEqual(len(p["waves"]), benchlib.WAVES)
            for w in p["waves"]:
                self.assertTrue(set(w["delete_docs"]) <= live)
                live -= set(w["delete_docs"])
                self.assertTrue({u for u, _ in w["update_docs"]} <= live)
                self.assertTrue(set(w["append_docs"]) <= pool)
                pool -= set(w["append_docs"])
                live |= set(w["append_docs"])
                self.assertTrue(set(w["delete_vecs"]) <= live_vecs)
                live_vecs -= set(w["delete_vecs"])
                self.assertFalse(set(w["append_vecs"]) & seen_vecs)
                self.assertTrue(all(v >= cut for v in w["append_vecs"]))
                seen_vecs |= set(w["append_vecs"])
                live_vecs |= set(w["append_vecs"])

    def test_slice_sizes_do_not_depend_on_seed(self):
        shape = lambda p: [tuple(len(w[k]) for k in sorted(w)) for w in p["waves"]]  # noqa: E731
        self.assertEqual(shape(benchlib.wave_plan(1, 500, 500)),
                         shape(benchlib.wave_plan(2, 500, 500)))


class TailTest(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(benchlib.tail(list(range(10))))

    def test_eleven_samples(self):
        value, p, n = benchlib.tail(list(range(11)))
        self.assertEqual((p, n), (9, 11))
        self.assertEqual(value, 0)
        self.assertEqual(sum(1 for x in range(11) if x > value), 10)

    def test_at_least_ten_beyond_and_highest(self):
        for n in range(11, 400):
            xs = list(range(n))
            value, p, _ = benchlib.tail(xs)
            beyond = sum(1 for x in xs if x > value)
            self.assertGreaterEqual(beyond, 10, n)
            # the next percentile up would leave fewer than ten beyond
            rank = -(-(p + 1) * n // 100)
            self.assertLess(n - rank, 10, n)

    def test_hundred_samples(self):
        value, p, n = benchlib.tail([float(x) for x in range(1, 101)])
        self.assertEqual((value, p, n), (90.0, 90, 100))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 5
        self.assertEqual(benchlib.tail(xs), benchlib.tail(sorted(xs)))


class PartitionTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build.build(quiet=True)
        cls.registry = build.registry()
        cls.unmeasured = benchlib.load_unmeasured()

    def test_every_query_in_exactly_one_workload(self):
        self.assertEqual(benchlib.check_partition(self.registry, self.unmeasured), [])
        a = set(benchlib.workload_queries(self.registry, "analytics", full=True))
        c = set(benchlib.workload_queries(self.registry, "curation", full=True))
        self.assertEqual(a | c, set(self.registry["all"]))
        self.assertFalse(a & c)
        self.assertEqual((len(a), len(c)), (57, 124))

    def test_every_query_run_by_a_listed_default_pass_or_named_unmeasured(self):
        run = {q for w in benchlib.LISTED_WORKLOADS
               for q in benchlib.default_queries(self.registry, w)}
        named = {q for qs in self.unmeasured.values() for q in qs}
        self.assertEqual(run | named, set(self.registry["all"]))
        self.assertFalse(run & named)

    def test_partition_check_catches_strays(self):
        r = dict(self.registry)
        r["all"] = r["all"] + ["q999_unmeasured"]
        self.assertTrue(benchlib.check_partition(r, self.unmeasured))
        r = dict(self.registry)
        r["NewQueries"] = ["q998_new"]
        r["all"] = r["all"] + ["q998_new"]
        self.assertTrue(benchlib.check_partition(r, self.unmeasured))
        r = dict(self.registry)
        r["Misc"] = r["Misc"] + [r["Text"][0]]
        self.assertTrue(benchlib.check_partition(r, self.unmeasured))

    def test_new_query_of_a_known_object_is_caught(self):
        # registered by an existing object, so the object partition
        # holds, but no default pass runs it and nobody named it
        for obj in ("Text", "Pipeline", "Core", "Misc"):
            r = dict(self.registry)
            r[obj] = r[obj] + ["q997_new"]
            r["all"] = r["all"] + ["q997_new"]
            problems = benchlib.check_partition(r, self.unmeasured)
            self.assertTrue(any("q997_new" in p for p in problems), obj)
            self.assertTrue(benchlib.check_partition(
                r, {**self.unmeasured, "reviewed": ["q997_new"]}) == [], obj)

    def test_unmeasured_list_stays_exact(self):
        served = benchlib.CURATION_SERVE[0]
        stale = {**self.unmeasured, "stale": ["q996_gone"]}
        self.assertTrue(benchlib.check_partition(self.registry, stale))
        both = {**self.unmeasured, "served": [served]}
        self.assertTrue(benchlib.check_partition(self.registry, both))

    def test_listed_workloads_match_benchmark_json(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            listed = [w["name"] for w in json.load(f)["workloads"]]
        self.assertEqual(tuple(listed), benchlib.LISTED_WORKLOADS)

    def test_warmup_lies_outside_the_default_pass(self):
        default = set(benchlib.workload_queries(self.registry, "analytics", False))
        full = set(benchlib.workload_queries(self.registry, "analytics", True))
        self.assertTrue(set(benchlib.ANALYTICS_WARMUP) <= full - default)

    def test_default_runs_are_subsets_of_full_runs(self):
        for w in benchlib.WORKLOAD_OBJECTS:
            self.assertTrue(set(benchlib.workload_queries(self.registry, w, False)) <=
                            set(benchlib.workload_queries(self.registry, w, True)))


class UnitsTest(unittest.TestCase):
    def test_every_per_layer_metric_has_a_unit(self):
        names = benchlib.per_layer_names()
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            benchlib.unit_of(n)


if __name__ == "__main__":
    unittest.main()
