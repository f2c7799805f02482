#!/usr/bin/env python3
"""The benchmark's own tests: the workload name rule, band pairs, the
seeded order, and the two failure paths (a query that throws and one that
writes a wrong result) counted as failed and kept out of the latency
samples.

    python3 graftbench/selftest.py
"""
import inspect
import os
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class NameRules(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        _, catalog = run.ensure_build()
        cls.queries = catalog["queries"]
        cls.families = catalog["families"]

    def test_every_query_in_exactly_one_workload(self):
        counts = {w: 0 for w in run.WORKLOADS}
        for q in self.queries:
            hits = [w for w, rx in run.WORKLOADS.items() if re.fullmatch(rx, q)]
            self.assertEqual(len(hits), 1, f"{q} matches {hits}")
            counts[hits[0]] += 1
        self.assertEqual(counts, {"sql_mr": 64, "dedup_ann": 43, "corpus_text": 49})
        self.assertEqual(sum(counts.values()), len(self.queries))

    def test_every_query_has_a_module(self):
        for q in self.queries:
            self.assertIsNotNone(run.module_of(q), q)

    def test_band_pairs_share_a_workload_and_a_core(self):
        ck = run.load_check()
        for name, fn in ck.BAND_CHECKS.items():
            src = inspect.getsource(fn)
            siblings = set(re.findall(r"\{out_dir\}/([a-z0-9_]+)", src))
            w = run.workload_of(name)
            self.assertIsNotNone(w, name)
            for s in siblings:
                self.assertEqual(run.workload_of(s), w, f"{name} reads {s}")
                if name in run.CORE[w]:
                    self.assertIn(s, run.CORE[w], f"core of {w} runs {name} without {s}")

    def test_cores_lie_in_their_workloads(self):
        for w, core in run.CORE.items():
            for q in core:
                self.assertIn(q, self.queries)
                self.assertEqual(run.workload_of(q), w, q)

    def test_seeded_order_is_a_stable_permutation(self):
        families = [set(f) for f in self.families.values()]
        for w in run.WORKLOADS:
            names = [q for q in self.queries if run.workload_of(q) == w]
            a = run.ordered(names, 7, families)
            self.assertEqual(a, run.ordered(list(reversed(names)), 7, families))
            self.assertEqual(sorted(a), sorted(names))
            self.assertNotEqual(a, run.ordered(names, 8, families))
            for fam in families:
                members = [q for q in a if q in fam]
                self.assertEqual(members, sorted(members), f"{w}: family order")


class FailurePaths(unittest.TestCase):
    def test_injected_failures_count_and_leave_no_sample(self):
        line, record = run.run("sql_mr", seed=1, seconds=0, trace=0, only=["q1_agg"],
                               inject=True, min_sweeps=1)
        execs = record["execs"]
        by_query = {}
        for _, q, _, ok in execs:
            by_query.setdefault(q, set()).add(ok)
        self.assertEqual(by_query, {"q1_agg": {True}, "inject_throw": {False},
                                    "inject_wrong": {False}})
        sweeps = len({s for s, _, _, _ in execs})
        self.assertEqual(line["attempted"], 3 * sweeps)
        self.assertEqual(line["failed"], 2 * sweeps)
        self.assertFalse(line["correct"])
        self.assertEqual(record["context"]["samples"], sweeps)
        self.assertAlmostEqual(line["metrics"]["ok_frac"]["value"], 1 / 3)
        wrong = [f for f in record["failures"] if "inject_wrong" in f]
        self.assertTrue(wrong and all("rows" in f for f in wrong), wrong)


if __name__ == "__main__":
    unittest.main()
