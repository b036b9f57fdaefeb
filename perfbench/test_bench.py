"""Tests for the benchmark's own helpers. Run: python3 perfbench/test_bench.py"""
import json
import os
import re
import statistics
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


class StatsTest(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7.25]), 7.25)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_slowest_median(self):
        # per query: a slow outlier moves neither its median nor the tail
        groups = {"q12": [1.0, 1.2, 9.0], "q07": [0.9, 0.8, 1.0], "q41": [0.2]}
        self.assertEqual(stats.slowest_median(groups.values()), 1.2)
        self.assertEqual(stats.slowest_median([[3.0, 1.0]]), 2.0)

    def test_quartile_spread_matches_statistics(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.6, 9.7]
        q = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q[2] - q[0]) / statistics.median(xs))


class FingerprintTest(unittest.TestCase):
    def test_disagreeing_ops(self):
        fps = {"a": [[3, 99], [3, 99], [3, 99]], "b": [[3, 99], [3, 98]], "c": [[7]]}
        self.assertEqual(stats.disagreeing_ops(fps), ["b"])
        self.assertEqual(stats.disagreeing_ops({}), [])

    def test_flood_checks(self):
        ok = [10, 1, 2, 3, 4]  # tn fn fp tp masked
        raw = {"fingerprints": {"forecast_map": [ok, ok]},
               "rec": {"pages_per_map": 100.0, "lake_pages": 10.0, "cells": 20.0,
                       "mosaic_pages": 90.0}}
        self.assertEqual(run.output_failures(raw, "flood_forecast"), [])
        bad_sum = [10, 1, 2, 3, 5]
        raw["fingerprints"]["forecast_map"] = [bad_sum, bad_sum]
        self.assertEqual(len(run.output_failures(raw, "flood_forecast")), 2)
        raw["fingerprints"]["forecast_map"] = [ok, [10, 1, 2, 2, 5]]
        raw["rec"]["mosaic_pages"] = 89.0
        fails = run.output_failures(raw, "flood_forecast")
        self.assertTrue(any("disagree" in f for f in fails))
        self.assertTrue(any("sum(n_points)" in f for f in fails))
        self.assertFalse(any("do not sum" in f for f in fails))


class GenTest(unittest.TestCase):
    def test_lineitem_keys_unique(self):
        """(l_orderkey, l_linenumber) is unique, so pid = l_orderkey * 8 +
        l_linenumber names one page, and lines are numbered 1..k per order."""
        import numpy as np
        t = gen.make_tables(0.01, 5, ("lineitem",))["lineitem"]
        ok, ln = t["l_orderkey"].to_numpy(), t["l_linenumber"].to_numpy()
        self.assertEqual(len(np.unique(ok * 8 + ln)), t.num_rows)
        self.assertTrue(((ln >= 1) & (ln <= 7)).all())
        starts = np.r_[True, ok[1:] != ok[:-1]]
        self.assertTrue((ln[starts] == 1).all())
        cont = np.flatnonzero(~starts)
        self.assertTrue((ln[cont] == ln[cont - 1] + 1).all())
        self.assertEqual(gen.make_tables(0.01, 5, ("lineitem",))["lineitem"], t)


class DeclaredMetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_names_are_well_formed_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        for n in names:
            self.assertRegex(n, stats.NAME_RE)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))

    def test_end_to_end_printed_is_declared(self):
        raw = {"ops": [{"kind": "q", "family": "hydro", "pass": 0, "s": 2.0, "pages": 10.0},
                       {"kind": "r", "family": "web_link", "pass": 0, "s": 1.0, "pages": 0.0}],
               "lists": {"pass_s": [3.0], "heap_mb": [100.0]},
               "rec": {"first_timed_ms": 5000.0}}
        for w in (w["name"] for w in self.bench["workloads"]):
            printed = run.end_to_end(raw, w, 1000, [0.1, 0.2, 0.3])
            self.assertEqual(sorted(printed), sorted(m["name"] for m in self.bench["end_to_end"]))
            self.assertTrue(all(v > 0 for v in printed.values()))

    def test_per_layer_names_appear_in_harness(self):
        """Every declared per-layer name is produced by the harness source,
        literally or from one of its name templates."""
        src = ""
        for d, _, fs in os.walk(os.path.join(HERE, "harness")):
            for f in fs:
                with open(os.path.join(d, f)) as fh:
                    src += fh.read()
        literal = set(re.findall(r'"([A-Za-z0-9_.-]+)"', src))
        prefixes = set(re.findall(r'"([A-Za-z0-9_.-]+)" ->', src))
        families = set(re.findall(r'"(hydro|calibration|evaluation|text_dedup|web_link|platform)"', src))
        for m in self.bench["per_layer"]:
            name = m["name"]
            stem, _, suffix = name.rpartition(".")
            fam = re.fullmatch(r"SparkEntry\.([a-z_]+)\.s", name)
            self.assertTrue(
                name in literal
                or (stem in prefixes and suffix in ("self_s", "s", "jobs", "shuffle_bytes", "spill_bytes"))
                or (fam and fam.group(1) in families),
                name)

    def test_contract_shape(self):
        b = self.bench
        self.assertEqual(sorted(b), ["command", "end_to_end", "paths", "per_layer",
                                     "run_seconds", "workloads"])
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
