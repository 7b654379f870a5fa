#!/usr/bin/env python3
"""Self-test of the benchmark's helpers: quartiles and spreads, the diff
tool's verdicts and mismatch flags, and (through the compiled program) the
output digest and the program's median/percentile helper.

    python3 perfbench/selftest.py
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import diff  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

BENCH = {"end_to_end": [{"name": "items_per_s", "unit": "items/s", "better": "higher", "bound": 0.1},
                        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}],
         "per_layer": [{"name": "x", "unit": "count", "better": "higher"}]}


def record(items_per_s, setup_s, nproc=4, workload="doc_pipeline", xshare="on"):
    return {"workload": workload, "trace": 0, "failed": 0,
            "metrics": {"items_per_s": {"value": items_per_s, "unit": "items/s"},
                        "setup_s": {"value": setup_s, "unit": "s"}},
            "manifest": {"nproc": nproc, "mem_total_mb": 15000, "heap_mb": 3750,
                         "java_version": "17", "java_vm": "vm", "spark_version": "4",
                         "class_data_sharing": {"archive": "a.jsa", "bytes": 1, "xshare": xshare},
                         "conf": {"spark.master": "local[4]", "spark.app.id": "x"},
                         "inputs": {"docs": 10}}}


class StatsTest(unittest.TestCase):
    def test_quartiles_match_statistics_module(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (2.75, 5.5, 8.25))
        self.assertEqual(stats.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)


class DiffTest(unittest.TestCase):
    def verdicts(self, base, new):
        lines, regress = diff.compare(base, new, BENCH)
        return {l.split()[1]: l.split()[-2] for l in lines
                if l.startswith("doc_pipeline") and "(n=" in l}, regress, lines

    def test_regression_beyond_bound_is_flagged(self):
        base = [record(100 + i, 5.0) for i in range(5)]
        new = [record(80 + i, 5.0) for i in range(5)]
        v, regress, _ = self.verdicts(base, new)
        self.assertEqual(v["items_per_s"], "WORSE")
        self.assertEqual(v["setup_s"], "ok")
        self.assertTrue(regress)

    def test_gain_and_noise(self):
        base = [record(100 + i, 5.0 + 0.01 * i) for i in range(5)]
        new = [record(130 + i, 5.0 + 0.01 * i) for i in range(5)]
        v, regress, _ = self.verdicts(base, new)
        self.assertEqual(v["items_per_s"], "better")
        self.assertFalse(regress)

    def test_wide_base_spread_is_unresolved(self):
        base = [record(v, 5.0) for v in (50, 80, 100, 120, 150)]
        new = [record(v, 5.0) for v in (50, 80, 100, 120, 150)]
        v, _, _ = self.verdicts(base, new)
        self.assertEqual(v["items_per_s"], "unresolved")

    def test_hardware_mismatch_is_printed(self):
        _, _, lines = self.verdicts([record(100, 5.0, nproc=32)], [record(100, 5.0)])
        self.assertTrue(any(l.startswith("MISMATCH nproc") for l in lines), lines)
        _, _, lines = self.verdicts([record(100, 5.0, xshare=None)], [record(100, 5.0)])
        self.assertTrue(any(l.startswith("MISMATCH class_data_sharing") for l in lines), lines)
        _, _, lines = self.verdicts([record(100, 5.0)], [record(100, 5.0)])
        self.assertFalse(any(l.startswith("MISMATCH") for l in lines), lines)


class SpreadTest(unittest.TestCase):
    def test_every_metric_is_held_to_its_bound(self):
        steady = [record(100 + i, 5.0 + 0.3 * i) for i in range(5)]
        lines, bad = diff.spreads(steady, BENCH)
        self.assertFalse(bad, lines)
        self.assertTrue(any("setup_s" in l and ">= bound/3" in l for l in lines), lines)
        _, bad = diff.spreads([record(v, 5.0) for v in (50, 80, 100, 120, 150)], BENCH)
        self.assertTrue(bad)
        _, bad = diff.spreads([record(100, 5.0 + i) for i in range(5)], BENCH)
        self.assertTrue(bad)


class DigestTest(unittest.TestCase):
    def test_digest_and_quantile_helpers_in_the_program(self):
        srcs = run.sources()
        jars = run.spark_jars()
        built = run.compile_jar(srcs, jars, run.source_hash(srcs))
        r = subprocess.run(["java", "-cp", ":".join([str(built / "perfbench.jar"), *map(str, jars)]),
                            "perfbench.Main", "--selftest"], capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
