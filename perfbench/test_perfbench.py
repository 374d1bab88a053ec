#!/usr/bin/env python3
"""Self-test of the benchmark in its sf0.001 smoke mode.

  python3 perfbench/test_perfbench.py

Checks that every workload of BENCHMARK.json, and oneshot_mix, prints every
metric of BENCHMARK.json with its unit and runs without a failed operation,
that oneshot_mix builds an index, that a corrupted expected checksum is
reported as a failure, and that the benchmark refuses to run without the
engine sources.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# the gated workloads, and the one that covers the plans and ann layers
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["oneshot_mix"]


def smoke(workload, trace, *extra):
    r = subprocess.run([sys.executable, RUN, "--smoke", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace)]
                       + list(extra), cwd=ROOT, stdout=subprocess.PIPE,
                       text=True, timeout=900)
    assert r.returncode == 0, r.stdout[-2000:]
    lines = r.stdout.strip().split("\n")
    return json.loads(lines[-1]), lines[:-1]


class SmokeTest(unittest.TestCase):

    def test_every_metric_printed_with_its_unit(self):
        for w in WORKLOADS:
            for trace, group in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    out, rows = smoke(w, trace)
                    self.assertEqual(set(out), {"correct", "attempted",
                                                "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.assertEqual(out["failed"], 0, rows)
                    want = {m["name"]: m["unit"] for m in SPEC[group]}
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in out["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                    # the human-readable row names every metric too
                    row = next(r for r in rows if f" {group} " in r)
                    for name, unit in want.items():
                        self.assertRegex(row, rf"{name}=\S+{unit}\b")
                    if w == "oneshot_mix" and trace:
                        self.assertGreater(
                            out["metrics"]["ann.index_mb"]["value"], 0)

    def test_corrupted_checksum_is_a_failure(self):
        src = os.path.join(HERE, "expected", "sf0.001.tsv")
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            bad = os.path.join(d, "expected.tsv")
            with open(src) as f, open(bad, "w") as g:
                for line in f:
                    cols = line.rstrip("\n").split("\t")
                    if cols[:2] == ["mart", "top10"] or (
                            cols[0] == "query" and cols[3] != "-"):
                        cols[-1] = str(int(cols[-1]) + 1)
                    g.write("\t".join(cols) + "\n")
            out, _ = smoke("mart_etl", 0, "--expected", bad)
            self.assertFalse(out["correct"])
            self.assertEqual(out["failed"], out["attempted"])
            out, _ = smoke("iterative_kernels", 0, "--expected", bad)
            self.assertFalse(out["correct"])
            self.assertEqual(out["failed"], out["attempted"])

    def test_refuses_to_run_without_the_engine(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "mart_etl", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    unittest.main()
