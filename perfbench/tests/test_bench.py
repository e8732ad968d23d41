#!/usr/bin/env python3
"""Smoke test of the benchmark on the small corpus.

Checks, for every workload, that a run passes its own output checks and
prints every metric BENCHMARK.json names, with its unit; that a run under a
German default locale prints the same parseable result; and that one seed
repeats its op sequence and its counts while another seed changes them.

    python3 perfbench/tests/test_bench.py

Takes a few minutes; the first run builds the engine if needed.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = ("interactive_sf01", "migrate_batches", "dedup_vectors")
TMP = tempfile.mkdtemp(prefix="perfbench-test-", dir=os.path.join(ROOT, ".perfbench"))


def run(workload, seed=1, trace=0, ops=6, env=None, report=None):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "2",
           "--trace", str(trace), "--small", "--ops", str(ops)]
    if report:
        cmd += ["--report", report]
    p = subprocess.run(cmd, cwd=ROOT, env=dict(os.environ, **(env or {})),
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def report(path):
    with open(path) as f:
        return json.load(f)


class MetricsPrinted(unittest.TestCase):
    def check(self, result, expected):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for m in expected:
            got = result["metrics"].get(m["name"])
            self.assertIsNotNone(got, m["name"])
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w)
                self.check(r, BENCH["end_to_end"])
                self.assertEqual(set(r["metrics"]) - {"recall_at_10"},
                                 {m["name"] for m in BENCH["end_to_end"]})

    def test_per_layer(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check(run(w, trace=1), BENCH["per_layer"])

    def test_locale(self):
        de = run("interactive_sf01", env={
            "JAVA_TOOL_OPTIONS": "-Duser.language=de -Duser.country=DE"})
        self.check(de, BENCH["end_to_end"])
        en = run("interactive_sf01")
        self.assertEqual(de["attempted"], en["attempted"])
        self.assertEqual(set(de["metrics"]), set(en["metrics"]))


class SeedReproducible(unittest.TestCase):
    COUNTS = {
        "interactive_sf01": ["exec.jobs", "exec.tasks", "exec.shuffle_write_bytes"],
        "migrate_batches": ["exec.jobs", "exec.tasks", "sink.batches", "sink.docs_sent"],
    }

    def test_same_seed_same_ops_and_counts(self):
        for w, counts in self.COUNTS.items():
            with self.subTest(workload=w):
                a, b = (os.path.join(TMP, f"{w}-{i}.json") for i in (1, 2))
                ra = run(w, seed=7, trace=1, ops=20, report=a)
                rb = run(w, seed=7, trace=1, ops=20, report=b)
                self.assertEqual([o["name"] for o in report(a)["ops"]],
                                 [o["name"] for o in report(b)["ops"]])
                for c in counts:
                    self.assertEqual(ra["metrics"][c]["value"],
                                     rb["metrics"][c]["value"], c)

    def test_other_seed_other_ops(self):
        a, b = (os.path.join(TMP, f"seed-{s}.json") for s in (7, 8))
        run("migrate_batches", seed=7, report=a)
        run("migrate_batches", seed=8, report=b)
        self.assertNotEqual([o["name"] for o in report(a)["ops"]],
                            [o["name"] for o in report(b)["ops"]])


if __name__ == "__main__":
    unittest.main(verbosity=2)
