#!/usr/bin/env python3
"""The benchmark's own checks.

    python3 perfbench/test_selfcheck.py

The corpus and contract tests are quick. The traced-run test runs the
benchmark once per mode on `relational_catalog` (about two minutes) and
checks what the measurement itself must satisfy: every op's phases sum to
its wall time, every job the listener saw is counted in one span and none
is untagged, and both modes print exactly the metrics `BENCHMARK.json`
names.
"""
import filecmp
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def same_tree(a, b):
    files = sorted(p.relative_to(a) for p in Path(a).rglob("*") if p.is_file())
    return files == sorted(p.relative_to(b) for p in Path(b).rglob("*") if p.is_file()) \
        and all(filecmp.cmp(a / f, b / f, shallow=False) for f in files)


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_values(self):
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            corpus.catalog_tables(5, d / "a")
            corpus.catalog_tables(5, d / "b")
            corpus.catalog_tables(6, d / "c")
            self.assertTrue(same_tree(d / "a", d / "b"))
            self.assertFalse(same_tree(d / "a", d / "c"))
            m1 = corpus.day_corpus(5, d / "x", n_users=2, n_days=40)
            m2 = corpus.day_corpus(5, d / "y", n_users=2, n_days=40)
            self.assertTrue(same_tree(d / "x", d / "y"))
            self.assertEqual(m1, m2)
            self.assertEqual(m1["days"], 80)
            self.assertEqual(m1["mutated"], 80 // 37)

    def test_mutation_raises_water_off_the_hundreds(self):
        with tempfile.TemporaryDirectory() as d:
            m = corpus.day_corpus(9, Path(d), n_users=2, n_days=74)
            bumped = 0
            for f in sorted((Path(d) / "mutated").glob("*.json")):
                for line in f.read_text().splitlines():
                    bumped += json.loads(line)["water"] % 100 != 0
            self.assertEqual(bumped, m["mutated"])


class ContractTest(unittest.TestCase):
    def test_workloads_match_the_spec(self):
        names = [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(names, [w for w in run.WORKLOADS if w in names])
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual(SPEC["paths"], ["perfbench"])


def run_bench(trace):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "relational_catalog",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(proc.stderr[-3000:])
    lines = proc.stdout.strip().splitlines()
    metrics = {}
    for line in lines[:-1]:
        if not line.startswith("#"):
            name, value, _unit = line.split(" ")
            metrics[name] = float(value)
    return json.loads(lines[-1]), metrics


class TracedRunTest(unittest.TestCase):
    def test_traced_run_accounts_for_every_job_and_second(self):
        result, lines = run_bench(trace=1)
        self.assertTrue(result["correct"], result)
        self.assertEqual(list(result["metrics"]), [m["name"] for m in SPEC["per_layer"]])
        self.assertLess(lines["selfcheck.max_phase_gap_s"], 0.01)
        self.assertEqual(lines["selfcheck.jobs_unaccounted"], 0)
        self.assertEqual(lines["untagged.jobs"], 0)
        self.assertGreater(lines["trace.jobs_total"], 0)
        print(f"\ntracing overhead: {lines['trace.overhead_share']:+.3f} of a warm pass",
              file=sys.stderr)

    def test_untraced_run_prints_the_end_to_end_metrics(self):
        result, _ = run_bench(trace=0)
        self.assertTrue(result["correct"], result)
        self.assertEqual(list(result["metrics"]), [m["name"] for m in SPEC["end_to_end"]])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 2 * len(run.RELATIONAL))


if __name__ == "__main__":
    unittest.main()
