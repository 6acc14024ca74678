"""Harness tests: a short sf0.001 run of each workload.

    python3 -m unittest discover -s perfbench/tests -v

For every workload they check that
  - every metric BENCHMARK.json names is printed with its unit, in the
    plain run (end-to-end metrics) and in the traced run (per-layer metrics);
  - the traced run writes spans whose parent and trace ids resolve;
  - each correctness check fails loudly (a FAIL line, `correct: false`)
    when the harness is fed a deliberately perturbed answer.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SEED = 5
SECONDS = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace=0, perturb=False):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", str(trace),
           "--sf", "0.001"] + (["--perturb"] if perturb else [])
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class WorkloadTest:
    workload = None
    perturbed_checks = []

    def assert_metrics(self, lines, result, wanted):
        printed = {l.split(" ")[0]: l.split(" ")[-1] for l in lines[:-1]}
        for m in wanted:
            self.assertIn(m["name"], result["metrics"], m["name"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], float, m["name"])
            self.assertEqual(printed.get(m["name"]), m["unit"], f"{m['name']} not printed")

    def test_plain_run_prints_every_end_to_end_metric(self):
        lines, result = run(self.workload)
        self.assertTrue(result["correct"], "\n".join(lines))
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        self.assert_metrics(lines, result, SPEC["end_to_end"])

    def test_traced_run_prints_layers_and_spans_resolve(self):
        lines, result = run(self.workload, trace=1)
        self.assertTrue(result["correct"], "\n".join(lines))
        self.assert_metrics(lines, result, SPEC["per_layer"])
        path = os.path.join(ROOT, ".bench_build", "results",
                            f"{self.workload}-seed{SEED}-trace1.spans.jsonl")
        with open(path) as fh:
            spans = [json.loads(l) for l in fh]
        self.assertTrue(spans)
        ids = {s["id"] for s in spans}
        for s in spans:
            self.assertTrue(s["parent"] == 0 or s["parent"] in ids, s)
            self.assertIn(s["trace"], ids, s)
            self.assertLessEqual(s["start_ns"], s["end_ns"], s)
        self.assertTrue(any(l.startswith("self.") for l in lines))

    def test_perturbed_answer_fails_loudly(self):
        lines, result = run(self.workload, perturb=True)
        self.assertFalse(result["correct"])
        for check in self.perturbed_checks:
            self.assertTrue(any(l.startswith(f"check FAIL {check}:") for l in lines),
                            f"{check} did not fail:\n" + "\n".join(lines))


class Serve(WorkloadTest, unittest.TestCase):
    workload = "serve"
    perturbed_checks = ["serve: hot == cold",
                        "ingest: final hot view holds each source event_id once",
                        "ingest: final hot == cold over the source"]


class Registry(WorkloadTest, unittest.TestCase):
    workload = "registry"
    perturbed_checks = ["registry: every query completes"]


if __name__ == "__main__":
    unittest.main()
