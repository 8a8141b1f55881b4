"""Self-tests of the benchmark. Each test starts the benchmark JVM, so the
whole file takes several minutes:

    python3 -m unittest perfbench/test_bench.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("notebook", "store_lifecycle")


def run(workload, seed, *extra):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert r.returncode == 0, f"{workload} seed {seed} {extra}: exit {r.returncode}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class BenchmarkSelfTest(unittest.TestCase):

    def test_workloads_match_spec(self):
        self.assertEqual([w["name"] for w in spec()["workloads"]], list(WORKLOADS))

    def test_same_seed_same_inputs_and_stream(self):
        for w in WORKLOADS:
            a = run(w, 7, "--digest-only", "1")
            b = run(w, 7, "--digest-only", "1")
            c = run(w, 8, "--digest-only", "1")
            self.assertEqual(a, b, w)
            self.assertNotEqual(a["inputs"], c["inputs"], w)
            self.assertNotEqual(a["stream"], c["stream"], w)

    def test_printed_metric_names_equal_spec(self):
        s = spec()
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            out = run("notebook", 3, "--trace", trace)
            self.assertTrue(out["correct"])
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(list(out["metrics"]), [m["name"] for m in s[key]], key)
            for m in s[key]:
                self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"], m["name"])

    def test_injected_fault_is_counted(self):
        for w in WORKLOADS:
            out = run(w, 3, "--inject-fault", "1")
            self.assertFalse(out["correct"], w)
            self.assertGreaterEqual(out["failed"], 1, w)


if __name__ == "__main__":
    unittest.main()
