"""The benchmark's own tests: python3 -m unittest discover perfbench/tests

The metric catalogue is checked here; the JVM self-test (open-loop due
times and lateness, generator determinism, span attribution over a
`graft.Par` fan-out) runs in a JVM built from the current sources.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import run  # noqa: E402


class Catalogue(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_benchmark_json_matches_the_harness(self):
        self.assertEqual([m["name"] for m in self.spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in self.spec["per_layer"]], run.per_layer_names())
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        for m in self.spec["end_to_end"]:
            self.assertEqual(m["unit"], run.UNITS[m["name"]])
        for m in self.spec["per_layer"]:
            self.assertEqual(m["unit"], run.per_layer_unit(m["name"]))

    def test_per_layer_names_are_unique(self):
        names = run.per_layer_names()
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)


class JvmSelfTest(unittest.TestCase):
    def test_selftest_passes(self):
        build_dir = run.build()
        tmp = os.path.join(build_dir, "selftest-tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(["java"] + run.jvm_flags(tmp)
                           + ["-cp", run.classpath(build_dir), "perfbench.Main", "selftest"],
                           cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=300)
        lines = [l for l in r.stdout.splitlines() if l.startswith(("ok ", "FAIL "))]
        self.assertEqual(r.returncode, 0, "\n".join(lines) + r.stdout[-2000:])
        self.assertEqual(len(lines), 3, lines)
        self.assertTrue(all(l.startswith("ok ") for l in lines), lines)


if __name__ == "__main__":
    unittest.main()
