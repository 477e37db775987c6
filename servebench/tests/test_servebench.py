"""Self-tests of the serving benchmark.

    python3 -m unittest discover -s servebench/tests -v

The first three tests are pure Python; the last two launch the engine (one
dashboard run and one traced ingest run, about a minute each).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2].split(" ", 1)[1])
    return report, json.loads(lines[-1])


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def fps(self, name, seed):
        d = os.path.join(self.tmp, name)
        c = gen.corpus(os.path.join(d, "corpus"), seed, 0.001)
        stream = gen.stream_inputs(os.path.join(d, "stream"), seed, 5, 50, 500)
        order = gen.request_order(seed, run.DASHBOARD_QUERIES, 40)
        return (gen.fingerprint(c), *map(gen.fingerprint, stream), order)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.fps("a", 7), self.fps("b", 7))

    def test_other_seed_other_inputs(self):
        a, b = self.fps("a", 7), self.fps("c", 8)
        for x, y in zip(a, b):
            self.assertNotEqual(x, y)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {k: u for k, (u, _) in run.E2E.items()})
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.SIZES)


class RunTest(unittest.TestCase):
    def test_dashboard_metrics_and_injected_failure(self):
        report, res = _bench("--workload", "dashboard", "--seed", "5",
                             "--seconds", "2", "--trace", "0", "--inject-failure")
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {k: u for k, (u, _) in run.E2E.items()})
        for v in res["metrics"].values():
            self.assertGreater(v["value"], 0)
        # the injected request is the only failure; every oracle ran
        self.assertEqual(res["failed"], 1)
        self.assertFalse(res["correct"])
        self.assertEqual(report["failures"][0]["name"], "q00_missing_query")
        self.assertEqual(report["oracle_checked"], sorted(run.DASHBOARD_QUERIES))
        self.assertAlmostEqual(report["failed_share"], 1 / res["attempted"])

    def test_ingest_traced_layers(self):
        report, res = _bench("--workload", "ingest", "--seed", "5",
                             "--seconds", "4", "--trace", "1", "--keep")
        kept = [d for d in os.listdir(os.path.join(HERE, ".work"))
                if d.startswith("ingest-s5-t1-")]
        try:
            with open(os.path.join(HERE, ".work", kept[-1], "trace.json")) as f:
                names = {s["name"] for s in json.load(f)["spans"]}
        finally:
            for d in kept:
                shutil.rmtree(os.path.join(HERE, ".work", d), ignore_errors=True)
        # the span tree the per-layer numbers are derived from
        self.assertTrue({"streaming.batch", "plans.plan", "exec", "job", "stage",
                         "operators.build", "sources.offset"} <= names, names)
        self.assertTrue(res["correct"], report["failures"])
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, run.PER_LAYER)
        layers = report["layers"]
        self.assertEqual(set(layers), set(run.PER_LAYER) | set(run.LAYER_ONLY))
        self.assertGreater(layers["streaming.batches"]["value"], 0)
        self.assertGreater(layers["exec.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
