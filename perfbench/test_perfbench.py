"""Tests of the benchmark itself, at smoke size (tiny inputs, every check on).

    python3 perfbench/test_perfbench.py

The first test builds the program if the checkout has no current build.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def bench(workload, seed, trace=0, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script, "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, result


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        cls.e2e = [m["name"] for m in spec["end_to_end"]]
        cls.layers = [m["name"] for m in spec["per_layer"]]

    def test_every_workload_passes_its_checks(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                p, r = bench(w, 5)
                self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
                self.assertTrue(r["correct"])
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(r["failed"], 0)
                self.assertEqual(sorted(r["metrics"]), sorted(self.e2e))
                for name, m in r["metrics"].items():
                    self.assertGreater(m["value"], 0, name)

    def test_traced_run_reports_every_layer_metric(self):
        p, r = bench("lloyd_large_k", 5, trace=1)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        self.assertEqual(sorted(r["metrics"]), sorted(self.layers))
        self.assertGreater(r["metrics"]["kmeans.round_s"]["value"], 0)
        self.assertIn("trace overhead", p.stdout)

    def test_same_seed_same_inputs_and_iterations(self):
        digests, iters = [], []
        for _ in range(2):
            p, r = bench("kmeans_paper_e2e", 7, trace=1)
            self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
            digests.append(run.tree_digest(os.path.join(
                run.BUILD, "work", "kmeans_paper_e2e", "inputs", "rep0")))
            iters.append(r["metrics"]["kmeans.iters"]["value"])
        self.assertEqual(digests[0], digests[1])
        self.assertEqual(iters[0], iters[1])
        self.assertGreater(iters[0], 0)

    def test_a_wrong_iteration_count_fails_the_check(self):
        p, _ = bench("kmeans_paper_e2e", 7)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        work = os.path.join(run.BUILD, "work", "kmeans_paper_e2e")
        with open(os.path.join(work, "check", "kmeans_paper_e2e.json")) as f:
            spec = json.load(f)
        self.assertEqual(run.checks.kmeans_paper_e2e(work, 7, True)[0], [])
        for key in ("jobs", "convergence"):
            with self.subTest(runs=key):
                tmp = os.path.join(run.BUILD, "work", "tampered", key)
                shutil.rmtree(tmp, ignore_errors=True)
                bad = json.loads(json.dumps(spec))
                bad[key][0]["iterations"] += 1
                os.makedirs(os.path.join(tmp, "check"))
                with open(os.path.join(tmp, "check", "kmeans_paper_e2e.json"), "w") as f:
                    json.dump(bad, f)
                fails, _ = run.checks.kmeans_paper_e2e(tmp, 7, True)
                self.assertTrue(any("iterations" in x for x in fails), fails)

    def test_python_inputs_depend_on_the_seed_alone(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in ("lloyd_large_k", "board_read", "lake_write"):
                made = []
                for i, seed in enumerate((3, 3, 4)):
                    out = os.path.join(tmp, w, str(i))
                    gen.generate(w, out, seed, True)
                    made.append(run.tree_digest(out))
                self.assertEqual(made[0], made[1], w)
                self.assertNotEqual(made[0], made[2], w)

    def test_without_program_sources_exits_nonzero_and_prints_no_result(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p, r = bench("board_read", 1, cwd=tmp,
                         script=os.path.join(tmp, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertIsNone(r)

    def test_tail_is_the_highest_percentile_with_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(run.tail_at(xs), (90.0, 90.0))
        self.assertEqual(run.tail_at(xs[:11]), (1.0, 100.0 / 11))
        self.assertEqual(run.tail_at([3.0, 1.0, 2.0]), (3.0, 100.0))


if __name__ == "__main__":
    unittest.main()
