"""Tests of the benchmark itself.

    python3 -m unittest graftbench/test_bench.py      (from the repository root)

They check that the workload inputs are a function of the seed alone, and
that a run draws every input before its first timed op: the generator is
sealed when set-up starts and refuses any later draw, and the digest a full
run reports equals the digest of generating the inputs on their own.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
RUN = HERE / "run.py"
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("cdc_merge", "sql_read", "dedup_batch")


def run(*args):
    out = subprocess.run([sys.executable, str(RUN), *args], capture_output=True, text=True,
                         timeout=600, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def digest(workload, seed, seconds=10):
    return run("--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--digest")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_inputs(self):
        for w in WORKLOADS:
            self.assertEqual(digest(w, 7)["digest"], digest(w, 7)["digest"], w)

    def test_other_seed_gives_other_inputs(self):
        for w in WORKLOADS:
            self.assertNotEqual(digest(w, 7)["digest"], digest(w, 8)["digest"], w)

    def test_sealed_generator_refuses_draws(self):
        for w in WORKLOADS:
            self.assertTrue(digest(w, 7)["draw_after_seal_refused"], w)


class RunTest(unittest.TestCase):
    def test_run_consumes_the_generated_inputs_and_passes_its_checks(self):
        seconds = 1
        result = run("--workload", "sql_read", "--seed", "7", "--seconds", str(seconds),
                     "--trace", "0")
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        record = build.build_dir() / "runs" / "sql_read-s7-t0" / "result.json"
        self.assertEqual(json.loads(record.read_text())["digest"],
                         digest("sql_read", 7, seconds)["digest"])


if __name__ == "__main__":
    unittest.main()
