"""Smoke test of graft's benchmark.

    python3 perfbench/test_perfbench.py

Runs every workload once at its toy shape (--smoke), untraced and traced,
and asserts that the result line is well-formed and correct, that it holds
exactly the BENCHMARK.json metrics with their units, and that every
end-to-end metric is printed by name with its unit. Also checks that the
benchmark refuses to run, without a result, where the program's sources
are missing. Takes about four minutes on 4 vCPUs.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ROOT / "perfbench" / "run.py"
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ["allpairs_perm", "scores_dense", "linkjob_blocked"]
REPORTS_F1 = {"allpairs_perm", "linkjob_blocked"}
# printed on every run besides BENCHMARK.json's end-to-end metrics
PRINTED = {"failed_frac": "ratio"}


def bench(cwd, *args):
    return subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def check_run(self, workload, trace):
        r = bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", str(trace), "--smoke")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], lines)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        section = BENCH["end_to_end" if trace == 0 else "per_layer"]
        want = {m["name"]: m["unit"] for m in section}
        self.assertEqual(set(res["metrics"]), set(want))
        for name, unit in want.items():
            self.assertEqual(res["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(res["metrics"][name]["value"], (int, float), name)
        printed = {m["name"]: m["unit"] for m in BENCH["end_to_end"]} | PRINTED
        if workload in REPORTS_F1:
            printed["pairwise_f1"] = "ratio"
        for name, unit in printed.items():
            line = next((l for l in lines if l.startswith(f"{name} = ")), None)
            self.assertIsNotNone(line, f"{workload}: {name} not printed")
            self.assertIn(f" {unit}", line)
        return res

    def test_every_workload_traced_and_untraced(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check_run(w, trace)

    def test_refuses_without_program_sources(self):
        bare = ROOT / ".bench_build" / "perfbench" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = bench(bare, "--workload", "allpairs_perm", "--seed", "1",
                  "--seconds", "1", "--trace", "0")
        shutil.rmtree(bare)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
