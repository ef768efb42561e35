"""The benchmark's own test: the command's last stdout line is bare JSON with
exactly `correct`, `attempted`, `failed`, `metrics`, naming every metric of
BENCHMARK.json with its unit, for every workload in both modes; and outside a
checkout the command fails without printing a result.

    python3 perfbench/test_bench.py            # from the root of a checkout

Each workload runs twice for a few seconds, after the build the first run
does (minutes on a fresh checkout).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(cwd, workload, trace, seconds=3, seed=7):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class FinalLine(unittest.TestCase):
    def check(self, workload, trace):
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(last["attempted"], int)
        self.assertIsInstance(last["failed"], int)
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertTrue(last["correct"], p.stdout.strip().splitlines()[-2][:2000])
        wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = last["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_workloads(self):
        for w in BENCH["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)


class OutsideCheckout(unittest.TestCase):
    def test_fails_without_sources(self):
        bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in BENCH["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = run(bare, BENCH["workloads"][0]["name"], 0)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    unittest.main(argv=sys.argv[:1] + sys.argv[1:])
