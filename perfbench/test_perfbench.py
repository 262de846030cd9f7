#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

A tiny-scale run of every workload must parse and check out, a traced
run must report every per-layer metric, a wrong expected tile digest
must count its passes as failures, and span self time, the tail rule and
the isolation check must hold (perfbench.SelfTest).
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run as run_py  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace="0", expected=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", trace, "--scale", "tiny"]
    if expected:
        cmd += ["--expected", expected]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def test_every_workload_reports_every_end_to_end_metric(self):
        names = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        for w in (x["name"] for x in SPEC["workloads"]):
            with self.subTest(workload=w):
                res = run(w)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, names)
                self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_traced_run_reports_every_per_layer_metric(self):
        res = run("tile_rollup", trace="1")
        self.assertTrue(res["correct"])
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in SPEC["per_layer"]})
        self.assertGreater(res["metrics"]["TileStore.commit.jobs"]["value"], 0)

    def test_wrong_expected_digest_counts_as_failure(self):
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        key = "tile_rollup/200000"
        expected[key] = "0000000000000000:" + expected[key].split(":")[1]
        path = os.path.join(build.build_dir(ROOT), "wrong-expected.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(expected, f)
        res = run("tile_rollup", expected=path)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)


class SelfTest(unittest.TestCase):
    def test_span_self_time_tail_rule_and_isolation_check(self):
        out = build.build_dir(ROOT)
        os.makedirs(out, exist_ok=True)
        cp = build.build(ROOT, out)
        tmp = os.path.join(out, "selftest")
        os.makedirs(tmp, exist_ok=True)
        opens = [x for p in run_py.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        r = subprocess.run(["java", "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmp}",
                            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
