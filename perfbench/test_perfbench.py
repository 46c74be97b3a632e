#!/usr/bin/env python3
"""The benchmark's own tests, at a tiny input scale.

    python3 perfbench/test_perfbench.py

For every workload: two traced runs of one seed with a fixed operation
count must agree exactly on the single-client counts (segments read,
records decoded, bytes written, listing calls, op-sequence checksum),
every answer must check, and the result line must carry exactly the
metric names BENCHMARK.json declares. Also checks that the benchmark
refuses to run without the engine's sources.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SCALE = "0.001"
OPS = "16"


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace, seed=7, runner=os.path.join(HERE, "run.py")):
    out = subprocess.run([sys.executable, runner, "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--trace", str(trace), "--scale", SCALE, "--ops", OPS],
                         capture_output=True, text=True, timeout=600)
    return out


def parse(out):
    lines = out.stdout.strip().splitlines()
    tagged = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in lines[:-1] if " " in l}
    return json.loads(lines[-1]), tagged


class PerfBenchTest(unittest.TestCase):

    def test_traced_counts_repeat_exactly(self):
        names = [m["name"] for m in spec()["per_layer"]]
        for w in [x["name"] for x in spec()["workloads"]]:
            with self.subTest(workload=w):
                first, second = run(w, 1), run(w, 1)
                self.assertEqual(first.returncode, 0, first.stderr[-2000:])
                self.assertEqual(second.returncode, 0, second.stderr[-2000:])
                (r1, t1), (r2, t2) = parse(first), parse(second)
                for r, t in ((r1, t1), (r2, t2)):
                    self.assertTrue(r["correct"], t.get("failures"))
                    self.assertEqual(r["failed"], 0)
                    self.assertGreater(r["attempted"], 0)
                    self.assertEqual(sorted(r["metrics"]), sorted(names))
                self.assertEqual(json.loads(t1["determinism"]), json.loads(t2["determinism"]))

    def test_untraced_prints_every_end_to_end_metric(self):
        names = [m["name"] for m in spec()["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        for w in [x["name"] for x in spec()["workloads"]]:
            with self.subTest(workload=w):
                out = run(w, 0)
                self.assertEqual(out.returncode, 0, out.stderr[-2000:])
                r, tagged = parse(out)
                self.assertTrue(r["correct"], tagged.get("detail"))
                self.assertEqual(sorted(r["metrics"]), sorted(names))
                for k, v in r["metrics"].items():
                    self.assertEqual(v["unit"], units[k])
                    self.assertGreater(v["value"], 0, k)
                self.assertIn("nproc", json.loads(tagged["host"]))

    def test_refuses_without_engine_sources(self):
        lone = os.path.join(HERE, "work", "lone")
        shutil.rmtree(lone, ignore_errors=True)
        os.makedirs(os.path.join(lone, "perfbench"))
        shutil.copy(os.path.join(HERE, "run.py"), os.path.join(lone, "perfbench", "run.py"))
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), lone)
        try:
            out = run("kv_point", 0, runner=os.path.join(lone, "perfbench", "run.py"))
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout.strip(), "")
        finally:
            shutil.rmtree(lone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
