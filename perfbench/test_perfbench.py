#!/usr/bin/env python3
"""Self-test of the sink benchmark. Run from the root of a checkout:

    python3 perfbench/test_perfbench.py

It runs each workload at a tiny scale and expects every check to pass,
damages a landed table in two ways and expects the correctness gate to
fail, runs the launcher in a directory without the library sources and
expects it to refuse, and checks the trace reader's arithmetic.
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
import trace_report  # noqa: E402

TINY = {
    "ingest_bulk": ["rows_per_epoch=4000", "probe_rows=2000"],
    "ingest_trickle": ["warm_epochs=2", "probe_rows=2000"],
    "serve": ["epochs=3", "rows_per_epoch=1000", "lookups_per_cycle=6", "probe_rows=2000"],
    "dedup_stream": ["docs_per_epoch=100", "probe_rows=1000"],
}


def run(workload, *extra, cwd=ROOT, trace=0):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    for kv in TINY.get(workload, []):
        cmd += ["--set", kv]
    p = subprocess.run(cmd + list(extra), cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p.returncode, result, p.stderr


class TinyPasses(unittest.TestCase):
    def test_every_workload_passes_its_checks(self):
        for w in TINY:
            with self.subTest(workload=w):
                rc, res, err = run(w)
                self.assertEqual(rc, 0, err[-3000:])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["attempted"], 0)


class GateCanFail(unittest.TestCase):
    def test_deleted_manifest_trips_the_gate(self):
        rc, res, err = run("ingest_bulk", "--tamper", "manifest")
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn("CHECK FAILED: exactly-once jsonl", err)

    def test_duplicated_file_trips_the_gate(self):
        rc, res, err = run("ingest_trickle", "--tamper", "duplicate")
        self.assertNotEqual(rc, 0)
        self.assertIsNotNone(res, err[-3000:])
        self.assertFalse(res["correct"])
        self.assertIn("CHECK FAILED: exactly-once", err)


class RefusesWithoutSources(unittest.TestCase):
    def test_bare_benchmark_directory_exits_nonzero_without_result(self):
        bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target"))
            rc, res, _ = run("ingest_bulk", cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare)


class TraceReader(unittest.TestCase):
    def test_wall_split_sums_to_the_timed_wall(self):
        spans = [
            {"id": 1, "parent": 0, "trace": 1, "name": "workload", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "trace": 1, "name": "stream.trigger", "start_ms": 10, "end_ms": 90},
            {"id": 3, "parent": 2, "trace": 1, "name": "spark.job", "start_ms": 20, "end_ms": 80},
            {"id": 4, "parent": 3, "trace": 1, "name": "writer.task", "start_ms": 20, "end_ms": 60},
            {"id": 5, "parent": 3, "trace": 1, "name": "writer.task", "start_ms": 40, "end_ms": 80},
        ]
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as fh:
            fh.write(json.dumps({"meta": {}}) + "\n")
            for s in spans:
                fh.write(json.dumps(s) + "\n")
        try:
            rep = trace_report.summarize(fh.name)
        finally:
            os.unlink(fh.name)
        layers = rep["layers"]
        self.assertAlmostEqual(sum(v["wall_ms"] for v in layers.values()), 100.0)
        self.assertAlmostEqual(layers["harness"]["wall_ms"], 20.0)
        self.assertAlmostEqual(layers["stream"]["wall_ms"], 20.0)
        self.assertAlmostEqual(layers["writer"]["wall_ms"], 60.0)
        self.assertAlmostEqual(layers["writer"]["self_ms"], 80.0)
        self.assertAlmostEqual(layers["spark"]["self_ms"], 0.0)
        self.assertAlmostEqual(rep["coverage"], 0.8)


if __name__ == "__main__":
    unittest.main()
