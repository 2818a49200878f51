#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root:

    python3 perfbench/test_perfbench.py

They start real runs (about three minutes in all on a 4-core host):
traced runs of every workload, whose counters must repeat exactly across
warm passes, and a corpus run against a deliberately wrong pinned digest,
which must count as a failure.
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class CountersRepeat(unittest.TestCase):
    """Counts taken from Spark's listeners must be identical in every
    warm pass: the same work gives the same jobs, tasks and bytes."""

    def check(self, workload, names):
        report, result = run("--workload", workload, "--seed", "7",
                             "--seconds", "1", "--trace", "1")
        self.assertTrue(result["correct"], report.get("failures"))
        self.assertEqual(result["failed"], 0)
        for name in names:
            values = report["counters"][name]
            self.assertGreaterEqual(len(values), 2, name)
            self.assertEqual(len(set(values)), 1, f"{name} differs across warm passes: {values}")
            self.assertGreater(values[0], 0, name)
        self.assertTrue(report["counters_repeat"], report["counters"])
        for m in result["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))

    def test_corpus(self):
        self.check("corpus", ["spark.jobs", "spark.tasks", "spark.shuffle_records",
                              "spark.shuffle_write_bytes"])

    def test_stream(self):
        self.check("stream", ["spark.jobs", "spark.tasks", "streaming.state_rows_updated"])

    def test_iterative(self):
        self.check("iterative", ["spark.jobs", "spark.tasks", "spark.shuffle_records",
                                 "damds.cg_iters"])


class WrongDigestFails(unittest.TestCase):
    def test_wrong_pinned_digest_counts_as_failed(self):
        with open(os.path.join(BENCH, "pinned_digests.json")) as f:
            pinned = json.load(f)
        first = sorted(pinned["corpus"])[0]
        right = list(pinned["corpus"][first])
        pinned["corpus"][first][1] ^= 1
        os.makedirs(OUT, exist_ok=True)
        with tempfile.NamedTemporaryFile("w", suffix=".json", dir=OUT, delete=False) as f:
            json.dump(pinned, f)
        try:
            report, result = run("--workload", "corpus", "--seed", "7", "--seconds", "1",
                                 "--trace", "0", "--pinned", f.name)
        finally:
            os.unlink(f.name)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(report["extra"]["failed_frac"]["value"], 0)
        self.assertTrue(all(first in x["op"] for x in report["failures"]), report["failures"])
        # the report carries the digest the run observed, which is the pinned one
        self.assertEqual(report["digests"][first], right)


class CompareRefusesOtherHosts(unittest.TestCase):
    def test_different_core_count_is_refused(self):
        os.makedirs(OUT, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=OUT) as d:
            for side, nproc in (("a", 4), ("b", 32)):
                os.mkdir(os.path.join(d, side))
                with open(os.path.join(d, side, "r.json"), "w") as f:
                    json.dump({"workload": "corpus", "trace": 0,
                               "host": {"nproc": nproc, "cpu_model": "x", "driver_heap": "4g",
                                        "spark_version": "4.1.2", "fixtures": "f"},
                               "end_to_end": {"warm_pass_s": {"value": 1.0, "unit": "s"}}}, f)
            p = subprocess.run([sys.executable, os.path.join(BENCH, "compare.py"),
                                os.path.join(d, "a", "*.json"), os.path.join(d, "b", "*.json")],
                               capture_output=True, text=True)
            self.assertEqual(p.returncode, 2, p.stdout + p.stderr)
            self.assertIn("refusing", p.stderr)


if __name__ == "__main__":
    unittest.main()
