"""Smoke run of all four workloads at a tiny scale (under a minute per
workload, most of it JVM and Spark start-up), untraced, and of ingest_mix
traced. Skipped when SPARK_HOME or graft's sources are missing."""
import io
import json
import os
import sys
import unittest
from contextlib import redirect_stdout

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402

ROOT = os.path.dirname(BENCH)


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@unittest.skipUnless(os.environ.get("SPARK_HOME")
                     and os.path.isdir(os.path.join(ROOT, "src", "main", "scala")),
                     "needs SPARK_HOME and graft's sources")
class Smoke(unittest.TestCase):
    def run_one(self, workload, trace):
        out = io.StringIO()
        with redirect_stdout(out):
            rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace), "--scale", "0.01"])
        last = json.loads(out.getvalue().strip().splitlines()[-1])
        self.assertEqual(rc, 0, out.getvalue())
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        return last["metrics"]

    def test_all_workloads(self):
        e2e = {m["name"] for m in benchmark()["end_to_end"]}
        for workload in ("point_reads", "large_log_reads", "ingest_mix", "dedup_pipeline"):
            with self.subTest(workload=workload):
                m = self.run_one(workload, 0)
                self.assertEqual(set(m), e2e)
                self.assertTrue(all(v["value"] > 0 for v in m.values()), m)

    def test_traced_run_reports_every_layer_metric(self):
        layer = {m["name"] for m in benchmark()["per_layer"]}
        m = self.run_one("ingest_mix", 1)
        self.assertTrue(layer <= set(m), layer - set(m))


if __name__ == "__main__":
    unittest.main()
