"""Unit tests of lakebench's metric arithmetic.

Run from the repository root: python3 -m unittest discover -s lakebench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import report  # noqa: E402


def span(id_, parent, name, start, end, op="op-1"):
    return {"id": id_, "parent": parent, "op": op, "name": name,
            "start_ns": start, "end_ns": end}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(report.tail_percentile(19))
        self.assertEqual(report.tail_percentile(20), 50.0)
        self.assertEqual(report.tail_percentile(39), 50.0)
        self.assertEqual(report.tail_percentile(40), 75.0)
        self.assertEqual(report.tail_percentile(100), 90.0)
        self.assertEqual(report.tail_percentile(199), 90.0)
        self.assertEqual(report.tail_percentile(200), 95.0)
        self.assertEqual(report.tail_percentile(1000), 99.0)

    def test_timing_reports_the_sample_count(self):
        t = report.timing([float(i) for i in range(1, 41)])
        self.assertEqual(t["n"], 40)
        self.assertEqual(t["p50"], 20.5)
        self.assertEqual(t["tail_p"], 75.0)
        self.assertAlmostEqual(t["tail"], 30.25)
        self.assertNotIn("tail", report.timing([1.0, 2.0, 3.0]))

    def test_linear_interpolation(self):
        self.assertEqual(report.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(report.percentile([5], 95), 5)
        self.assertEqual(report.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(report.percentile([4, 1, 3, 2], 100), 4)


class SelfTimes(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, "op.read", 0, 100),
                 span(2, 1, "log_segment", 10, 20),
                 span(3, 1, "skipping", 30, 70),
                 span(4, 3, "fs.open", 40, 50)]
        st = report.self_times(spans)
        self.assertEqual(st, {1: 50, 2: 10, 3: 30, 4: 10})
        self.assertEqual(sum(st.values()), 100)

    def test_children_are_clipped_to_their_parent(self):
        spans = [span(1, 0, "op.read", 0, 100),
                 span(2, 1, "execute", 50, 100),
                 span(3, 2, "spark.job", 40, 120)]
        st = report.self_times(spans)
        self.assertEqual(st, {1: 50, 2: 0, 3: 50})

    def test_overlapping_siblings_still_partition_the_op(self):
        spans = [span(1, 0, "op.read", 0, 100),
                 span(2, 1, "spark.job", 10, 60),
                 span(3, 1, "spark.job", 40, 80)]
        st = report.self_times(spans)
        self.assertEqual(st[1], 30)
        self.assertEqual(st[2] + st[3], 70)
        self.assertEqual(sum(st.values()), 100)

    def test_external_spans_attach_to_the_innermost_container(self):
        spans = [span(1, 0, "op.read", 0, 100),
                 span(2, 1, "execute", 20, 90),
                 span(3, -1, "spark.job", 30, 60),
                 span(4, -1, "catalyst.planning", 25, 28, op=None),
                 span(5, -1, "spark.job", 500, 600, op="op-2")]
        attached = {s["id"]: s for s in report.attach_external(spans)}
        self.assertEqual(attached[3]["parent"], 2)
        self.assertEqual(attached[4]["parent"], 2)
        self.assertEqual(attached[4]["op"], "op-1")
        self.assertNotIn(5, attached)

    def test_layer_self_ms_adds_up_to_the_op_wall(self):
        spans = [span(1, 0, "op.read", 0, 4_000_000),
                 span(2, 1, "replay.meta", 0, 1_000_000),
                 span(3, 1, "execute", 1_000_000, 4_000_000),
                 span(4, -1, "spark.job", 2_000_000, 3_000_000),
                 span(5, 0, "op.read", 10_000_000, 12_000_000, op="op-2")]
        layers, wall = report.layer_self_ms(spans)
        self.assertEqual(wall, 3.0)
        self.assertAlmostEqual(sum(layers.values()), wall)
        self.assertAlmostEqual(layers["replay"], 0.5)
        self.assertAlmostEqual(layers["spark_jobs"], 0.5)
        self.assertAlmostEqual(layers["unaccounted"], 1.0)


class Metrics(unittest.TestCase):
    def result(self):
        ops = [{"kind": "read", "ms": float(m), "cpu_ms": m / 2.0, "ok": True,
                "traced": False, "client": 0, "i": i, "id": f"read-0-{i}"}
               for i, m in enumerate([10, 20, 30])]
        ops.append({"kind": "read", "ms": 99.0, "cpu_ms": 1.0, "ok": False, "traced": False,
                    "client": 0, "i": 3, "id": "read-0-3"})
        return {"ops": ops, "measure_s": 2.0, "setup_s": [3.0, 1.0, 2.0],
                "setup_cpu_s": [1.5, 0.5, 1.0],
                "live_heap_mb": 100.0,
                "checks": {"op_failed": 1, "op_checks": 3, "run_checks": 0,
                           "run_failed": 0, "failures": []}}

    def test_end_to_end_uses_successful_ops_and_the_setup_median(self):
        # setup_s: median set-up CPU time; op_cpu_ms: median CPU time of
        # the successful reads
        m = report.end_to_end("point_reads", self.result())
        self.assertEqual(m["setup_s"], (1.0, "s"))
        self.assertEqual(m["op_cpu_ms"], (10.0, "ms"))
        self.assertEqual(set(m), {"setup_s", "op_cpu_ms", "live_heap_mb"})
        self.assertEqual(report.median_op_ms("point_reads", self.result()), 20.0)

    def test_pipeline_pass_is_the_sum_of_stage_medians(self):
        ops = [{"kind": q, "ms": ms, "cpu_ms": 2 * ms, "ok": True, "traced": False,
                "pass": p, "client": 0, "i": 0, "id": f"{q}-{p}"}
               for p, times in enumerate([(10.0, 100.0), (12.0, 300.0), (11.0, 110.0)])
               for q, ms in zip(("q_a", "q_b"), times)]
        res = {"ops": ops, "setup_s": [1.0], "setup_cpu_s": [0.5], "live_heap_mb": 1.0}
        m = report.end_to_end("dedup_pipeline", res)
        self.assertEqual(m["op_cpu_ms"], (2 * (11.0 + 110.0), "ms"))
        self.assertEqual(report.median_op_ms("dedup_pipeline", res), 11.0 + 110.0)

    def test_ingest_op_cpu_pools_every_client_over_completed_ops(self):
        # a merge that retried (60 CPU ms) and a failed append count in the
        # CPU total; only the completed ops count in the denominator
        ops = [{"kind": k, "ms": 1.0, "cpu_ms": c, "ok": ok, "client": cl}
               for k, c, ok, cl in (("read", 10.0, True, 3), ("read", 20.0, True, 3),
                                    ("append", 30.0, True, 1), ("append", 5.0, False, 1),
                                    ("merge", 60.0, True, 2))]
        res = {"ops": ops, "setup_cpu_s": [1.0], "live_heap_mb": 1.0}
        m = report.end_to_end("ingest_mix", res)
        self.assertEqual(m["op_cpu_ms"], (125.0 / 4, "ms"))

    def test_failed_share_counts_raised_ops_and_failed_checks(self):
        named = report.named_metrics("point_reads", self.result(), {})
        self.assertEqual(named["failed_share"], (0.5, "ratio"))


if __name__ == "__main__":
    unittest.main()
