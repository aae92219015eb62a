"""Seeded generators: the same seed gives the same inputs, another seed a
different op sequence of the same sizes."""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402


def plan(workload, seed, work):
    params = run.params_for(workload, 0.01)
    inputs, ops = gen.make_plan(workload, seed, work, params)
    return params, inputs, ops


def sizes(x):
    if isinstance(x, dict):
        return {k: sizes(v) for k, v in x.items()}
    if isinstance(x, list):
        return len(x)
    return None


class Generators(unittest.TestCase):
    def test_seeds(self):
        for workload in ("point_reads", "ingest_mix", "dedup_pipeline"):
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as d:
                _, in1, ops1 = plan(workload, 1, os.path.join(d, "a"))
                _, _, again = plan(workload, 1, os.path.join(d, "b"))
                _, _, ops2 = plan(workload, 2, os.path.join(d, "c"))
                self.assertEqual(json.dumps(ops1), json.dumps(again))
                self.assertEqual(sizes(ops1), sizes(ops2))
                if workload != "dedup_pipeline":  # its op list is the fixed stage order
                    self.assertNotEqual(json.dumps(ops1), json.dumps(ops2))
                for path in (p for v in in1.values() for p in (v if isinstance(v, list) else [v])):
                    self.assertTrue(os.path.isfile(path), path)

    def test_inputs_depend_on_the_seed(self):
        import numpy as np
        a = gen.documents(np.random.default_rng(1), 50).column("text").to_pylist()
        b = gen.documents(np.random.default_rng(1), 50).column("text").to_pylist()
        c = gen.documents(np.random.default_rng(2), 50).column("text").to_pylist()
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_read_keys_exist_at_the_version_read(self):
        import numpy as np
        ops = gen.read_ops(np.random.default_rng(3), 500, commits=15, keys_per_batch=100)
        for o in ops:
            top = (o["v"] + 1 if o["v"] >= 0 else 15) * 100
            self.assertTrue(1 <= o["lo"] <= top)
            self.assertTrue(o["v"] == -1 or 1 <= o["v"] <= 13)


if __name__ == "__main__":
    unittest.main()
