"""The generator is a pure function of (workload, seed): the same seed
gives an identical op log and byte-identical inputs, another seed gives
a different op log and different inputs.

    python3 -m unittest discover -s perfbench/tests -p 'test_gen.py'
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def snapshot(workload, seed, seconds=2):
    """(op log, {relative path: sha256 of the file}) of one generation."""
    with tempfile.TemporaryDirectory() as d:
        ops = gen.generate(workload, seed, d, seconds)
        digests = {}
        for base, _, files in os.walk(d):
            for f in files:
                p = os.path.join(base, f)
                with open(p, "rb") as fh:
                    digests[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
        with open(os.path.join(d, "oplog.json")) as fh:
            assert json.load(fh) == ops
    return ops, digests


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_ops_and_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(snapshot(w, 7), snapshot(w, 7))

    def test_other_seed_other_ops_and_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                (ops_a, files_a), (ops_b, files_b) = snapshot(w, 7), snapshot(w, 8)
                self.assertNotEqual(ops_a, ops_b)
                self.assertEqual(files_a.keys(), files_b.keys())
                inputs = [f for f in files_a if f != "oplog.json"]
                self.assertTrue(inputs)
                for f in inputs:
                    self.assertNotEqual(files_a[f], files_b[f], f)

    def test_op_mix_is_fixed_per_cycle(self):
        # only the order depends on the seed: every cycle holds the same
        # op kinds for every seed, and the log is a run of whole cycles
        def cycles(workload, seed):
            with tempfile.TemporaryDirectory() as d:
                ops = gen.generate(workload, seed, d, 2)
            out = {}
            for o in ops:
                out.setdefault(o["cycle"], []).append(o["kind"])
            self.assertEqual([o["cycle"] for o in ops], sorted(o["cycle"] for o in ops))
            return [sorted(k) for k in out.values()]
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, b = cycles(w, 1), cycles(w, 2)
                self.assertGreater(len(a), 1)
                self.assertEqual(a, b)
                self.assertTrue(all(k == a[0] for k in a))

    def test_keys_are_unique_across_sources(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("wh_ingest", 3, d, 2)
            import pyarrow.parquet as pq
            keys = []
            for f in ("base", "batches"):
                t = pq.read_table(f"{d}/{f}.parquet")
                keys += zip(t["l_orderkey"].to_pylist(), t["l_linenumber"].to_pylist())
            self.assertEqual(len(keys), len(set(keys)))


if __name__ == "__main__":
    unittest.main()
