"""The generator is a pure function of (workload, seed): one seed gives
byte-identical inputs, another seed gives different ones.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build")


def digest(root):
    """{relative path: sha256} of every file under root."""
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        os.makedirs(SCRATCH, exist_ok=True)
        for workload in ("phoenix_text", "dedup_batch", "trickle_publish"):
            with self.subTest(workload=workload), \
                    tempfile.TemporaryDirectory(dir=SCRATCH) as tmp:
                a, b, c = (os.path.join(tmp, x) for x in "abc")
                pa_ = gen.generate(workload, 7, a)
                pb = gen.generate(workload, 7, b)
                gen.generate(workload, 8, c)
                da, db, dc = digest(a), digest(b), digest(c)
                self.assertTrue(da)
                self.assertEqual(da, db)
                self.assertEqual(pa_, pb)
                self.assertEqual(set(da), set(dc))
                self.assertTrue(all(da[k] != dc[k] for k in da
                                    if not k.endswith("manifest.json")))

    def test_properties_are_measured(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as tmp:
            p = gen.generate("trickle_publish", 3, tmp)
            self.assertGreater(p["out_of_order_share"], 0.05)
            self.assertGreater(p["vec_near_dup_share"], 0.0)
            t = gen.generate("phoenix_text", 3, os.path.join(tmp, "t"))
            self.assertGreater(t["zipf_skew"], 0.8)


if __name__ == "__main__":
    unittest.main()
