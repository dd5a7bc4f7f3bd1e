"""Seeded-input test: the same seed gives byte-identical inputs, another
seed gives different ones, for every workload.

    python3 perfbench/test_gen.py
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(root):
    """sha256 over every file's relative path and bytes, with the
    directory's own absolute path masked out of the contents."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read().replace(root.encode(), b"<root>"))
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-gen-", dir=os.path.dirname(os.path.abspath(__file__)))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen(self, workload, seed, tag):
        out = os.path.join(self.tmp, tag)
        gen.generate(workload, seed, out)
        return digest(out)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a = self.gen(w, 11, f"{w}-a")
                b = self.gen(w, 11, f"{w}-b")
                c = self.gen(w, 12, f"{w}-c")
                self.assertEqual(a, b, f"{w}: seed 11 twice gave different inputs")
                self.assertNotEqual(a, c, f"{w}: seeds 11 and 12 gave the same inputs")


if __name__ == "__main__":
    unittest.main()
