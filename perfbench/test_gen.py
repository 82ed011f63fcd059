"""The generators are pure functions of the seed.

    python3 perfbench/test_gen.py

One seed gives byte-identical inputs twice; a second seed gives
different ones. Scratch output goes under `.bench_build/test_gen/`.
"""
import hashlib
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "test_gen")


def digest_tree(root):
    """relative path → sha256 of every file under `root`."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class SeededInputs(unittest.TestCase):
    def generate(self, workload, seed, tag):
        d = os.path.join(SCRATCH, f"{workload}-{seed}-{tag}")
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
        return digest_tree(d)

    def check(self, workload):
        a = self.generate(workload, 7, "a")
        b = self.generate(workload, 7, "b")
        c = self.generate(workload, 8, "a")
        self.assertTrue(a)
        self.assertEqual(a, b, "same seed must give byte-identical inputs")
        self.assertEqual(a.keys(), c.keys(), "file layout must not depend on the seed")
        differing = [k for k in a if a[k] != c[k]]
        # every data file (not just the manifest) moves with the seed
        self.assertGreater(len(differing), len(a) // 2, "another seed must give other inputs")

    def test_tables(self):
        self.check("flow_dashboard")

    def test_nfdump_csv(self):
        self.check("etl_service")

    def test_manifest_matches_files(self):
        d = os.path.join(SCRATCH, "manifest")
        shutil.rmtree(d, ignore_errors=True)
        m = gen.generate("etl_service", 3, d)
        for e in m["files"][:4]:
            path = f"{d}/staged/{e['phase']}/{e['watcher']}/{e['name']}"
            with open(path) as f:
                lines = f.read().splitlines()
            body = lines[1:-3]  # header, then the 3-line Summary footer
            self.assertEqual(lines[-3], "Summary")
            good = [l.split(",") for l in body if not l.startswith("not-a-timestamp")]
            self.assertEqual(len(good), e["rows"])
            self.assertEqual(sum(int(g[12]) for g in good), e["ibyt"])
            self.assertTrue(all(len(g) == 48 for g in good))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
