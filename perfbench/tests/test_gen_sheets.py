"""Generator determinism and truth; run: python3 -m unittest discover -s perfbench/tests"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_sheets  # noqa: E402


class GenSheetsTest(unittest.TestCase):
    def gen(self, seed):
        d = tempfile.mkdtemp(prefix="perfbench_gen_")
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        return d, gen_sheets.generate(d, seed, files=6, rows=40)

    def test_same_seed_gives_byte_identical_files(self):
        a, ta = self.gen(7)
        b, tb = self.gen(7)
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        self.assertEqual(len(names), 12)  # a sheet and a template each
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(ta, tb)

    def test_other_seed_gives_other_files(self):
        a, _ = self.gen(7)
        b, _ = self.gen(8)
        _, mismatch, _ = filecmp.cmpfiles(a, b, sorted(os.listdir(a)), shallow=False)
        self.assertTrue(mismatch)

    def test_truth_matches_the_sheets(self):
        d, truth = self.gen(3)
        self.assertEqual(sum(t["quarantined"] for t in truth.values()),
                         gen_sheets.QUARANTINED)
        for name, t in truth.items():
            with open(os.path.join(d, name), encoding="utf-8") as f:
                lines = f.read().splitlines()
            data = lines[t["title_rows"] + 1:]
            self.assertEqual(len(data) * gen_sheets.MONTHS, t["cells"])
            na = sum(c.strip() in gen_sheets.NA_CELLS
                     for line in data for c in line.split(",")[2:])
            self.assertEqual(na / t["cells"] > gen_sheets.THRESHOLD, t["quarantined"])
            if not t["quarantined"]:
                self.assertEqual(t["rows"], t["cells"])
                self.assertGreater(t["amount_cents"], 0)


if __name__ == "__main__":
    unittest.main()
