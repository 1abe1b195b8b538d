"""The hdb_etl generator is a pure function of its seed and sizes."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_hdb  # noqa: E402

SIZES = dict(days=2, listings=40, dup_share=0.25, historical_rows=50,
             historical_files=2, historical_from_year=2021)


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GenHdbTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen_hdb.generate(7, a, **SIZES)
            gen_hdb.generate(7, b, **SIZES)
            names = [n for n in files(a) if n != "manifest.json"]
            self.assertEqual(names, [n for n in files(b)
                                     if n != "manifest.json"])
            match, mismatch, errors = filecmp.cmpfiles(a, b, names,
                                                       shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            ma = gen_hdb.generate(7, a, **SIZES)
            mb = gen_hdb.generate(8, b, **SIZES)
            self.assertNotEqual(ma["historical_digest"],
                                mb["historical_digest"])

    def test_manifest_counts_rows_and_dirty_formats(self):
        with tempfile.TemporaryDirectory() as a:
            m = gen_hdb.generate(7, a, **SIZES)
            self.assertEqual(m["rows"], {"propnex": 80, "srx": 80,
                                         "historical": 50})
            self.assertTrue(all(v > 0 for v in m["bytes"].values()))
            with open(m["days"][0]["propnex"], encoding="utf-8") as f:
                pn = f.read()
            with open(m["days"][0]["srx"], encoding="utf-8") as f:
                srx = f.read()
            self.assertIn('"price": "$', pn)
            self.assertIn(" sqft (", pn)
            self.assertIn('"agent_id": "CEA: R', srx)
            # planted duplicates collapse to one kept key each
            self.assertLess(m["days"][0]["scraped_rows"], 80)


if __name__ == "__main__":
    unittest.main()
