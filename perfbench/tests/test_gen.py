"""Seeded-generator contract: the same seed gives byte-identical inputs,
another seed gives other ones, and the recorded sizes match the files.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build")


def digest(root):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=SCRATCH)

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, workload, seed, tag):
        out = os.path.join(self.tmp.name, tag)
        return out, gen.generate(WORKLOADS[workload]["tables"], seed, out, nproc=4)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, sa = self.gen(w, 7, w + "-a")
                b, sb = self.gen(w, 7, w + "-b")
                c, _ = self.gen(w, 8, w + "-c")
                self.assertEqual(digest(a), digest(b))
                self.assertEqual(sa, sb)
                self.assertNotEqual(digest(a), digest(c))

    def test_recorded_sizes_match_files(self):
        for w in WORKLOADS:
            out, stats = self.gen(w, 3, w)
            for table, st in stats.items():
                with self.subTest(workload=w, table=table):
                    path = gen.table_glob(out, table)
                    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
                    self.assertEqual(st["rows"], n)
                    self.assertEqual(st["rows"], WORKLOADS[w]["tables"][table]["rows"])
                    self.assertGreater(st["bytes"], 0)

    def test_fixture_ranges_the_queries_assume(self):
        out, _ = self.gen("tsdb_reads", 5, "reads")
        ev = gen.table_glob(out, "events")
        lo, hi, nans, types, series = duckdb.sql(f"""
            SELECT min(ts), max(ts), count(*) FILTER (WHERE isnan(value)),
                   count(DISTINCT event_type),
                   count(DISTINCT event_type || '_' || user_id) FILTER (WHERE
                     event_type || '_' || user_id IN ('click_7', 'purchase_41', 'signup_78'))
            FROM read_parquet('{ev}')""").fetchone()
        self.assertEqual((lo.year, lo.month, hi.year, hi.month), (2024, 1, 2024, 1))
        self.assertEqual((nans, types, series), (0, 5, 3))
        out, _ = self.gen("corpus_pipeline", 5, "corpus")
        docs = gen.table_glob(out, "documents")
        ids, dups = duckdb.sql(f"""
            SELECT max(doc_id), count(*) - count(DISTINCT text)
            FROM read_parquet('{docs}')""").fetchone()
        self.assertGreaterEqual(ids, 440)   # the incremental-chain cuts
        self.assertGreater(dups, 0)         # planted exact duplicates


if __name__ == "__main__":
    unittest.main()
