"""Tests of the seeded disjoint-shard input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

import gen
import run

SF = 0.002


def read(d, name):
    path = os.path.join(d, f"{name}.parquet")
    t = pq.read_table(path) if os.path.isfile(path) else pq.ParquetDataset(path).read()
    return t.sort_by([(c, "ascending") for c in t.column_names])


class ExpandTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.base = gen.base_tables(7, SF)

    def test_factor_one_keep_all_reproduces_base(self):
        with tempfile.TemporaryDirectory() as d:
            gen.expand(self.base, 1, 1.0, 7, d)
            for name in gen.TABLES:
                want = self.base[name]
                want = want.sort_by([(c, "ascending") for c in want.column_names])
                self.assertTrue(read(d, name).equals(want), name)

    def test_joins_stay_one_to_one_at_factor_k(self):
        with tempfile.TemporaryDirectory() as d:
            gen.expand(self.base, 4, 0.8, 7, d)
            con = duckdb.connect()
            for t in gen.TABLES:
                src = os.path.join(d, f"{t}.parquet")
                src = f"{src}/*.parquet" if os.path.isdir(src) else src
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
            q = lambda s: con.execute(s).fetchone()[0]
            n_line = q("SELECT count(*) FROM lineitem")
            self.assertGreater(n_line, 0)
            for fact, dim, on in [
                    ("lineitem", "orders", "l_orderkey = o_orderkey"),
                    ("lineitem", "part", "l_partkey = p_partkey"),
                    ("lineitem", "supplier", "l_suppkey = s_suppkey"),
                    ("orders", "customer", "o_custkey = c_custkey"),
                    ("customer", "nation", "c_nationkey = n_nationkey")]:
                n_fact = q(f"SELECT count(*) FROM {fact}")
                matches = q(f"SELECT count(*) FROM {fact} JOIN {dim} ON {on}")
                self.assertEqual(matches, n_fact, f"{fact}->{dim}")
            for t, k in [("orders", "o_orderkey"), ("customer", "c_custkey"),
                         ("documents", "doc_id"), ("events", "event_id")]:
                self.assertEqual(q(f"SELECT count(DISTINCT {k}) FROM {t}"),
                                 q(f"SELECT count(*) FROM {t}"), t)
            self.assertEqual(q("SELECT count(*) FROM customer"),
                             4 * self.base["customer"].num_rows)

    def test_same_seed_same_rows(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.expand(gen.base_tables(3, SF), 3, 0.7, 3, a)
            gen.expand(gen.base_tables(3, SF), 3, 0.7, 3, b)
            gen.expand(gen.base_tables(4, SF), 3, 0.7, 4, c)
            for name in gen.TABLES:
                self.assertTrue(read(a, name).equals(read(b, name)), name)
            self.assertFalse(read(a, "lineitem").equals(read(c, "lineitem")))

    def test_change_batch_is_seeded(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(gen.write_changes(self.base, 2, 5, a),
                             gen.write_changes(self.base, 2, 5, b))
            for name in ("customer", "supplier", "part"):
                self.assertTrue(read(a, name).equals(read(b, name)), name)


class RunDirTest(unittest.TestCase):
    def test_run_dir_is_removed_even_on_failure(self):
        with tempfile.TemporaryDirectory() as parent:
            with self.assertRaises(RuntimeError):
                with run.run_dir(parent, "t") as d:
                    gen.write_single(gen.base_tables(1, SF), os.path.join(d, "data"))
                    self.assertTrue(os.listdir(d))
                    raise RuntimeError("boom")
            self.assertEqual(os.listdir(parent), [])


if __name__ == "__main__":
    unittest.main()
