"""Tests of the output checks and the input generator.

The Python transcription of a slow oracle statement is compared with DuckDB
running the statement itself on a small documents table with many planted
near-duplicates.  Run: python3 -m unittest discover perfbench
"""
import json
import os
import tempfile
import unittest

import duckdb
import numpy as np

import check
import gen


def _small_documents(con, n=240, seed=3):
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(gen.VOCAB, rng.integers(3, 60))) for _ in range(n)]
    for k in range(0, n - 1, 4):          # every fourth doc: a near or exact copy
        texts[k + 1] = texts[k] + (" dup" if k % 8 == 0 else "")
    texts[5] = "a b"                      # shorter than one shingle
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))


class TranscriptionTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.con = duckdb.connect()
        _small_documents(cls.con)
        with open(check.PORTED) as f:
            cls.sql = json.load(f)

    def _compare(self, name):
        cur = self.con.execute(self.sql[name])
        ocols, orows = [d[0] for d in cur.description], cur.fetchall()
        pcols, prows = check.TRANSCRIBED[name](self.con)
        self.assertIsNone(check.compare_rows(ocols, orows, pcols, prows))
        return prows

    def test_clusters_stars(self):
        rows = self._compare("q_docs_clusters_stars")
        self.assertLess(len({r[1] for r in rows}), len(rows))   # some docs were merged


class CompareTest(unittest.TestCase):
    def test_column_order_is_free_row_order_is_not(self):
        self.assertIsNone(check.compare_rows(["a", "b"], [(1, 2.0)], ["b", "a"], [(2.0 + 1e-12, 1)]))
        self.assertIn("row 0", check.compare_rows(["a"], [(1,), (2,)], ["a"], [(2,), (1,)]))
        self.assertIn("row count", check.compare_rows(["a"], [(1,)], ["a"], []))
        self.assertIn("columns", check.compare_rows(["a"], [(1,)], ["b"], [(1,)]))

    def test_etl_paths_are_replaced(self):
        sql = "SELECT * FROM read_csv('/x/y/trades.csv', header=true) JOIN read_csv('/x/y/counterparty_fills.csv')"
        self.assertEqual(check.etl_sql(sql, "in"),
                         "SELECT * FROM read_csv('in/trades.csv', header=true) JOIN read_csv('in/counterparty_fills.csv')")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.gen_trades(os.path.join(d, "a"), 11, 2000)
            b = gen.gen_trades(os.path.join(d, "b"), 11, 2000)
            c = gen.gen_trades(os.path.join(d, "c"), 12, 2000)

            def read(x):
                with open(os.path.join(d, x, "trades.csv")) as f:
                    return f.read()
            self.assertEqual(read("a"), read("b"))
            self.assertNotEqual(read("a"), read("c"))
            self.assertEqual(a["expected_metrics"], b["expected_metrics"])

    def test_planted_counts_hold_in_duckdb(self):
        """The CSVs hold exactly the planted rows, duplicates and cancellations
        (the other four counts are checked against Spark and DuckDB in every
        etl_trades run)."""
        with tempfile.TemporaryDirectory() as d:
            info = gen.gen_trades(d, 5, 3000)
            m = info["expected_metrics"]
            con = duckdb.connect()
            con.execute(f"CREATE VIEW t AS SELECT * FROM read_csv('{d}/trades.csv', header=true, all_varchar=true)")
            self.assertEqual(con.execute("SELECT count(*) FROM t").fetchone()[0], m["processedTrades"])
            self.assertEqual(con.execute("SELECT count(*) FROM (SELECT DISTINCT * FROM t)").fetchone()[0],
                             m["processedTrades"] - m["duplicateTrades"])
            self.assertEqual(con.execute(
                "SELECT count(*) FROM (SELECT DISTINCT * FROM t) WHERE trade_status = 'CANCELLED'").fetchone()[0],
                m["cancelledTrades"])


if __name__ == "__main__":
    unittest.main()
