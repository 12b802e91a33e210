"""Each output check accepts a right answer and rejects a corrupted one.

Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import duckdb  # noqa: E402

ORDERS = [(1, 10, "O", 173665.47, "1996-01-02", "5-LOW"),
          (2, 78, "O", 46929.18, "1996-12-01", "1-URGENT"),
          (3, 123, "F", 193846.25, "1993-10-14", "5-LOW")]


class Fixture(unittest.TestCase):
    """A tiny fixture directory (one `orders` table, the other tables
    empty) and an engine-output directory, both written by DuckDB."""

    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")
        self.fixture = os.path.join(self.dir, "fixture")
        self.outputs = os.path.join(self.dir, "outputs")
        os.makedirs(self.fixture)
        con = duckdb.connect()
        rows = ", ".join(f"({k}, {c}, '{s}', {p}, TIMESTAMP '{d}', '{pr}')" for k, c, s, p, d, pr in ORDERS)
        con.execute(f"CREATE TABLE orders AS SELECT * FROM (VALUES {rows}) "
                    "t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)")
        for t in checks.TABLES:
            src = "orders" if t == "orders" else "(SELECT 1 AS x WHERE false)"
            con.execute(f"COPY (SELECT * FROM {src}) TO '{self.fixture}/{t}.parquet' (FORMAT parquet)")
        self.con = con

    def tearDown(self):
        shutil.rmtree(self.dir)

    def engine_output(self, name, sql):
        os.makedirs(os.path.join(self.outputs, name))
        self.con.execute(f"COPY ({sql}) TO '{self.outputs}/{name}/part-0.parquet' (FORMAT parquet)")


class CatalogCheck(Fixture):
    ORACLE = "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders GROUP BY 1"

    def check(self, engine_sql):
        self.engine_output("q", engine_sql)
        return checks.check({"kind": "catalog", "fixture": self.fixture, "outputs": self.outputs,
                             "programs": ["q"], "oracle": {"q": self.ORACLE}})

    def test_accepts_the_oracle_answer_in_another_row_and_column_order(self):
        self.assertEqual(self.check(
            "SELECT total, n, o_orderstatus FROM (" + self.ORACLE + ") ORDER BY n"), [])

    def test_accepts_float_noise_within_tolerance(self):
        self.assertEqual(self.check(
            "SELECT o_orderstatus, n, total * (1 + 1e-12) AS total FROM (" + self.ORACLE + ")"), [])

    def test_rejects_a_changed_value(self):
        wrong = self.check("SELECT o_orderstatus, n, total + 0.01 AS total FROM (" + self.ORACLE + ")")
        self.assertEqual(len(wrong), 1)
        self.assertIn("!= oracle", wrong[0])

    def test_rejects_a_missing_row(self):
        wrong = self.check("SELECT * FROM (" + self.ORACLE + ") WHERE o_orderstatus = 'O'")
        self.assertIn("1 rows != oracle 2", wrong[0])

    def test_rejects_a_duplicated_row_in_place_of_another(self):
        wrong = self.check("SELECT * FROM (" + self.ORACLE + ") WHERE o_orderstatus = 'O' "
                           "UNION ALL SELECT * FROM (" + self.ORACLE + ") WHERE o_orderstatus = 'O'")
        self.assertEqual(len(wrong), 1)

    def test_rejects_a_renamed_column(self):
        wrong = self.check("SELECT o_orderstatus, n AS cnt, total FROM (" + self.ORACLE + ")")
        self.assertIn("columns", wrong[0])

    def test_rejects_a_missing_output(self):
        wrong = checks.check({"kind": "catalog", "fixture": self.fixture, "outputs": self.outputs,
                              "programs": ["q"], "oracle": {"q": self.ORACLE}})
        self.assertIn("wrote no output", wrong[0])


class ServeCheck(Fixture):
    GOOD_BODY = json.dumps([{"o_orderkey": 2, "o_custkey": 78, "o_orderstatus": "O",
                             "o_totalprice": 46929.18, "o_orderdate": "1996-12-01T00:00:00.000Z",
                             "o_orderpriority": "1-URGENT"}])
    COINS = {"kind": "coins", "email": "b@x", "expected": 327.0,
             "reply": json.dumps([{"c_name": "b@x", "c_acctbal": 327.0}])}
    FEED = {"kind": "feed", "email": "w@x", "expected": ["600001-1000001-0-15001"],
            "reply": json.dumps([{"l_orderkey": 600001, "l_linenumber": 1000001}])}

    def check(self, body=GOOD_BODY, readbacks=(COINS, FEED)):
        return checks.check({"kind": "serve", "fixture": self.fixture, "readbacks": list(readbacks),
                             "point_reads": [{"o_orderkey": 2, "body": body}]})

    def test_accepts_right_replies(self):
        self.assertEqual(self.check(), [])

    def test_rejects_a_corrupted_point_read(self):
        body = self.GOOD_BODY.replace("46929.18", "46929.19")
        self.assertEqual(len(self.check(body=body)), 1)

    def test_rejects_a_point_read_of_another_day(self):
        body = self.GOOD_BODY.replace("1996-12-01", "1996-12-02")
        self.assertEqual(len(self.check(body=body)), 1)

    def test_rejects_a_point_read_with_a_missing_field(self):
        body = json.dumps([{k: v for k, v in json.loads(self.GOOD_BODY)[0].items() if k != "o_custkey"}])
        self.assertIn("fields", self.check(body=body)[0])

    def test_rejects_a_wrong_balance(self):
        coins = dict(self.COINS, reply=json.dumps([{"c_name": "b@x", "c_acctbal": 527.0}]))
        self.assertIn("coins of b@x", self.check(readbacks=(coins, self.FEED))[0])

    def test_rejects_a_submission_missing_from_its_feed(self):
        feed = dict(self.FEED, reply=json.dumps([{"l_orderkey": 600001, "l_linenumber": 1000002}]))
        self.assertIn("missing from the feed", self.check(readbacks=(self.COINS, feed))[0])


if __name__ == "__main__":
    unittest.main()
