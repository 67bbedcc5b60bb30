"""The load generator's framing against the shipped server (ServerMain,
run in-process by the Shipped harness) on the sf0.001 tables, with
answers checked against DuckDB. Builds the harness on first use."""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import pgclient  # noqa: E402
import run  # noqa: E402
import wire  # noqa: E402

DATA = os.path.expanduser("~/testdata/sf0.001")


@unittest.skipUnless(os.path.isdir(DATA), "needs the sf0.001 tables")
class FramingTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.WORK = os.path.join(HERE, ".work", "test-framing")
        os.makedirs(run.WORK, exist_ok=True)
        cls.port = run.free_port()
        cls.jvm = run.Jvm("perfbench.Shipped", [cls.port, DATA], run.build(), "server")
        run.wait_listening(cls.jvm, cls.port)
        cls.duck = wire.duck(DATA)
        cls.conn = pgclient.Conn(cls.port)

    @classmethod
    def tearDownClass(cls):
        cls.conn.close()
        run.Jvm.kill_all()

    def count(self, table):
        return self.duck.execute("SELECT count(*) FROM %s" % table).fetchone()[0]

    def test_simple_query_decodes_rows_and_types(self):
        sql = "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"
        res = self.conn.query(sql, decode=True)
        self.assertIsNone(res.error)
        self.assertEqual(res.names, ["n_nationkey", "n_name", "n_regionkey"])
        self.assertEqual(res.oids[0], 23)
        self.assertEqual(wire.wire_rows(res), wire.duck_rows(self.duck, sql))
        self.assertEqual(res.tag, "SELECT %d" % res.nrows)

    def test_extended_query_binds_text_parameter(self):
        sql = "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = $1"
        res = self.conn.extended(sql, (7,), decode=True)
        self.assertIsNone(res.error)
        self.assertEqual(wire.wire_rows(res),
                         wire.duck_rows(self.duck, sql.replace("$1", "7")))

    def test_binary_rows_paged_by_execute_limit(self):
        res = self.conn.extended("SELECT l_orderkey, l_linenumber FROM lineitem",
                                 result_format=1, max_rows=1000)
        self.assertIsNone(res.error)
        self.assertEqual(res.nrows, self.count("lineitem"))
        # DataRow: type, length, field count; bigint and int fields with length words
        self.assertEqual(res.nbytes, res.nrows * (1 + 4 + 2 + (4 + 8) + (4 + 4)))

    def test_copy_to_stdout_counts_rows(self):
        res = self.conn.query("COPY orders TO STDOUT")
        self.assertIsNone(res.error)
        self.assertEqual(res.nrows, self.count("orders"))
        self.assertEqual(res.tag, "COPY %d" % res.nrows)

    def test_copy_from_stdin_then_read_back(self):
        self.assertIsNone(self.conn.query(
            "CREATE TABLE framing_copy (a BIGINT, b STRING) USING parquet").error)
        res = self.conn.copy_in("COPY framing_copy FROM STDIN", b"1\tx\n2\t\\N\n3\tz\n")
        self.assertIsNone(res.error)
        self.assertEqual(res.tag, "COPY 3")
        back = self.conn.query("SELECT a, b FROM framing_copy ORDER BY a", decode=True)
        self.assertEqual(back.rows, [["1", "x"], ["2", None], ["3", "z"]])

    def test_error_response_leaves_connection_usable(self):
        res = self.conn.query("SELECT * FROM no_such_table")
        self.assertEqual(res.error[0], "42P01")
        self.assertEqual(self.conn.query("select 1", decode=True).rows, [["1"]])


if __name__ == "__main__":
    unittest.main()
