"""The three wire workloads (interactive, export, ingest) and their checks.

Each workload is a closed loop: a connection sends its next statement only
after the previous one's ReadyForQuery. Statements come from the seed alone.
Expected answers come from DuckDB over the same parquet files and are
computed before the server starts, outside any timed window.
"""
import random
import threading
import time

import pgclient
from pgclient import ConnectionLost
from stats import Op

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

INT_OIDS = {20, 21, 23}
FLOAT_OIDS = {700, 701, 1700}


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def norm_value(v):
    """A DuckDB value in the form `norm_text` gives the same wire value."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float) or type(v).__name__ == "Decimal":
        return "%.9g" % float(v)
    return str(v)


def norm_text(v, oid):
    """A text-format wire value, normalized as tools/check.py does."""
    if v is None:
        return "NULL"
    if oid in INT_OIDS:
        return str(int(v))
    if oid in FLOAT_OIDS:
        return "%.9g" % float(v)
    return v


def wire_rows(res):
    return sorted(tuple(norm_text(v, o) for v, o in zip(r, res.oids)) for r in res.rows)


def duck_rows(con, sql):
    return sorted(tuple(norm_value(v) for v in r) for r in con.execute(sql).fetchall())


def run_op(log, kind, conn, phase, fn, check=None, label=None):
    """Time one statement; record it as failed on an error response, a
    wrong answer, or a connection lost mid-statement (then re-raised so
    the caller reconnects)."""
    op = Op(kind, time.perf_counter(), time.time(), conn.pid if conn else None, phase)
    op.label = label or kind
    try:
        res = fn()
    except (ConnectionLost, OSError) as e:
        op.t1, op.wall1 = time.perf_counter(), time.time()
        op.why = "connection lost: %s" % e
        log.add(op)
        raise ConnectionLost(str(e))
    op.t1, op.wall1 = time.perf_counter(), time.time()
    if kind in ("write", "copy_in") and res.tag and res.tag.split()[-1].isdigit():
        op.changed = int(res.tag.split()[-1])
    op.rows = res.nrows + op.changed
    op.first_row = res.first_row
    op.why = ("error %s %s" % res.error) if res.error else (check(res) if check else None)
    op.ok = op.why is None
    log.add(op)
    return res


def connect(log, port, phase):
    """Socket open through the first `select 1`: the server sends
    ReadyForQuery before it builds the per-connection session, so the
    handshake alone would hide that cost."""
    op = Op("connect", time.perf_counter(), time.time(), None, phase)
    try:
        conn = pgclient.Conn(port)
        res = conn.query("select 1", decode=True)
    except (ConnectionLost, OSError) as e:
        op.t1, op.wall1 = time.perf_counter(), time.time()
        op.why = "connection lost: %s" % e
        log.add(op)
        return None
    op.t1, op.wall1 = time.perf_counter(), time.time()
    op.conn = conn.pid
    op.rows = res.nrows
    op.why = ("error %s %s" % res.error) if res.error else (
        None if res.rows == [["1"]] else "select 1 returned %r" % res.rows)
    op.ok = op.why is None
    log.add(op)
    return conn if op.ok else None


def run_threads(fns):
    errors = []

    def wrap(f):
        try:
            f()
        except Exception as e:  # a harness bug, not a server failure
            errors.append(e)
    ts = [threading.Thread(target=wrap, args=(f,)) for f in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errors:
        raise errors[0]


# ---------------------------------------------------------------- interactive

PSQL_DT = """SELECT n.nspname as "Schema",
  c.relname as "Name",
  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
WHERE c.relkind IN ('r','p','v','m','S','f','')
      AND n.nspname <> 'pg_catalog'
      AND n.nspname !~ '^pg_toast'
      AND n.nspname <> 'information_schema'
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 1,2;"""


class Read:
    """One read statement with its expected answer."""
    __slots__ = ("kind", "sql", "params", "oracle", "expected")

    def __init__(self, kind, sql, params=(), oracle=None):
        self.kind, self.sql, self.params = kind, sql, params
        self.oracle = oracle or sql
        self.expected = None

    def run(self, conn):
        if self.params:
            return conn.extended(self.sql, self.params, decode=True)
        return conn.query(self.sql, decode=True)

    def check(self, res):
        if self.kind == "catalog":
            names = {r[res.names.index("Name")] for r in res.rows}
            missing = set(TABLES) - names
            return "catalog probe misses %s" % sorted(missing) if missing else None
        got = wire_rows(res)
        if got != self.expected:
            return "%s: %d rows, expected %d; first %s vs %s" % (
                self.kind, len(got), len(self.expected), got[:1], self.expected[:1])
        return None


def dsum(expr):
    """sum() of doubles through an exact decimal, so the summation order
    (Spark's partitions vs DuckDB's threads) cannot change the low bits."""
    return "CAST(sum(CAST(%s AS DECIMAL(30,8))) AS DOUBLE)" % expr


def interactive_reads(seed, con, per_kind=8):
    """The seeded pool of short reads, each with its DuckDB answer."""
    rng = random.Random(seed)
    reads = []
    # customers with exactly ten orders: the top-5 and join reads then
    # return the same number of rows on every seed
    tens = [r[0] for r in con.execute(
        "SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) = 10 "
        "ORDER BY o_custkey").fetchall()]
    for k in rng.sample(range(150000), per_kind):
        reads.append(Read("point", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                          "o_orderpriority FROM orders WHERE o_orderkey = %d" % k))
    for k in rng.sample(range(15000), per_kind):
        sql = ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
               "FROM customer WHERE c_custkey = $1")
        reads.append(Read("point_extended", sql, (k,), sql.replace("$1", str(k))))
    for c in rng.sample(tens, per_kind):
        reads.append(Read("topk", "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
                          "WHERE o_custkey = %d ORDER BY o_totalprice DESC, o_orderkey LIMIT 5" % c))
    for a in rng.sample(range(149800), per_kind):
        reads.append(Read("range_agg", "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                          "sum(l_quantity) AS qty, %s AS price " % dsum("l_extendedprice") +
                          "FROM lineitem WHERE l_orderkey BETWEEN %d AND %d "
                          "GROUP BY l_returnflag, l_linestatus "
                          "ORDER BY l_returnflag, l_linestatus" % (a, a + 200)))
    for c in rng.sample(tens, per_kind):
        reads.append(Read("join3", "SELECT c.c_name, o.o_orderkey, count(*) AS n_items, "
                          "%s AS revenue " % dsum("l.l_extendedprice * (1 - l.l_discount)") +
                          "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey "
                          "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
                          "WHERE c.c_custkey = %d GROUP BY c.c_name, o.o_orderkey "
                          "ORDER BY o.o_orderkey LIMIT 25" % c))
    for r in reads:
        r.expected = duck_rows(con, r.oracle)
    reads.append(Read("catalog", PSQL_DT))
    return reads


def interactive(port, seed, deadline, log, phase, reads, clients=4, warm=False):
    """`clients` connections, each running sessions of connect,
    `select 1`, 1-10 seeded reads from `reads`, Terminate until the
    deadline. With `warm`, each client runs one short session instead,
    and the clients together read every kind."""

    by_kind = {}
    for r in reads:
        by_kind.setdefault(r.kind, []).append(r)
    kinds = sorted(by_kind)

    def client(i):
        rng = random.Random(seed * 7919 + i + (1000 if warm else 0))
        deck, lengths = [], []

        def draw():
            # every kind equally often, in a seeded order, so the mix is
            # the same on every seed and only the parameters change
            if not deck:
                deck.extend(kinds)
                rng.shuffle(deck)
            return rng.choice(by_kind[deck.pop()])

        def session_length():
            # 1-10 reads, dealt in pairs summing to 11: a client runs only
            # a few sessions per run, and independent draws would move the
            # reads-per-connect ratio (and so every metric) with the seed
            if not lengths:
                pairs = [[n, 11 - n] for n in range(1, 6)]
                rng.shuffle(pairs)
                for p in pairs:
                    rng.shuffle(p)
                    lengths.extend(p)
                lengths.reverse()
            return lengths.pop()
        # warming, the clients together read every kind once or more
        warm_kinds = [kinds[(i + j * clients) % len(kinds)]
                      for j in range(-(-len(kinds) // clients))]
        while time.time() < deadline:
            conn = connect(log, port, phase)
            if conn is None:
                continue
            try:
                for j in range(len(warm_kinds) if warm else session_length()):
                    if time.time() >= deadline and not warm:
                        break
                    r = rng.choice(by_kind[warm_kinds[j]]) if warm else draw()
                    run_op(log, "read", conn, phase, lambda: r.run(conn), r.check, r.kind)
                conn.close()
            except ConnectionLost:
                pass
            if warm:
                return
    run_threads([lambda i=i: client(i) for i in range(clients)])


# --------------------------------------------------------------------- export

BINARY_LINEITEM = ("SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
                   "l_extendedprice, l_discount, l_tax, l_shipdate FROM lineitem")
# (protocol, sql, source table, fetch size): text reads of whole tables,
# the same reads in binary limited to binary-capable columns and paged
# as pgjdbc's fetchSize pages them, and a COPY TO STDOUT.
EXPORTS = (
    ("text", "SELECT * FROM lineitem", "lineitem", 0),
    ("text", "SELECT * FROM documents", "documents", 0),
    ("text", "SELECT * FROM embeddings", "embeddings", 0),
    ("binary", BINARY_LINEITEM, "lineitem", 10000),
    ("binary", "SELECT doc_id, n_chars FROM documents", "documents", 10000),
    ("binary", "SELECT vec_id, label FROM embeddings", "embeddings", 10000),
    ("copy", "COPY orders TO STDOUT", "orders", 0),
)


def export_counts(con):
    return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in ("lineitem", "documents", "embeddings", "orders")}


def export(port, seed, deadline, log, phase, counts, warm=False):
    """One connection running whole cycles of EXPORTS (rotated by the
    seed) until the deadline, checking row counts against `counts`;
    `warm` runs one cycle, so every statement has run before measuring."""
    start = seed % len(EXPORTS)
    cycle = EXPORTS[start:] + EXPORTS[:start]
    conn = connect(log, port, phase)
    if conn is None:
        return

    def check_count(table):
        return lambda res: None if res.nrows == counts[table] else (
            "%s: %d rows, expected %d" % (table, res.nrows, counts[table]))
    try:
        while True:
            for proto, sql, table, fetch in cycle:
                if proto == "binary":
                    fn = lambda: conn.extended(sql, result_format=1, max_rows=fetch)
                else:
                    fn = lambda: conn.query(sql)
                run_op(log, "export", conn, phase, fn, check_count(table), proto + ":" + sql)
            if warm or time.time() >= deadline:
                break
        conn.close()
    except ConnectionLost:
        pass


# --------------------------------------------------------------------- ingest

INGEST_TABLE = "bench_ingest"
INGEST_DDL = ("CREATE TABLE bench_ingest (id BIGINT, conn INT, batch INT, k BIGINT, "
              "v DOUBLE, s STRING) USING parquet")
BATCH = 10000
WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")


class IngestClient:
    """One connection's cycles over its own rows (conn = its number), so
    the final table is the same whatever the interleaving of the two
    connections; `log` keeps the statements for the DuckDB replay."""

    def __init__(self, c, seed):
        self.c = c
        self.rng = random.Random(seed * 31 + c)
        self.batch = 0
        self.log = []   # ("copy", rows) | ("sql", text): the writes, in order
        self.reads = set()

    def batch_rows(self):
        base = self.c * 10 ** 9 + self.batch * 10 ** 5
        rng = self.rng
        return [(base + i, self.c, self.batch, rng.randrange(1000),
                 rng.randrange(100000) / 100.0, rng.choice(WORDS)) for i in range(BATCH)]

    def statements(self):
        """One cycle: COPY a batch, a single-row INSERT, INSERT ... SELECT,
        key-predicate UPDATE and DELETE (the batch two back, so the table
        stays bounded), each followed by a read of the connection's rows."""
        c, b, rng = self.c, self.batch, self.rng
        own = "conn = %d" % c
        yield "copy", self.batch_rows()
        yield "read", "SELECT count(*) AS n, sum(v) AS v FROM bench_ingest WHERE %s" % own
        yield "write", "INSERT INTO bench_ingest VALUES (%d, %d, %d, %d, %.2f, '%s')" % (
            c * 10 ** 9 + b * 10 ** 5 + 99999, c, b, rng.randrange(1000),
            rng.randrange(100000) / 100.0, rng.choice(WORDS))
        yield "read", ("SELECT k, count(*) AS n FROM bench_ingest WHERE %s AND batch = %d "
                       "GROUP BY k ORDER BY n DESC, k LIMIT 5" % (own, b))
        yield "write", ("INSERT INTO bench_ingest SELECT id + 50000, conn, batch, k, v * 2, s "
                        "FROM bench_ingest WHERE %s AND batch = %d AND k < 10 AND id %% 100000 < 50000"
                        % (own, b))
        yield "read", "SELECT * FROM bench_ingest WHERE id = %d" % (
            c * 10 ** 9 + b * 10 ** 5 + rng.randrange(BATCH))
        yield "write", "UPDATE bench_ingest SET v = v + 1 WHERE %s AND batch = %d AND k = %d" % (
            own, b, rng.randrange(1000))
        yield "read", "SELECT max(v) AS v FROM bench_ingest WHERE %s AND batch = %d" % (own, b)
        yield "write", "DELETE FROM bench_ingest WHERE %s AND batch <= %d" % (own, b - 2)
        yield "read", "SELECT batch, count(*) AS n FROM bench_ingest WHERE %s GROUP BY batch ORDER BY batch" % own
        self.batch += 1


def copy_text(rows):
    return "".join("%d\t%d\t%d\t%d\t%.2f\t%s\n" % r for r in rows).encode()


def ingest(port, seed, deadline, log, phase, clients, warm=False):
    """Each client runs whole cycles until the deadline (one when warming)."""
    def client(ic):
        conn = connect(log, port, phase)
        if conn is None:
            return
        try:
            while True:
                for kind, x in ic.statements():
                    if kind == "copy":
                        data = copy_text(x)
                        res = run_op(log, "copy_in", conn, phase,
                                     lambda: conn.copy_in("COPY bench_ingest FROM STDIN", data),
                                     lambda res, n=len(x): None if res.tag == "COPY %d" % n
                                     else "copy tag %r" % res.tag)
                        if not res.error:
                            ic.log.append(("copy", x))
                    elif kind == "write":
                        res = run_op(log, "write", conn, phase, lambda: conn.query(x))
                        if not res.error:  # a failed write must leave the table as it was
                            ic.log.append(("sql", x))
                    else:
                        ic.reads.add(x)
                        run_op(log, "read", conn, phase, lambda: conn.query(x))
                if warm or time.time() >= deadline:
                    break
            conn.close()
        except ConnectionLost:
            pass
    run_threads([lambda ic=ic: client(ic) for ic in clients])


def ingest_check(port, clients):
    """Final table contents against DuckDB replaying each connection's
    statement log in order. Returns None or the reason for a mismatch."""
    import duckdb
    import pyarrow as pa
    conn = pgclient.Conn(port)
    try:
        res = conn.query("SELECT * FROM bench_ingest", decode=True)
    finally:
        conn.close()
    if res.error:
        return "final read failed: %s %s" % res.error
    con = duckdb.connect()
    con.execute("CREATE TABLE bench_ingest (id BIGINT, conn INT, batch INT, k BIGINT, "
                "v DOUBLE, s VARCHAR)")
    for ic in clients:
        for kind, x in ic.log:
            if kind == "copy":
                batch = pa.table({n: list(col) for n, col in zip(
                    ("id", "conn", "batch", "k", "v", "s"), zip(*x))})
                con.register("batch_rows", batch)
                con.execute("INSERT INTO bench_ingest SELECT * FROM batch_rows")
                con.unregister("batch_rows")
            else:
                con.execute(x)
    expected = duck_rows(con, "SELECT * FROM bench_ingest")
    got = wire_rows(res)
    if got != expected:
        return "final table: %d rows, expected %d" % (len(got), len(expected))
    return None
