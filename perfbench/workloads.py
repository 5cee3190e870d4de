"""Inputs, clients and output checks of the workloads: the declared and
templated reads, the seeded ingest stream and the batch entries."""
import datetime
import io
import threading
import urllib.parse

import numpy as np
import pyarrow as pa
import pyarrow.ipc as paipc

import harness
import oracle as orc

# ---------------------------------------------------------------- interactive
# Read-only entries of the program's declared query set (DeclaredQueries),
# copied here so the benchmark's inputs do not move when the program does.
DECLARED = {
    "q01_scan_filter":
        "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_nationkey = 7 ORDER BY c_custkey",
    "q05_topk_agg":
        "SELECT o_orderpriority, count() AS c, FROM orders GROUP BY o_orderpriority "
        "ORDER BY c DESC, o_orderpriority LIMIT 10",
    "q12_inner_join":
        "SELECT c.c_custkey, n.n_name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "ORDER BY c.c_custkey LIMIT 50",
    "q24_group_having":
        "SELECT l_returnflag, l_linestatus, count(*) AS c FROM lineitem GROUP BY l_returnflag, l_linestatus "
        "HAVING count(*) > 100 ORDER BY l_returnflag, l_linestatus",
    "q34_row_number_rank":
        "SELECT c_custkey, rn, rk FROM (SELECT c_custkey, row_number() OVER (PARTITION BY c_nationkey "
        "ORDER BY c_custkey) AS rn, rank() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment, c_custkey) "
        "AS rk FROM customer) t WHERE rn <= 3 ORDER BY c_custkey",
    "q62_tpch_q3":
        "SELECT l_orderkey, CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) "
        "AS revenue_cents, o_orderdate, o_orderpriority FROM customer, orders, lineitem "
        "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND o_orderdate < DATE '1997-03-15' AND l_shipdate > DATE '1997-03-15' "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue_cents DESC, o_orderdate, l_orderkey LIMIT 10",
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _day(r):
    d = datetime.date(1995, 1, 1) + datetime.timedelta(days=r.randrange(2350))
    return d, d + datetime.timedelta(days=30)


# Templates filled with seeded literals from wide domains, so their texts
# (almost) never repeat within a run.
TEMPLATES = {
    "t_customer_filter": lambda r:
        f"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey = {r.randrange(25)} "
        f"AND c_acctbal > {r.uniform(-999, 9000):.2f} ORDER BY c_custkey LIMIT 100",
    "t_orders_by_priority": lambda r: (lambda a:
        f"SELECT o_orderpriority, count(*) AS c, sum(o_totalprice) AS total FROM orders "
        f"WHERE o_custkey BETWEEN {a} AND {a + 1500} GROUP BY o_orderpriority ORDER BY o_orderpriority")(
        r.randrange(13500)),
    "t_lineitem_flags": lambda r: (lambda a:
        f"SELECT l_returnflag, l_linestatus, count(*) AS c, sum(l_quantity) AS qty, avg(l_discount) AS disc "
        f"FROM lineitem WHERE l_orderkey BETWEEN {a} AND {a + 20000} "
        f"GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")(r.randrange(130000)),
    "t_segment_nations": lambda r:
        f"SELECT n.n_name, count(*) AS c, sum(c.c_acctbal) AS bal FROM customer c JOIN nation n "
        f"ON c.c_nationkey = n.n_nationkey WHERE c.c_mktsegment = '{r.choice(SEGMENTS)}' "
        f"AND c.c_acctbal > {r.uniform(-999, 5000):.2f} GROUP BY n.n_name ORDER BY c DESC, n.n_name LIMIT 5",
    "t_top_orders": lambda r: (lambda d:
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderdate >= DATE '{d[0]}' "
        f"AND o_orderdate < DATE '{d[1]}' ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")(_day(r)),
}

# A round is each declared entry once and each template once, in a seeded
# order; clients send whole rounds, so every run has the same mix.
ROUND_FORMATS = ["JSONCompact"] * 7 + ["CSV"] * 2 + ["JSONEachRow"] * 2


class Op:
    __slots__ = ("name", "sql", "fmt", "method")

    def __init__(self, name, sql, fmt, method="POST"):
        self.name, self.sql, self.fmt, self.method = name, sql, fmt, method


def interactive_round(r):
    ops = [(n, DECLARED[n]) for n in sorted(DECLARED)]
    ops += [(n, TEMPLATES[n](r)) for n in sorted(TEMPLATES)]
    fmts = ROUND_FORMATS[:]
    r.shuffle(fmts)
    methods = ["GET", "POST"] * (len(ops) // 2 + 1)
    r.shuffle(methods)
    out = [Op(n, sql, f, m) for (n, sql), f, m in zip(ops, fmts, methods)]
    r.shuffle(out)
    return out


def send_query(http, op):
    """A read over the ClickHouse API (GET or POST /) or, for ARROW, over
    POST /flight/do_get."""
    if op.fmt == "ARROW":
        return http.call("POST", "/flight/do_get", op.sql.encode())
    if op.method == "GET":
        q = urllib.parse.urlencode({"query": op.sql, "default_format": op.fmt})
        return http.call("GET", "/?" + q)
    return http.call("POST", "/", f"{op.sql} FORMAT {op.fmt}".encode())


class Record:
    __slots__ = ("op", "ok", "seconds", "rows", "bytes", "body", "why")

    def __init__(self, op, ok, seconds, nbytes, body=None):
        self.op, self.ok, self.seconds = op, ok, seconds
        self.bytes, self.body, self.rows, self.why = nbytes, body, 0, ""


def fail(rec, why):
    if rec.ok:
        rec.ok, rec.why = False, why


class Rounds:
    """A seeded sequence of `n` rounds that clients draw operations from;
    every window holds whole rounds."""

    def __init__(self, make_round, r, n):
        self.make_round, self.r, self.left = make_round, r, n
        self.pending = []
        self.lock = threading.Lock()

    def next(self):
        with self.lock:
            if not self.pending:
                if not self.left:
                    return None
                self.pending = self.make_round(self.r)[::-1]
                self.left -= 1
            return self.pending.pop()


def query_window(port, n_clients, rounds):
    """Closed loop: each client sends its next read when the previous reply
    has arrived. Returns the records and the (start, end) of the window."""
    records = []

    def client(i):
        http = harness.Http(port)
        op = rounds.next()
        while op is not None:
            ok, status, body, dt = send_query(http, op)
            rec = Record(op, ok, dt, len(body), body)
            if not ok:
                rec.why = f"status {status}: {body[:200]!r}"
            records.append(rec)
            op = rounds.next()
        http.close()

    return records, harness.closed_loop(n_clients, client)


def check_rows(records, oracle):
    for rec in records:
        if not rec.ok:
            continue
        try:
            got = orc.parse_rows(rec.body, rec.op.fmt)
            ok, why = orc.rows_match(got, oracle.rows(rec.op.sql), orc.has_top_level_order(rec.op.sql))
            rec.rows = len(got)
        except Exception as e:  # unparsable response
            ok, why = False, repr(e)
        if not ok:
            fail(rec, f"{rec.op.name} {rec.op.fmt}: {why}")


def warm(port, n_clients, rounds):
    """Warmup: whole rounds before the window; part of set-up."""
    records, _ = query_window(port, n_clients, rounds)
    bad = [r for r in records if not r.ok]
    if bad:
        raise harness.BenchError(f"warmup {bad[0].op.name} {bad[0].op.fmt} failed: {bad[0].why}")


# ---------------------------------------------------------------- ingest_poll
INGEST_TABLE = "concurrent_test"
BATCH_ROWS = 1000
CATEGORIES = np.array(["A", "B", "C", "D"])
INGEST_SCHEMA = pa.schema([("batch_id", pa.int64()), ("timestamp", pa.string()),
                           ("value", pa.float64()), ("category", pa.string())])
T0 = datetime.datetime(2024, 1, 1)


def ingest_batch(seed, k):
    """Batch k of the seeded `concurrent_test` stream; every row's timestamp
    is unique, so a sampled row can be traced back to its batch."""
    g = np.random.default_rng([seed, k])
    first = k * BATCH_ROWS
    ts = [(T0 + datetime.timedelta(seconds=first + i)).strftime("%Y-%m-%d %H:%M:%S")
          for i in range(BATCH_ROWS)]
    return pa.table({"batch_id": pa.array(np.full(BATCH_ROWS, k, dtype=np.int64)),
                     "timestamp": pa.array(ts),
                     "value": pa.array(np.round(g.random(BATCH_ROWS) * 100, 4)),
                     "category": pa.array(CATEGORIES[g.integers(0, 4, BATCH_ROWS)])},
                    schema=INGEST_SCHEMA)


def ipc_bytes(table):
    sink = io.BytesIO()
    with paipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


def arrow_table(body):
    return paipc.open_stream(body).read_all()


COUNT_SQL = "SELECT count(*) AS n FROM {}"
SAMPLE_SQL = "SELECT * FROM {} ORDER BY random() LIMIT 1"
CREATE_SQL = ("CREATE TABLE {} (batch_id BIGINT, timestamp VARCHAR, value DOUBLE, "
              "category VARCHAR)")


def put_batch(http, table, body):
    return http.call("POST", f"/flight/do_put?table={table}", body)


def rows_inserted(body):
    return arrow_table(body).column("rows_inserted")[0].as_py()


def create_table(port, name):
    ok, status, body, _ = harness.Http(port).call("POST", "/", CREATE_SQL.format(name).encode())
    if not ok:
        raise harness.BenchError(f"CREATE TABLE {name} failed: {status} {body[:300]!r}")


def ingest_window(port, rounds, seed, table):
    """`rounds` rounds, each started by the writer and the poller together:
    the writer appends one seeded 1,000-row batch through do_put while the
    poller reads count(*) and then a one-row random sample through do_get.
    Every run thus sends the same batches and polls, and the table ends
    with the same file count."""
    batches = {k: ingest_batch(seed, k) for k in range(rounds)}
    bodies = {k: ipc_bytes(t) for k, t in batches.items()}
    state = {"started": 0, "batches": batches, "acked_ids": []}
    lock = threading.Lock()
    start = threading.Barrier(2, timeout=120)
    writes, polls = [], []

    def writer():
        http = harness.Http(port)
        for k in range(rounds):
            start.wait()
            with lock:
                state["started"] += BATCH_ROWS
            ok, status, resp, dt = put_batch(http, table, bodies[k])
            rec = Record(Op("do_put", k, "ARROW"), ok, dt, len(bodies[k]))
            if not ok:
                rec.why = f"do_put status {status}: {resp[:200]!r}"
            else:
                try:
                    n = rows_inserted(resp)
                except Exception as e:
                    n = repr(e)
                if n != BATCH_ROWS:
                    fail(rec, f"rows_inserted {n}, sent {BATCH_ROWS}")
                else:
                    rec.rows = BATCH_ROWS
                    with lock:
                        state["acked_ids"].append(k)
            writes.append(rec)
        http.close()

    def poll(http, kind, sql):
        ok, status, resp, dt = http.call("POST", "/flight/do_get", sql.encode())
        rec = Record(Op(kind, sql, "ARROW"), ok, dt, len(resp))
        if not ok:
            rec.why = f"do_get status {status}: {resp[:200]!r}"
            return rec, None
        try:
            t = arrow_table(resp)
            rec.rows = t.num_rows
            return rec, t
        except Exception as e:
            fail(rec, repr(e))
            return rec, None

    def poller():
        http = harness.Http(port)
        last = 0
        for _ in range(rounds):
            start.wait()
            rec, t = poll(http, "count", COUNT_SQL.format(table))
            with lock:
                sent = state["started"]  # every batch the count can see was started by now
            if t is not None:
                n = t.column("n")[0].as_py()
                if n < last or n > sent:
                    fail(rec, f"count {n} after {last}, {sent} rows sent")
                last = max(last, n)
            polls.append(rec)
            rec, t = poll(http, "sample", SAMPLE_SQL.format(table))
            if t is not None and t.num_rows:
                rec.body = t.to_pylist()[0]
            polls.append(rec)
        http.close()

    window = harness.closed_loop(2, lambda i: (writer if i == 0 else poller)())
    # sampled rows must be rows the generator sent
    for rec in polls:
        if rec.ok and isinstance(rec.body, dict):
            row = rec.body
            try:
                t = state["batches"][row["batch_id"]]
                idx = int((datetime.datetime.strptime(row["timestamp"], "%Y-%m-%d %H:%M:%S") - T0)
                          .total_seconds()) - row["batch_id"] * BATCH_ROWS
                want = {c: t.column(c)[idx].as_py() for c in t.column_names}
                if want != row:
                    fail(rec, f"sampled row {row} not sent ({want})")
            except Exception as e:
                fail(rec, f"sampled row {row} not sent: {e!r}")
    return writes, polls, state, window


def check_ingest_final(port, state, table):
    """The table holds exactly the acknowledged batches."""
    http = harness.Http(port)
    sql = (f"SELECT count(*) AS n, sum(value) AS s, count_if(category = 'A') AS a, "
           f"count_if(category = 'B') AS b, count_if(category = 'C') AS c, "
           f"count_if(category = 'D') AS d FROM {table}")
    ok, status, body, _ = http.call("POST", "/flight/do_get", sql.encode())
    http.close()
    if not ok:
        return f"final check status {status}: {body[:200]!r}"
    got = arrow_table(body).to_pylist()[0]
    tables = [state["batches"][k] for k in state["acked_ids"]]
    cats = np.concatenate([t.column("category").to_numpy(zero_copy_only=False) for t in tables]) \
        if tables else np.array([])
    want = {"n": len(cats), "s": float(sum(np.sum(t.column("value").to_numpy()) for t in tables)),
            **{c.lower(): int(np.sum(cats == c)) for c in CATEGORIES}}
    if got["n"] != want["n"] or any(got[c.lower()] != want[c.lower()] for c in CATEGORIES) \
            or abs((got["s"] or 0.0) - want["s"]) > 1e-6 * max(1.0, abs(want["s"])):
        return f"final table {got} != sent {want}"
    return ""


# ---------------------------------------------------------------- batch_heavy
BATCH_ENTRIES = ["q130_tpch_q18_shape", "p24_dedup_components"]
