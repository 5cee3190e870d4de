#!/usr/bin/env python3
"""Serving benchmark of the graft engine: three workloads, each loading a
different layer, and a traced mode that reports per-layer figures.

    python3 perfbench/run.py --workload <interactive|ingest_poll|batch_heavy>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and this
package with sbt. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it
("detail") carries the workload's own metrics, the noise record and, in
traced mode, the tracing overhead. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import random
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import oracle as orc  # noqa: E402
import workloads as wl  # noqa: E402
from harness import median  # noqa: E402

# the sf0.1 fixture set of TESTDATA.md
FIXTURES = os.environ.get("PERFBENCH_FIXTURES", os.path.expanduser("~/testdata/sf0.1"))
RUN_TIMEOUT_S = 160  # after the build; a run still going then is hung

E2E = {"setup_s": "s", "cpu_ms_per_op": "ms"}
# the window figures whose traced-minus-untraced difference is the tracing
# overhead
TRACED_E2E = ["cpu_ms_per_op", "read_p50_ms", "reads_per_s"]
LAYER_UNITS = {
    "server.read_overhead_ms": "ms", "server.write_overhead_ms": "ms",
    "server.response_bytes": "bytes",
    "dialect.translate_ms": "ms", "engine.sql_ms": "ms",
    "catalyst.parse_ms": "ms", "catalyst.analyze_ms": "ms",
    "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "execute.ms": "ms", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.task_cpu_ms": "ms", "execute.gc_ms": "ms",
    "execute.shuffle_write_bytes": "bytes", "execute.shuffle_read_bytes": "bytes",
    "execute.spill_bytes": "bytes", "execute.scan_files": "count", "execute.scan_rows": "count",
    "formats.encode_self_ms": "ms", "formats.bytes_per_row": "bytes",
    "arrowio.encode_self_ms": "ms", "arrowio.decode_ms": "ms",
    "flight.append_ms": "ms", "flight.files_per_append": "count",
    "jvm.jit_cpu_ms_per_op": "ms", "jvm.gc_cpu_ms_per_op": "ms",
    **{f"operators.{e}.{k}": u for e in wl.BATCH_ENTRIES for k, u in (("s", "s"), ("jobs", "count"))},
}


class Run:
    def __init__(self, args, classpath, work):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.classpath, self.work = classpath, work
        self.cpus = harness.cpus()
        self.engine = None
        self.hung = False
        self.attempted = 0
        self.failures = []
        self._oracle = None

    @property
    def oracle(self):
        if self._oracle is None:
            self._oracle = orc.Oracle(FIXTURES)
        return self._oracle

    def count(self, records):
        self.attempted += len(records)
        self.failures += [r.why for r in records if not r.ok]

    def launch(self, serve):
        """The engine as its users start it (HttpServerMain) or, in traced
        mode and for the in-process batch workload, the benchmark's host,
        which sets the engine up the same way."""
        port = harness.free_port()
        if serve and not self.trace:
            self.engine = harness.Engine(
                self.classpath, self.work, "graft.server.HttpServerMain", [],
                env={"GRAFT_HTTP_PORT": str(port), "SPARK_GRAFT_SF_DIR": FIXTURES,
                     "SPARK_GRAFT_CPUS": str(self.cpus)})
            self.engine.wait_for("listening on", 120)
        else:
            self.engine = harness.Engine(
                self.classpath, self.work, "perfbench.Host",
                ["serve" if serve else "batch", FIXTURES, str(self.cpus), str(port)])
            r = self.engine.reply(120)
            if not r.get("ok"):
                raise harness.BenchError(f"host failed to start: {r}")
        if serve:
            http = harness.Http(port)
            ok, status, body, _ = http.call("GET", "/ping")
            http.close()
            if not ok or body.strip() != b"Ok":
                raise harness.BenchError(f"engine does not answer /ping: {status} {body!r}")
        return port

    def since_launch(self):
        return time.perf_counter() - self.engine.launched


def read_stats(records, res, ops=None):
    """The workload's own end-to-end figures over the successful reads, and
    the engine's CPU time per successful operation (`ops`, default the
    reads) of the window."""
    ok = [r for r in records if r.ok]
    dur = res["window"][1] - res["window"][0]
    lat = [r.seconds * 1000 for r in ok]
    out = {"reads": len(ok), "read_p50_ms": median(lat), "reads_per_s": len(ok) / dur,
           "read_rows_per_s": sum(r.rows for r in ok) / dur,
           "read_mb_per_s": sum(r.bytes for r in ok) / dur / 1e6,
           "window_s": dur, "cpu_s": res["cpu_s"], "jit_cpu_s": res["jit_cpu_s"],
           "gc_cpu_s": res["gc_cpu_s"]}
    if len(ok) >= 100:
        out["read_p90_ms"] = harness.percentile(lat, 0.9)
    n = len(ok) if ops is None else ops
    for k in ("cpu", "jit_cpu", "gc_cpu"):
        out[f"{k}_ms_per_op"] = res[f"{k}_s"] * 1000 / n if n and res[f"{k}_s"] is not None else None
    return out


class Interactive:
    """Closed loop of small reads from a fixed number of clients."""
    clients = 2

    def __init__(self, run):
        self.run = run

    def n_clients(self):
        return min(self.clients, self.run.cpus)

    def setup(self):
        self.port = self.run.launch(serve=True)
        # two rounds: the first compiles each shape, the second lets the JIT
        # settle, so the window starts near steady state
        wl.warm(self.port, self.n_clients(), wl.Rounds(
            wl.interactive_round, random.Random(f"{self.run.seed}:warmup"), 2))

    def window(self, tag):
        rounds = wl.Rounds(wl.interactive_round, random.Random(f"{self.run.seed}:{tag}"),
                           max(1, round(self.run.seconds * INTERACTIVE_ROUNDS_PER_S)))
        recs, w = wl.query_window(self.port, self.n_clients(), rounds)
        return {"records": recs, "window": w}

    def verify(self, res):
        wl.check_rows(res["records"], self.run.oracle)
        self.run.count(res["records"])

    def stats(self, res):
        return read_stats(res["records"], res)

    def trace(self):
        ops = wl.interactive_round(random.Random(f"{self.run.seed}:trace"))
        return layer_metrics(traced_query_rows(self.run, self.port, ops))


class IngestPoll:
    """One writer appending seeded Arrow batches through do_put while one
    poller reads count(*) and a random row through do_get, in a fixed
    number of rounds."""

    def __init__(self, run):
        self.run = run

    def setup(self):
        self.port = self.run.launch(serve=True)
        # each window writes into a table created here, and the warmup into
        # one of its own, so the measured table starts empty in every run
        warm = wl.INGEST_TABLE + "_warmup"
        for t in [warm] + [self.table(tag) for tag in (TRACED_WINDOWS if self.run.trace else ["untraced"])]:
            wl.create_table(self.port, t)
        http = harness.Http(self.port)
        ok, status, body, _ = wl.put_batch(http, warm, wl.ipc_bytes(wl.ingest_batch(self.run.seed, 0)))
        if not ok:
            raise harness.BenchError(f"warmup do_put failed: {status} {body[:300]!r}")
        for t in (self.table("untraced"), warm):
            for sql in (wl.COUNT_SQL, wl.SAMPLE_SQL):
                ok, status, body, _ = http.call("POST", "/flight/do_get", sql.format(t).encode())
                if not ok:
                    raise harness.BenchError(f"warmup do_get failed: {status} {body[:300]!r}")
        http.close()

    def table(self, tag):
        return wl.INGEST_TABLE if tag == "untraced" else f"{wl.INGEST_TABLE}_{tag}"

    def rounds(self):
        return max(1, round(self.run.seconds * INGEST_ROUNDS_PER_S))

    def window(self, tag):
        writes, polls, state, w = wl.ingest_window(self.port, self.rounds(), self.run.seed,
                                                   self.table(tag))
        return {"writes": writes, "polls": polls, "state": state, "window": w, "table": self.table(tag)}

    def verify(self, res):
        self.run.count(res["writes"])
        self.run.count(res["polls"])
        # a round cut short (its client died) still counts as attempted
        missing = 3 * self.rounds() - len(res["writes"]) - len(res["polls"])
        self.run.attempted += missing + 1
        self.run.failures += ["ingest round not finished"] * missing
        why = wl.check_ingest_final(self.port, res["state"], res["table"])
        if why:
            self.run.failures.append(why)

    def stats(self, res):
        okw = [r for r in res["writes"] if r.ok]
        s = read_stats(res["polls"], res, ops=len(okw) + sum(r.ok for r in res["polls"]))
        s.update({"writes": len(okw), "write_p50_ms": median([r.seconds * 1000 for r in okw]),
                  "write_rows_per_s": sum(r.rows for r in okw) / s["window_s"]})
        return s

    def trace(self):
        table = wl.INGEST_TABLE + "_trace_pass"
        wl.create_table(self.port, table)
        http = harness.Http(self.port)
        rows = []
        for k in range(TRACE_PUTS):
            body = wl.ipc_bytes(wl.ingest_batch(self.run.seed, k))
            path = os.path.join(self.run.work, "batch.arrow")
            with open(path, "wb") as f:
                f.write(body)
            # which append goes first alternates, so neither gains from
            # running second
            if k % 2:
                t = self.run.engine.command(cmd="trace_put", table=table, path=path)
                ok, status, resp, dt = wl.put_batch(http, table, body)
            else:
                ok, status, resp, dt = wl.put_batch(http, table, body)
                t = self.run.engine.command(cmd="trace_put", table=table, path=path)
            self.run.attempted += 2
            if not ok or not t.get("ok"):
                self.run.failures.append(f"traced do_put: {status} {t.get('error')}")
                continue
            t["client_ms"], t["response_bytes"] = dt * 1000, len(resp)
            t["kind"] = "put"
            rows.append(t)
        http.close()
        polls = [wl.Op("count", wl.COUNT_SQL.format(table), "ARROW"),
                 wl.Op("sample", wl.SAMPLE_SQL.format(table), "ARROW")]
        return layer_metrics(rows + traced_query_rows(self.run, self.port, polls))


TRACE_PUTS = 8
TRACE_REPS = 2
TRACED_WINDOWS = ["untraced", "traced", "untraced_after"]
# Every window runs a fixed amount of work, about --seconds long at sf0.1 on
# 4 cores, so each run measures the same operations in the same state.
INTERACTIVE_ROUNDS_PER_S = 0.5  # a round (11 reads from 2 clients) takes about 2 s
INGEST_ROUNDS_PER_S = 2.2  # a round (a do_put beside two polls) takes about 0.45 s
BATCH_PASS_S = 3  # a pass (2 entries and the clean-up after each) takes about 3.5 s


class BatchHeavy:
    """In-process: execute-heavy SparkEntry.queries entries into the noop
    sink, one pass after another."""

    def __init__(self, run):
        self.run = run

    def setup(self):
        self.run.launch(serve=False)
        self.results = os.path.join(self.run.work, "results")
        for e in wl.BATCH_ENTRIES:
            r = self.run.engine.command(timeout=RUN_TIMEOUT_S, cmd="warm_entry", name=e,
                                        out=os.path.join(self.results, e))
            if not r.get("ok"):
                raise harness.BenchError(f"warmup {e} failed: {r.get('error')}")

    def window(self, tag):
        """A fixed number of whole passes, about --seconds long at sf0.1 on
        4 cores."""
        recs, passes, cpu = [], [], {e: [] for e in wl.BATCH_ENTRIES}
        start = time.perf_counter()
        for _ in range(math.ceil(self.run.seconds / BATCH_PASS_S)):
            ok_pass = True
            for e in wl.BATCH_ENTRIES:
                cpu0 = self.run.engine.app_cpu_seconds()
                r = self.run.engine.command(timeout=RUN_TIMEOUT_S, cmd="run_entry", name=e)
                cpu1 = self.run.engine.app_cpu_seconds()
                rec = wl.Record(wl.Op(e, e, "noop"), bool(r.get("ok")),
                                r.get("total_ms", 0) / 1000, 0)
                if rec.ok:
                    cpu[e].append((cpu1 - cpu0) * 1000)
                else:
                    rec.why = f"{e}: {r.get('error')}"
                    ok_pass = False
                recs.append(rec)
            if ok_pass:
                passes.append(sum(r.seconds for r in recs[-len(wl.BATCH_ENTRIES):]))
        # an entry's run time excludes the block clean-up after it, its CPU
        # time includes it
        return {"records": recs, "window": (start, time.perf_counter()), "passes": passes,
                "entry_cpu_ms": cpu}

    def verify(self, res):
        if not hasattr(self, "checked"):  # the parquet results are checked once
            self.checked = {e: self.check_entry(e) for e in wl.BATCH_ENTRIES}
        for rec in res["records"]:
            rec.rows, why = self.checked[rec.op.name]
            if why:
                wl.fail(rec, why)
        self.run.count(res["records"])

    def check_entry(self, e):
        """(rows, why): the entry's parquet result against DuckDB's answer to
        its oracle SQL, columns matched by name, rows in any order."""
        path = os.path.join(self.results, e, "*.parquet")
        try:
            want = self.run.oracle.con.sql(self.run.engine.command(cmd="oracle_sql", name=e)["sql"])
            cols = sorted(want.columns)
            select = ", ".join('"%s"' % c for c in cols)
            got = self.run.oracle.con.sql(f"SELECT {select} FROM read_parquet('{path}')").fetchall()
            order = [want.columns.index(c) for c in cols]
            ok, why = orc.rows_match(got, [tuple(r[i] for i in order) for r in want.fetchall()],
                                     ordered=False)
            return len(got), "" if ok else f"{e}: {why}"
        except Exception as ex:  # a missing or extra column lands here too
            return 0, f"{e}: {ex!r}"

    def stats(self, res):
        s = read_stats(res["records"], res)
        s["batch_s"] = median(res["passes"])
        s["passes"] = len(res["passes"])
        s["entry_cpu_ms"] = res["entry_cpu_ms"]
        # entries differ in size, so the median of single runs jumps between
        # entries; the median over passes of the mean entry time does not
        s["read_p50_ms"] = s["batch_s"] * 1000 / len(wl.BATCH_ENTRIES) if res["passes"] else None
        # the engine's CPU time: each entry's least over the passes (a pass
        # can carry a collection or concurrent GC cycle the others do not),
        # averaged over the entries
        cpu = [min(xs) for xs in res["entry_cpu_ms"].values() if xs]
        s["cpu_ms_per_op"] = sum(cpu) / len(cpu) if len(cpu) == len(wl.BATCH_ENTRIES) else None
        return s

    def trace(self):
        # one traced run per entry: the entries are long, and a traced run
        # must end well inside the run time limit
        rows = []
        for e in wl.BATCH_ENTRIES:
            t = self.run.engine.command(timeout=RUN_TIMEOUT_S, cmd="trace_entry", name=e)
            self.run.attempted += 1
            if not t.get("ok"):
                self.run.failures.append(f"traced {e}: {t.get('error')}")
                continue
            t["kind"], t["entry"] = "entry", e
            rows.append(t)
        return layer_metrics(rows)


WORKLOADS = {"interactive": Interactive, "ingest_poll": IngestPoll, "batch_heavy": BatchHeavy}


# ---------------------------------------------------------------------- trace

def traced_query_rows(run, port, ops):
    """Each op once over HTTP (client-observed, nothing else in flight) and
    once in-process through the layers' own calls, TRACE_REPS times; which
    of the two goes first alternates, so neither gains from running second.
    Each op runs once in-process before that, untimed: a text's first
    execution is slower than its later ones."""
    for op in ops:
        t = run.engine.command(cmd="trace_query", sql=op.sql, format=op.fmt)
        run.attempted += 1
        if not t.get("ok"):
            run.failures.append(f"traced {op.name} {op.fmt} (first run): {t.get('error')}")
    http = harness.Http(port)
    rows = []
    for rep in range(TRACE_REPS):
        for op in ops:
            if rep % 2:
                t = run.engine.command(cmd="trace_query", sql=op.sql, format=op.fmt)
                ok, status, body, dt = wl.send_query(http, op)
            else:
                ok, status, body, dt = wl.send_query(http, op)
                t = run.engine.command(cmd="trace_query", sql=op.sql, format=op.fmt)
            run.attempted += 2
            if not ok or not t.get("ok"):
                run.failures.append(f"traced {op.name} {op.fmt}: {status} {t.get('error')}")
                continue
            t.update(kind="query", fmt=op.fmt, client_ms=dt * 1000, response_bytes=len(body))
            rows.append(t)
    http.close()
    return rows


def layer_metrics(rows):
    """Per-layer medians per operation; a layer the workload does not reach
    reads 0. Figures from Spark's clocks (Catalyst phases, job intervals, GC)
    tick in whole milliseconds, so their median would repeat from run to run
    whatever happens: those are means."""
    def med(f, sel=lambda t: True):
        """Median of field f (a key, or a function of the row) over the rows
        sel picks that have it."""
        xs = [t[f] if isinstance(f, str) else f(t) for t in rows
              if sel(t) and (not isinstance(f, str) or f in t)]
        return median(xs) if xs else 0.0

    def mean(key):
        xs = [t[key] for t in rows]
        return sum(xs) / len(xs) if xs else 0.0

    def served(t):
        return "client_ms" in t

    def query(t):
        return t.get("kind") == "query"

    def encoded(t):
        return t.get("kind") == "query" and t["fmt"] != "ARROW"

    def arrow(t):
        return t.get("kind") == "query" and t["fmt"] == "ARROW"

    def put(t):
        return t.get("kind") == "put"

    def encode_self(t):
        # the encoder's span minus its children: the jobs and Catalyst phases in it
        return t["encode_ms"] - t["encode_jobs_ms"] - t["encode_catalyst_ms"]

    m = {
        "server.read_overhead_ms": med(lambda t: t["client_ms"] - t["total_ms"], query),
        "server.write_overhead_ms": med(lambda t: t["client_ms"] - t["total_ms"], put),
        "server.response_bytes": med("response_bytes", served),
        "dialect.translate_ms": med("translate_ms"),
        "engine.sql_ms": med("sql_ms"),
        "catalyst.parse_ms": mean("parse_ms"), "catalyst.analyze_ms": mean("analyze_ms"),
        "catalyst.optimize_ms": mean("optimize_ms"), "catalyst.plan_ms": mean("plan_ms"),
        "execute.ms": mean("exec_ms"), "execute.jobs": med("jobs"),
        "execute.stages": med("stages"), "execute.tasks": med("tasks"),
        "execute.task_cpu_ms": med("task_cpu_ms"), "execute.gc_ms": mean("gc_ms"),
        "execute.shuffle_write_bytes": med("shuffle_write_bytes"),
        "execute.shuffle_read_bytes": med("shuffle_read_bytes"),
        "execute.spill_bytes": med("spill_bytes"),
        "execute.scan_files": med("scan_files"), "execute.scan_rows": med("scan_rows"),
        "formats.encode_self_ms": med(encode_self, encoded),
        "formats.bytes_per_row": med(lambda t: t["bytes"] / t["rows"],
                                     lambda t: encoded(t) and t["rows"] > 0),
        "arrowio.encode_self_ms": med(encode_self, arrow),
        "arrowio.decode_ms": med("decode_ms", put),
        "flight.append_ms": med(lambda t: t["total_ms"] - t["decode_ms"], put),
        "flight.files_per_append": med("files_added", put),
    }
    for e in wl.BATCH_ENTRIES:
        def mine(t, e=e):
            return t.get("entry") == e
        m[f"operators.{e}.s"] = med(lambda t: t["total_ms"] / 1000, mine)
        m[f"operators.{e}.jobs"] = med("jobs", mine)
    return m


# ----------------------------------------------------------------------- main

def run_workload(run, name):
    w = WORKLOADS[name](run)
    w.setup()
    # set-up time as the engine's CPU seconds from its launch to the end of
    # warmup: work moved into set-up shows in it, and unlike the wall time
    # (kept on the detail line) it leaves out time the hypervisor stole
    setup_wall_s = run.since_launch()
    setup_s = run.engine.cpu_seconds()[0]
    windows = []
    for tag in TRACED_WINDOWS if run.trace else ["untraced"]:
        if run.trace:
            run.engine.command(cmd="listener", on=tag == "traced")
        noise = harness.Noise()
        cpu0 = run.engine.cpu_seconds()
        res = w.window(tag)
        cpu1 = run.engine.cpu_seconds()
        res["noise"] = noise.record()
        if cpu0 is not None and cpu1 is not None:
            jvm = {k: harness.jvm_seconds(cpu1[1], k) - harness.jvm_seconds(cpu0[1], k)
                   for k in harness.JVM_THREADS}
            res["cpu_s"] = cpu1[0] - cpu0[0] - sum(jvm.values())
            res["jit_cpu_s"], res["gc_cpu_s"] = jvm["jit"], jvm["gc"]
            res["noise"]["cpu_by_thread_s"] = harness.cpu_by_group(cpu0, cpu1)
        else:
            res["cpu_s"] = res["jit_cpu_s"] = res["gc_cpu_s"] = None
        windows.append(res)
    rss = None if run.hung else run.engine.peak_rss_mb()
    for res in windows:
        w.verify(res)
    stats = [dict(w.stats(res), **res["noise"]) for res in windows]
    e2e = {"setup_s": setup_s, **{k: stats[0][k] for k in E2E if k != "setup_s"}}
    detail = {"workload": name, "seed": run.seed, "cpus": run.cpus, "peak_rss_mb": rss,
              "setup_wall_s": setup_wall_s, "untraced": stats[0]}
    if run.trace:
        # the traced window sits between two untraced ones, so warm-up that
        # is still going on does not pass for tracing overhead
        detail["traced"], detail["untraced_after"] = stats[1], stats[2]
        traced, before, after = stats
        detail["tracing_overhead"] = {k: traced[k] - (before[k] + after[k]) / 2
                                      for k in TRACED_E2E if traced.get(k) is not None}
        run.engine.command(cmd="listener", on=True)
        metrics = dict(w.trace(), **{f"jvm.{k}_cpu_ms_per_op": stats[0][f"{k}_cpu_ms_per_op"]
                                     for k in ("jit", "gc")})
        units = LAYER_UNITS
    else:
        metrics, units = e2e, E2E
    return metrics, units, detail


def print_expected(run, name):
    """The DuckDB answers a run checks against, for the first round of the
    seed's window (ingest: the generator's first batches)."""
    def show(label, value):
        print(json.dumps({"op": label, "expected": value}, default=str))
    if name == "interactive":
        for op in wl.interactive_round(random.Random(f"{run.seed}:untraced")):
            show(f"{op.name} {op.fmt}: {op.sql}", run.oracle.rows(op.sql))
    elif name == "ingest_poll":
        for k in range(IngestPoll(run).rounds()):
            t = wl.ingest_batch(run.seed, k)
            cats = t.column("category").to_pylist()
            show(f"batch {k}", {"rows": t.num_rows, "sum_value": sum(t.column("value").to_pylist()),
                                **{c: cats.count(c) for c in "ABCD"}})
    else:
        run.launch(serve=False)  # the oracle SQL is the program's SparkEntry.oracleSql
        for e in wl.BATCH_ENTRIES:
            sql = run.engine.command(cmd="oracle_sql", name=e)["sql"]
            show(e, run.oracle.con.sql(sql).fetchall())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expected", action="store_true",
                    help="print the DuckDB answers the run checks against, and exit")
    args = ap.parse_args()
    try:
        if not os.path.isdir(FIXTURES):
            raise harness.BenchError(f"fixtures not found: {FIXTURES}")
        classpath = harness.build()
    except harness.BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = harness.make_workdir()
    run = Run(args, classpath, work)

    def hung():
        run.hung = True
        if run.engine is not None:
            run.engine.stop()
    watchdog = threading.Timer(RUN_TIMEOUT_S, hung)
    watchdog.daemon = True
    watchdog.start()
    metrics, units, detail = {}, {}, {}
    try:
        if args.expected:
            print_expected(run, args.workload)
            return 0
        metrics, units, detail = run_workload(run, args.workload)
    except harness.BenchError as e:
        if not run.hung:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
    finally:
        watchdog.cancel()
        if run.engine is not None:
            run.engine.stop()
        harness.remove_workdir(work)
    if run.hung:
        # the run is one more failed operation; its metrics are left out
        run.attempted += 1
        run.failures.insert(0, f"run exceeded {RUN_TIMEOUT_S}s; engine killed")
        metrics = {}
    detail["failures"] = run.failures[:5]
    print(json.dumps({"detail": detail}))
    for why in run.failures[:5]:
        print(f"perfbench: failed: {why}", file=sys.stderr)
    failed = len(run.failures)
    result = {"correct": failed == 0, "attempted": run.attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result))
    return 1 if run.hung else 0


if __name__ == "__main__":
    sys.exit(main())
