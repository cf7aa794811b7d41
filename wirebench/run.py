#!/usr/bin/env python3
"""pg-wire benchmark: seeded closed-loop clients against one WireServer.

Usage (from the repository root)::

    python3 wirebench/run.py --workload analyst_tpch --seed 1 --seconds 10 --trace 0

One run reads the repository's TPC-H-shaped test parquet at scale factor
0.01 (``$WIREBENCH_SF_DIR`` overrides the directory; by default it is the
``sf0.01`` sibling of ``bemidb_spark.tables.DEFAULT_SF_DIR``), draws the
statement streams from ``--seed``, computes the expected results with DuckDB,
then sets up the engine (JVM, table views over the parquet, the bucketed
``kv`` catalog table, WireServer and its session pool, warm-up), drives the
workload in whole units until ``--seconds`` have passed and checks every
result. Workloads:

- ``analyst_tpch``: 1 client runs the 22 TPC-H texts in seed-shuffled passes
  under ``SET bemidb.plan_cache_mode = reexecute``, two passes a unit.
- ``bi_upsert``: rounds of 1 BI client opening a fresh connection per session
  (psql ``\\dt`` and ``\\d``, then seeded point lookups, a one-month
  aggregate and a top-k), next to 1 writer that upserts/updates/deletes/
  vacuums ``kv`` and reads each write back and 1 reader that reads ``kv``
  under the snapshot check; the writer's and reader's statements take turns.

Every line but the last is a report; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). ``correct`` is true when every statement succeeded with the
expected result; ``failed`` counts the statements that did not. Everything
the run writes lives under ``.wirebench/`` in the current directory and is
removed at exit, except the traced run's spans.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import shutil
import signal
import statistics
import struct
import sys
import threading
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("analyst_tpch", "bi_upsert")
SF_NAME = "sf0.01"
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
# untimed passes before the window: the first compiles every query (about
# four times a later pass); the passes after it still speed up, by ~10% a
# pass, but the budget of a run leaves room for no second one
ANALYST_WARM_PASSES = 1
# passes per unit of the window; one pass alone spread more between runs
ANALYST_UNIT_PASSES = 2
CLIENT_TIMEOUT_S = 150.0
CPUS = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else (os.cpu_count() or 4)
DRIVER_MEM = "2g"  # the engine's own default (24g) exceeds a 15 GB host's memory
UNITS = {
    "setup_s": "s", "read_p50_ms": "ms", "read_p90_ms": "ms",
    "write_p50_ms": "ms", "write_p90_ms": "ms", "throughput_sps": "stmt/s",
    "error_rate": "ratio", "jvm_rss_peak_mb": "MB",
    "stored_bytes_per_user_byte": "ratio",
}
# The result line's metrics: those every workload has and whose run-to-run
# spread stays within their bound. The others are printed as report lines
# (p90: a run has fewer than ten reads beyond it; writes: a handful per run).
END_TO_END = ("setup_s", "read_p50_ms", "throughput_sps", "jvm_rss_peak_mb")


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _data_dir() -> str:
    if os.environ.get("WIREBENCH_SF_DIR"):
        return os.environ["WIREBENCH_SF_DIR"]
    from bemidb_spark.tables import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), SF_NAME)


def _isolate(run_dir: str) -> None:
    """Private scratch, warehouse and spill roots; sized to the usable cores."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE_ROOT"] = os.path.join(run_dir, "warehouse")


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


class Client:
    """One pg connection driven closed loop; records every statement."""

    def __init__(self, bench: "Bench", name: str) -> None:
        self.bench = bench
        self.name = name
        self.conn = None
        self.pid = None
        self.ordinal = 0
        self.connect_ms = None
        self.records: list[dict] = []

    def connect(self) -> None:
        from bemidb_spark.server.minipg import MiniPgClient

        t0 = time.perf_counter()
        self.conn = MiniPgClient(self.bench.srv.host, self.bench.srv.port,
                                 timeout=CLIENT_TIMEOUT_S)
        self.connect_ms = (time.perf_counter() - t0) * 1000
        key = [b for t, b in self.conn.startup_messages if t == b"K"]
        self.pid = struct.unpack("!II", key[0][:8])[0] if key else None
        self.ordinal = 0

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None

    def run(self, stmt, cls: str, sql: str | None = None, **extra) -> dict:
        """Send one statement; ``cls`` is read/write/setup."""
        sql = sql or stmt.sql
        self.ordinal += 1
        rec = {"client": self.name, "kind": stmt.kind, "cls": cls, "pid": self.pid,
               "ordinal": self.ordinal, "connect_ms": self.connect_ms, "text": sql,
               "phase": self.bench.phase, **extra}
        self.connect_ms = None  # charged to the connection's first statement
        rec["start"] = time.perf_counter()
        try:
            result = self.conn.query(sql)
        except OSError as exc:
            result = {"errors": [{"C": "net", "M": str(exc)}], "rows": [],
                      "columns": [], "oids": [], "tags": []}
        rec["end"] = time.perf_counter()
        rec["result"] = result
        self.records.append(rec)
        return rec


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str, src: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.src = src
        self.deadline = float("inf")
        self.phase = "setup"  # then "window"; a traced run adds "traced", "window2"
        self.window_starts: dict[str, float] = {}
        self.problems: list[str] = []
        self.stop = threading.Event()
        # the kv writer and reader take turns: a read that overlaps a commit
        # rewriting its bucket files fails (see README, "kv statements take turns")
        self.kv_lock = threading.Lock()
        self.tracer = None
        self.setup_phases: dict[str, float] = {}

    # ------------------------------------------------------------ inputs
    def prepare(self) -> None:
        import workloads
        from check import KvModel, Oracle

        a = self.args
        self.oracle = Oracle(self.src, TPCH_TABLES)
        self.n_orders, = self.oracle.con.execute("SELECT COUNT(*) FROM orders").fetchone()
        base = self.oracle.con.execute(
            "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders").fetchall()
        self.model = KvModel({k: (Decimal(repr(v)), s) for k, v, s in base})
        # statement streams and their expected results, before any timing;
        # the streams hold ~30x what the server serves in a window today
        self.expected: dict[str, tuple] = {}
        if a.workload == "analyst_tpch":
            for stmt in workloads.analyst_pass(a.seed, 1):
                self.expected[stmt.sql] = self.oracle.expect(stmt.sql)
        else:
            window_s = a.seconds * (3 if a.trace else 1)
            self.writes = workloads.writer_ops(a.seed, int(window_s * 10) + 40, self.n_orders)
            self.reads = workloads.reader_ops(a.seed, int(window_s * 40) + 160, self.n_orders)
            self.sessions = workloads.bi_sessions(a.seed, int(window_s) + 4, self.n_orders)
            for session in self.sessions:
                for stmt in session:
                    if stmt.kind == "oracle":
                        self.expected[stmt.sql] = self.oracle.expect(stmt.sql)
            self.described = {t: self.oracle.columns(t) for t in workloads.DESCRIBED_TABLES}

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        t0 = time.perf_counter()
        from bemidb_spark.session import build_session

        self.spark = build_session(app_name="wirebench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
            # JVM warnings to stderr: stdout carries the result line
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Xlog:all=warning:stderr "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self._phase("jvm", t0)
        from bemidb_spark.sources.catalog import Catalog
        from bemidb_spark.sources.writer import write_bucketed_table
        from bemidb_spark.tables import load_tables, register_views

        t = time.perf_counter()
        register_views(self.spark, self.src)
        self._phase("views", t)
        t = time.perf_counter()
        self.catalog_root = os.path.join(self.run_dir, "catalog")
        self.catalog = Catalog(self.catalog_root)
        if self.args.workload == "bi_upsert":  # the analyst never reads kv
            orders = load_tables(self.spark, self.src)["orders"]
            write_bucketed_table(self.spark, self.catalog, "public", "kv",
                                 orders.select("o_orderkey", "o_custkey", "o_orderstatus",
                                               "o_totalprice"),
                                 ["o_orderkey"], n_buckets=8)
            self.fresh_bytes_per_row = (
                _dir_bytes(self.catalog.location("public", "kv")) / self.n_orders)
        self._phase("catalog", t)
        t = time.perf_counter()
        from bemidb_spark.server.wire import WireServer

        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark, self.catalog_root)
            self.tracer.install()
        self.srv = WireServer(self.spark, self.catalog)
        self.srv.start()
        while len(self.srv._session_pool) < self.srv._pool_target:
            time.sleep(0.01)
        self._phase("server", t)
        t = time.perf_counter()
        self.clients = self.warm_up()
        self._phase("warm_up", t)
        self.setup_s = time.perf_counter() - t0

    def _phase(self, name: str, t: float) -> None:
        self.setup_phases[name] = round(time.perf_counter() - t, 3)

    def warm_up(self) -> list:
        import workloads

        if self.args.workload == "analyst_tpch":
            c = Client(self, "analyst")
            c.connect()
            from check import wire_error

            rec = c.run(workloads.Stmt("set", "SET bemidb.plan_cache_mode = reexecute"), "setup")
            self._verdict(rec, wire_error(rec["result"]))
            for n in range(ANALYST_WARM_PASSES):
                for stmt in workloads.analyst_pass(self.args.seed, n - ANALYST_WARM_PASSES):
                    self._check_tpch(c.run(stmt, "setup"))
            return [c]
        bi, writer, reader = Client(self, "bi"), Client(self, "writer"), Client(self, "reader")
        writer.connect()
        reader.connect()
        self.cursor = {"writes": 0, "reads": 0, "sessions": 0}
        # every statement shape once: a BI session, a write, a read
        _run_threads([lambda: self._bi_session(bi, "setup"),
                      lambda: self._write(writer, "setup"),
                      lambda: self._read(reader, "setup")])
        return [bi, writer, reader]

    # ------------------------------------------------------------ traffic
    def _check_tpch(self, rec: dict) -> None:
        from check import compare

        self._verdict(rec, compare(rec["result"], self.expected[rec["text"]]))

    def _verdict(self, rec: dict, problem: str | None) -> None:
        """Record the check's outcome: an error reply is a failure, a reply
        that differs from the expectation is a wrong answer (and a failure)."""
        rec["ok"] = problem is None
        if problem is not None:
            wrong = not rec["result"]["errors"]
            rec["wrong"] = wrong
            what = "wrong answer" if wrong else "error"
            self.problems.append(f"{rec['client']} {rec['kind']} {what}: {problem}")
        rec.pop("result", None)

    def _bi_session(self, c: Client, cls: str) -> None:
        import workloads
        from check import compare, wire_error

        n = self.cursor["sessions"]
        if n >= len(self.sessions):
            self.problems.append("bi: statement stream exhausted")
            self.stop.set()
            return
        self.cursor["sessions"] = n + 1
        c.connect()
        oid = None
        try:
            for stmt in self.sessions[n]:
                sql = stmt.sql.format(oid=oid) if "{oid}" in stmt.sql else stmt.sql
                rec = c.run(stmt, cls, sql=sql)
                res = rec["result"]
                problem = wire_error(res)
                if problem is None and stmt.kind == "oracle":
                    problem = compare(res, self.expected[sql])
                elif problem is None and stmt.kind == "dt":
                    names = {r[1] for r in res["rows"]}
                    missing = (set(workloads.DESCRIBED_TABLES) | {workloads.KV_TABLE}) - names
                    problem = f"\\dt misses {sorted(missing)}" if missing else None
                elif problem is None and stmt.kind == "d_oid":
                    if [r[2] for r in res["rows"]] != [stmt.params[0]]:
                        problem = f"\\d lookup returned {res['rows']}"
                    else:
                        oid = res["rows"][0][0]
                elif problem is None and stmt.kind == "d_class":
                    if len(res["rows"]) != 1 or res["rows"][0][1] != "r":
                        problem = f"\\d class details {res['rows']}"
                elif problem is None and stmt.kind == "d_columns":
                    got = [r[0] for r in res["rows"]]
                    if got != self.described[stmt.params[0]]:
                        problem = f"\\d columns {got}"
                elif problem is None and stmt.kind == "d_indexes" and res["rows"]:
                    problem = f"\\d indexes {res['rows']}"
                self._verdict(rec, problem)
        finally:
            c.close()

    def _write(self, c: Client, cls: str) -> None:
        import workloads

        n = self.cursor["writes"]
        if n >= len(self.writes):
            self.problems.append("writer: statement stream exhausted")
            self.stop.set()
            return
        self.cursor["writes"] = n + 1
        stmt = self.writes[n]
        from check import wire_error

        with self.kv_lock:
            tag, rows = self.model.begin_write(stmt.kind, stmt.params)
            rec = c.run(stmt, cls if cls == "setup" else "write",
                        user_bytes=rows * self.fresh_bytes_per_row)
            version = self.model.end_write()
        problem = wire_error(rec["result"])
        if problem is None and rec["result"]["tags"] != [tag]:
            problem = f"tag {rec['result']['tags']} != {tag}"
        self._verdict(rec, problem)
        keys = tuple(sorted({p[0] for p in stmt.params})) if stmt.kind == "upsert" else stmt.params[:1]
        if keys:  # exact read-after-write on the writer's own connection
            back = workloads.Stmt("kv_readback", workloads.KV_POINT_SQL.format(
                keys=", ".join(map(str, keys))), keys)
            with self.kv_lock:
                rec = c.run(back, "setup" if cls == "setup" else "read")
            self._verdict(rec, self.model.check_point(rec["result"], keys, version, version))

    def _read(self, c: Client, cls: str) -> None:
        n = self.cursor["reads"]
        if n >= len(self.reads):
            self.problems.append("reader: statement stream exhausted")
            self.stop.set()
            return
        self.cursor["reads"] = n + 1
        stmt = self.reads[n]
        with self.kv_lock:
            lo, _ = self.model.bounds()
            rec = c.run(stmt, cls)
            _, hi = self.model.bounds()
        if stmt.kind == "kv_point":
            problem = self.model.check_point(rec["result"], stmt.params, lo, hi)
        else:
            problem = self.model.check_range(rec["result"], *stmt.params, lo, hi)
        self._verdict(rec, problem)

    def _loop(self, step) -> None:
        """Run ``step`` whole until the deadline."""
        while not self.stop.is_set() and time.perf_counter() < self.deadline:
            step()

    def window(self, phase: str) -> None:
        """Drive the workload for ``--seconds`` (whole units of work)."""
        import workloads

        self.phase = phase
        start = self.window_starts[phase] = time.perf_counter()
        self.deadline = start + self.args.seconds
        if self.tracer is not None:
            self.tracer.active = phase == "traced"
        if self.args.workload == "analyst_tpch":
            c = self.clients[0]
            passes = iter(range(1, 1_000_000))

            def analyst() -> None:
                for _ in range(ANALYST_UNIT_PASSES):
                    for stmt in workloads.analyst_pass(self.args.seed, next(passes)):
                        self._check_tpch(c.run(stmt, "read"))

            workers = [lambda: self._loop(analyst)]
        else:
            bi, writer, reader = self.clients

            def bi_round() -> None:
                """BI sessions next to a fixed number of writes and reads,
                so every round carries the same statement mix."""
                _run_threads([
                    lambda: [self._bi_session(bi, "read") for _ in range(workloads.ROUND_SESSIONS)],
                    lambda: [self._write(writer, "write") for _ in range(workloads.ROUND_WRITES)],
                    lambda: [self._read(reader, "read") for _ in range(workloads.ROUND_READS)]])

            workers = [lambda: self._loop(bi_round)]
        _run_threads(workers)
        if self.tracer is not None:
            self.tracer.active = False

    # ------------------------------------------------------------ metrics
    def stored_ratio(self) -> float:
        """Bytes under kv's live location over the bytes of the same rows
        written once, fresh, with the same layout."""
        from bemidb_spark.sources.catalog import Catalog
        from bemidb_spark.sources.writer import read_table, write_bucketed_table

        live = _dir_bytes(self.catalog.location("public", "kv"))
        fresh = Catalog(os.path.join(self.run_dir, "fresh"))
        rows = read_table(self.spark, self.catalog, "public", "kv")
        write_bucketed_table(self.spark, fresh, "public", "kv", rows, ["o_orderkey"], n_buckets=8)
        return live / _dir_bytes(fresh.location("public", "kv"))

    def jvm_rss_peak_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the JVM")

    def _phase_records(self, phase: str, ok_only: bool = True) -> list[dict]:
        """The window's timed statements; failed ones only when asked, so a
        statement that errors out fast never counts as a fast one."""
        return [r for c in self.clients for r in c.records
                if r["phase"] == phase and r["cls"] in ("read", "write")
                and (r["ok"] or not ok_only)]

    def _throughput(self, phase: str) -> float:
        """Successful statements of all clients over the time from window
        start to the last reply."""
        timed = self._phase_records(phase, ok_only=False)
        return (sum(1 for r in timed if r["ok"])
                / (max(r["end"] for r in timed) - self.window_starts[phase]))

    def measure(self) -> tuple[dict, dict]:
        from bemidb_spark.telemetry import (
            bw_canary_mt_sec, bw_canary_sec, cpu_stat, gc_delta, jvm_gc_stats, steal_pct)

        bw_canary_sec()  # allocation, untimed
        bw_canary_mt_sec(threads=CPUS)
        host = {"bw_canary_sec": bw_canary_sec(),
                "bw_canary_mt_sec": bw_canary_mt_sec(threads=CPUS)}
        cpu0, gc0 = cpu_stat(), jvm_gc_stats(self.spark)
        self.window("window")
        host["steal_pct"] = steal_pct(cpu0, cpu_stat())
        host["window_gc_ms"] = gc_delta(gc0, jvm_gc_stats(self.spark))["gc_ms"]
        if self.tracer is not None:
            # the same traffic traced, then untraced again: the overhead
            # compares against both untraced windows, so warming JIT state
            # and a growing kv table do not favour the traced one
            gc0 = jvm_gc_stats(self.spark)
            self.window("traced")
            self.traced_gc_ms = gc_delta(gc0, jvm_gc_stats(self.spark))["gc_ms"]
            self.window("window2")
        timed = self._phase_records("window")
        reads = [(r["end"] - r["start"]) * 1000 for r in timed if r["cls"] == "read"]
        writes = [(r["end"] - r["start"]) * 1000 for r in timed if r["cls"] == "write"]
        tps = self._throughput("window")
        everything = [r for c in self.clients for r in c.records]
        failed = sum(1 for r in everything if not r["ok"])
        wrong = sum(1 for r in everything if r.get("wrong"))
        e2e = {
            "setup_s": self.setup_s,
            "read_p50_ms": statistics.median(reads),
            "read_p90_ms": _pct(reads, 0.9),
            "write_p50_ms": statistics.median(writes) if writes else None,
            "write_p90_ms": _pct(writes, 0.9) if writes else None,
            "throughput_sps": tps,
            "error_rate": failed / len(everything),
            "jvm_rss_peak_mb": self.jvm_rss_peak_mb(),
            "stored_bytes_per_user_byte": self.stored_ratio() if writes else None,
        }
        report = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "data": os.path.basename(self.src.rstrip("/")), "cpus": CPUS,
            "driver_mem": DRIVER_MEM, "clients": len(self.clients),
            "samples": {"read": len(reads), "write": len(writes)},
            "attempted": len(everything), "failed": failed, "wrong_answers": wrong,
            "problems": self.problems[:10],
            "setup_phases": self.setup_phases,
            "by_kind_p50_ms": _by_kind(timed),
            "window_s": round(max(r["end"] for r in timed) - self.window_starts["window"], 3),
            "host": host,
        }
        return e2e, report

    def layer_report(self) -> dict:
        from spans import layer_metrics

        spans = self.tracer.spans
        out = layer_metrics(spans, self._phase_records("traced"), self.traced_gc_ms)
        traced_sps = self._throughput("traced")
        before, after = (self._throughput(p) for p in ("window", "window2"))
        untraced_sps = (before + after) / 2
        out["trace.traced_sps"] = traced_sps
        out["trace.untraced_sps"] = untraced_sps
        out["trace.overhead"] = 1.0 - traced_sps / untraced_sps
        out["trace.untraced_spread"] = abs(before - after) / untraced_sps
        path = os.path.join(os.path.dirname(self.run_dir),
                            f"spans-{self.args.workload}-{self.args.seed}.jsonl")
        with open(path, "w") as fh:
            for s in spans:
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")
        return out

    def teardown(self) -> None:
        for c in getattr(self, "clients", []):
            c.close()
        if getattr(self, "srv", None) is not None:
            self.srv.stop()
        if self.tracer is not None:
            self.tracer.uninstall()
        if getattr(self, "spark", None) is not None:
            _stop_jvm(self.spark)
        if getattr(self, "oracle", None) is not None:
            self.oracle.close()


def _by_kind(records: list[dict]) -> dict[str, float]:
    kinds: dict[str, list[float]] = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append((r["end"] - r["start"]) * 1000)
    return {k: round(statistics.median(v), 2) for k, v in sorted(kinds.items())}


def _dir_bytes(path: str) -> int:
    path = path.removeprefix("file:")
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _run_threads(targets: list) -> None:
    errors: list[BaseException] = []

    def guard(fn) -> None:
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised after join
            errors.append(exc)

    threads = [threading.Thread(target=guard, args=(t,), daemon=True) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a stuck JVM must still go
            proc.kill()
            proc.wait()


def _remove(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))  # only when no spans were kept
    except OSError:
        pass


def main(argv: list[str]) -> int:
    args = _args(argv)
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    run_dir = os.path.join(root, ".wirebench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    sys.path[:0] = [HERE, root]
    try:
        import bemidb_spark  # noqa: F401 — the program under test
    except ImportError as exc:
        _remove(run_dir)
        print(f"wirebench: the program is not here: {exc}", file=sys.stderr)
        return 2
    src = _data_dir()
    if not all(os.path.exists(os.path.join(src, f"{t}.parquet")) for t in TPCH_TABLES):
        _remove(run_dir)
        print(f"wirebench: no TPC-H parquet under {src}", file=sys.stderr)
        return 2
    bench = Bench(args, run_dir, src)
    try:
        bench.prepare()
        bench.setup()
        e2e, report = bench.measure()
        layers = bench.layer_report() if args.trace else None
    finally:
        bench.teardown()
        _remove(run_dir)
    for name in UNITS:
        if e2e[name] is not None:  # write metrics exist where writes ran
            print(f"{args.workload} {name} = {e2e[name]:.6g} {UNITS[name]}")
    print("report " + json.dumps(report, sort_keys=True))
    if layers is not None:
        from spans import LAYER_UNITS

        if layers["trace.untraced_spread"] > abs(layers["trace.overhead"]):
            print(f"trace overhead unresolved: {layers['trace.overhead']:.3f} is inside the "
                  f"untraced windows' spread {layers['trace.untraced_spread']:.3f}")

        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": report["failed"] == 0,
                      "attempted": report["attempted"], "failed": report["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
