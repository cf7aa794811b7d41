"""Traced runs: spans recorded around the calls into each layer.

The wrappers live here, not in the engine. Each one replaces a name where
its caller looks it up (``pgcompat.session.transpile``, the ``sources.writer``
names imported into ``pgcompat.dml``, methods on ``PgSession``, ``_Conn``,
``WireServer`` and ``Catalog``), so the engine's code is unchanged.

A statement is one simple-protocol Query on a connection. Its root span is
``wire.statement`` (``_Conn._dispatch``). Every span recorded in the serving
thread while the root is open shares the root's statement id; a span's parent
is the innermost span open when it started. Catalyst phases (read from each
Dataset's ``queryExecution().tracker()``) and Spark jobs (``statusTracker``
over the connection's job group) are attached when the root closes.

Spans stay in memory; ``run.py`` writes them out at exit and derives the
per-layer numbers with :func:`layer_metrics`.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import threading
import time
from dataclasses import dataclass, field

WIRE_MODULE = "bemidb_spark.server.wire"
SELECT_HEADS = ("SELECT", "WITH", "VALUES", "TABLE", "(")
DML_HEADS = ("INSERT", "UPDATE", "DELETE", "MERGE", "VACUUM")
_INHERITED = object()
# every per-layer metric of a traced run, with its unit
LAYER_UNITS = {
    "wire.connect_ms": "ms", "wire.checkout_ms": "ms", "wire.pool_hit_ratio": "ratio",
    "wire.residual_ms": "ms", "session.execute_self_ms": "ms",
    "session.plan_cache_hit_ratio": "ratio", "catalog_views.register_ms": "ms",
    "catalog_views.register_calls": "count", "transpiler.transpile_ms": "ms",
    "transpiler.calls": "count", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "spark.jobs_per_stmt": "count", "spark.tasks_per_stmt": "count",
    "fetch.ms": "ms", "fetch.stream_ratio": "ratio", "dml.self_ms": "ms",
    "writer.ms": "ms", "writer.files_added": "count",
    "writer.bytes_per_user_byte": "ratio", "catalog.commit_ms": "ms",
    "catalog.version_ms": "ms", "catalog.version_calls": "count",
    "jvm.gc_ms": "ms", "trace.statements": "count",
    "trace.uncovered_share": "ratio", "trace.traced_sps": "stmt/s",
    "trace.untraced_sps": "stmt/s", "trace.overhead": "ratio",
    "trace.untraced_spread": "ratio",
}
WRITER_NAMES = ("append_rows", "write_bucketed_table", "replace_table",
                "upsert_by_key", "delete_by_key", "compact_table",
                "expire_snapshots")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    stmt: int | None
    attrs: dict = field(default_factory=dict)


@dataclass
class _Stmt:
    id: int
    stack: list
    spans: list
    dfs: list
    fast_fetch_s: float = 0.0


class Tracer:
    """Installs the wrappers once; ``active`` switches recording on and off
    between statements (a statement is traced whole or not at all)."""

    def __init__(self, spark, catalog_root: str) -> None:
        self.spark = spark
        self.catalog_root = catalog_root
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ordinals: dict[int, int] = {}
        self._undo: list[tuple[object, str, object]] = []
        # perf_counter = epoch_ms / 1000 - offset: Catalyst stamps epoch ms
        self._epoch_offset = time.time() - time.perf_counter()

    # ------------------------------------------------------------ install
    def install(self) -> None:
        from bemidb_spark.pgcompat import dml, session
        from bemidb_spark.server import wire
        from bemidb_spark.sources import catalog, writer
        from pyspark.sql.classic.dataframe import DataFrame

        self._patch(wire._Conn, "_dispatch", self._root)
        self._patch(wire._Conn, "__init__", self._checkout)
        self._patch(wire.WireServer, "take_session", self._take_session)
        self._patch(session.PgSession, "execute",
                    lambda fn: self._wrap("session.execute", fn, self._on_execute))
        for mod in (session, dml):
            self._patch(mod, "transpile",
                        lambda fn: self._wrap("transpiler.transpile", fn))
        self._patch(session, "register_pg_catalog",
                    lambda fn: self._wrap("catalog_views.register", fn))
        self._patch(dml, "handle_dml", lambda fn: self._wrap("dml.handle", fn))
        for mod in (dml, writer):
            for name in WRITER_NAMES:
                if hasattr(mod, name):
                    self._patch(mod, name, lambda fn, n=name: self._wrap(
                        f"writer.{n}", fn))
        self._patch(catalog.Catalog, "commit_table",
                    lambda fn: self._wrap("catalog.commit", fn))
        self._patch(catalog.Catalog, "version",
                    lambda fn: self._wrap("catalog.version", fn))
        for name in ("toArrow", "collect"):
            self._patch(DataFrame, name, lambda fn, n=name: self._fetch(n, fn))
        self._patch(DataFrame, "toLocalIterator", self._fetch_stream)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._undo):
            if original is _INHERITED:
                delattr(owner, name)
            else:
                setattr(owner, name, original)
        self._undo.clear()

    def _patch(self, owner, name: str, make) -> None:
        self._undo.append((owner, name, vars(owner).get(name, _INHERITED)))
        setattr(owner, name, make(getattr(owner, name)))

    # ------------------------------------------------------------ spans
    def _ctx(self) -> _Stmt | None:
        return getattr(self._local, "stmt", None)

    def _wrap(self, name: str, fn, on_exit=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            ctx = tracer._ctx()
            if ctx is None:
                return fn(*args, **kwargs)
            sid = next(tracer._ids)
            parent = ctx.stack[-1]
            ctx.stack.append(sid)
            attrs: dict = {}
            t0 = time.perf_counter()
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                t1 = time.perf_counter()
                ctx.stack.pop()
                if on_exit is not None:
                    on_exit(ctx, attrs, args, out)
                ctx.spans.append(Span(sid, name, t0, t1, parent, ctx.id, attrs))

        return wrapper

    def _on_execute(self, ctx: _Stmt, attrs: dict, args, out) -> None:
        sql = args[1] if len(args) > 1 else ""
        attrs["head"] = (sql.lstrip().split(None, 1) or [""])[0].upper()[:8]
        if out is not None and hasattr(out, "_jdf"):
            ctx.dfs.append(out)

    def _fetch(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            ctx = tracer._ctx()
            if ctx is None or sys._getframe(1).f_globals.get("__name__") != WIRE_MODULE:
                return fn(df, *args, **kwargs)
            ctx.dfs.append(df)
            return tracer._wrap(f"fetch.{name}", fn)(df, *args, **kwargs)

        return wrapper

    def _fetch_stream(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            ctx = tracer._ctx()
            if ctx is None or sys._getframe(1).f_globals.get("__name__") != WIRE_MODULE:
                return fn(df, *args, **kwargs)
            ctx.dfs.append(df)
            rows = tracer._wrap("fetch.toLocalIterator", fn)(df, *args, **kwargs)
            return tracer._timed_rows(ctx, iter(rows))

        return wrapper

    def _timed_rows(self, ctx: _Stmt, rows):
        """Time each row pull of a streamed result: pulls that wait on a
        partition job become ``fetch.next`` spans, the rest are summed."""
        while True:
            t0 = time.perf_counter()
            try:
                row = next(rows)
            except StopIteration:
                return
            t1 = time.perf_counter()
            if t1 - t0 >= 0.0005:
                ctx.spans.append(Span(next(self._ids), "fetch.next", t0, t1,
                                      ctx.stack[-1], ctx.id))
            else:
                ctx.fast_fetch_s += t1 - t0
            yield row

    # ------------------------------------------------------------ roots
    def _root(self, fn):
        tracer = self

        @functools.wraps(fn)
        def dispatch(conn, msg_type, body):
            if msg_type != b"Q":
                return fn(conn, msg_type, body)
            with tracer._lock:
                ordinal = tracer._ordinals.get(conn.backend_pid, 0) + 1
                tracer._ordinals[conn.backend_pid] = ordinal
            if not tracer.active:
                return fn(conn, msg_type, body)
            status = tracer.spark.sparkContext.statusTracker()
            jobs_before = set(status.getJobIdsForGroup(conn.job_group))
            head = (body[:32].decode(errors="replace").split() or [""])[0].upper()
            files_before = tracer.catalog_files() if head in DML_HEADS else None
            sid = next(tracer._ids)
            ctx = _Stmt(sid, [sid], [], [])
            tracer._local.stmt = ctx
            t0 = time.perf_counter()
            try:
                return fn(conn, msg_type, body)
            finally:
                t1 = time.perf_counter()
                tracer._local.stmt = None
                new_jobs = sorted(set(status.getJobIdsForGroup(conn.job_group)) - jobs_before)
                tasks = 0
                for jid in new_jobs:
                    info = status.getJobInfo(jid)
                    for stage in (info.stageIds if info else ()):
                        sinfo = status.getStageInfo(stage)
                        tasks += sinfo.numTasks if sinfo else 0
                attrs = {"pid": conn.backend_pid, "ordinal": ordinal,
                         "jobs": len(new_jobs), "tasks": tasks,
                         "fast_fetch_ms": ctx.fast_fetch_s * 1000.0}
                if files_before is not None:
                    added = {p: b for p, b in tracer.catalog_files().items()
                             if p not in files_before}
                    attrs["files_added"] = len(added)
                    attrs["new_bytes"] = sum(added.values())
                spans = ctx.spans + tracer._catalyst_spans(ctx, t0)
                spans.append(Span(sid, "wire.statement", t0, t1, None, sid, attrs))
                with tracer._lock:
                    tracer.spans.extend(spans)

        return dispatch

    def _catalyst_spans(self, ctx: _Stmt, t0: float) -> list[Span]:
        """One span per Catalyst phase that ran during this statement."""
        out, seen = [], set()
        for df in ctx.dfs:
            try:
                phases = df._jdf.queryExecution().tracker().phases()
            except Exception:  # noqa: BLE001 — Datasets without a tracker
                continue
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if not opt.isDefined():
                    continue
                summary = opt.get()
                start = summary.startTimeMs() / 1000.0 - self._epoch_offset
                end = summary.endTimeMs() / 1000.0 - self._epoch_offset
                key = (phase, summary.startTimeMs(), summary.endTimeMs())
                if start < t0 - 0.002 or key in seen:
                    continue  # ran for an earlier statement (cached plan)
                seen.add(key)
                out.append(Span(next(self._ids), f"catalyst.{phase}", start, end,
                                None, ctx.id))
        return out

    def _checkout(self, fn):
        tracer = self

        @functools.wraps(fn)
        def init(conn, *args, **kwargs):
            tracer._local.pool_hit = None
            t0 = time.perf_counter()
            fn(conn, *args, **kwargs)
            t1 = time.perf_counter()
            if tracer.active:
                span = Span(next(tracer._ids), "wire.checkout", t0, t1, None, None,
                            {"pid": conn.backend_pid, "pool_hit": tracer._local.pool_hit})
                with tracer._lock:
                    tracer.spans.append(span)

        return init

    def _take_session(self, fn):
        tracer = self

        @functools.wraps(fn)
        def take(server):
            out = fn(server)
            tracer._local.pool_hit = out is not None
            return out

        return take

    # ------------------------------------------------------------ files
    def catalog_files(self) -> dict[str, int]:
        out = {}
        for root, _dirs, files in os.walk(self.catalog_root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    try:
                        out[p] = os.path.getsize(p)
                    except OSError:
                        pass
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _self_time(span: Span, children: list[Span]) -> float:
    inner = [(max(c.start, span.start), min(c.end, span.end)) for c in children
             if c.end > span.start and c.start < span.end]
    return span.end - span.start - _union(inner)


def _contained(span: Span, candidates: list[Span]) -> Span | None:
    """The innermost candidate whose interval holds ``span``."""
    best = None
    for c in candidates:
        if c is span or c.start > span.start + 0.002 or c.end < span.end - 0.002:
            continue
        if best is None or (c.end - c.start) < (best.end - best.start):
            best = c
    return best


def layer_metrics(spans: list[Span], client: list[dict], gc_ms: float) -> dict[str, float]:
    """Per-layer numbers from the spans of the traced statements.

    ``client`` holds the client's record of every statement (pid, ordinal,
    start, end, and for DML the bytes of its rows written once fresh) so each
    root can be joined to the latency the client saw."""
    by_stmt: dict[int, list[Span]] = {}
    checkouts = [s for s in spans if s.name == "wire.checkout"]
    for s in spans:
        if s.stmt is not None:
            by_stmt.setdefault(s.stmt, []).append(s)
    roots = {s.stmt: s for s in spans if s.name == "wire.statement"}
    by_key = {(c["pid"], c["ordinal"]): c for c in client}
    acc: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        acc[key] = acc.get(key, 0.0) + v

    n = lat_total = 0.0
    for sid, root in roots.items():
        c = by_key.get((root.attrs["pid"], root.attrs["ordinal"]))
        if c is None:
            continue
        members = [s for s in by_stmt[sid] if s is not root]
        for s in members:  # Catalyst spans take the innermost enclosing span
            if s.parent is None:
                enclosing = _contained(s, [m for m in members if not m.name.startswith("catalyst.")])
                s.parent = enclosing.id if enclosing else sid
        kids: dict[int, list[Span]] = {}
        for s in members:
            kids.setdefault(s.parent, []).append(s)
        n += 1
        latency = c["end"] - c["start"]
        lat_total += latency
        covered = _union([(max(s.start, c["start"]), min(s.end, c["end"]))
                          for s in members if s.end > c["start"] and s.start < c["end"]])
        add("wire.residual_ms", (latency - covered) * 1000)
        add("spark.jobs", root.attrs["jobs"])
        add("spark.tasks", root.attrs["tasks"])
        fetch = [s for s in members if s.name.startswith("fetch.")]
        if fetch or root.attrs["fast_fetch_ms"]:
            add("fetch.statements", 1)
            add("fetch.ms", _union([(s.start, s.end) for s in fetch]) * 1000
                + root.attrs["fast_fetch_ms"])
            if any(s.name == "fetch.toLocalIterator" for s in fetch):
                add("fetch.streamed", 1)
        is_dml = False
        for s in members:
            ms = (s.end - s.start) * 1000
            if s.name == "session.execute":
                add("session.execute_self_ms", _self_time(s, kids.get(s.id, [])) * 1000)
                transpiled = any(k.name == "transpiler.transpile" for k in members
                                 if s.start <= k.start <= s.end)
                dml = any(k.name == "dml.handle" for k in kids.get(s.id, []))
                if s.attrs.get("head", "").startswith(SELECT_HEADS) and not dml:
                    add("session.select_executes", 1)
                    add("session.plan_cache_hits", 0 if transpiled else 1)
            elif s.name == "transpiler.transpile":
                add("transpiler.transpile_ms", ms)
                add("transpiler.calls", 1)
            elif s.name == "catalog_views.register":
                add("catalog_views.register_ms", ms)
                add("catalog_views.register_calls", 1)
            elif s.name.startswith("catalyst."):
                add(f"{s.name}_ms", ms)
            elif s.name == "dml.handle":
                is_dml = True
                add("dml.self_ms", _self_time(s, kids.get(s.id, [])) * 1000)
            elif s.name == "catalog.commit":
                add("catalog.commit_ms", ms)
            elif s.name == "catalog.version":
                add("catalog.version_ms", ms)
                add("catalog.version_calls", 1)
        writes = [s for s in members if s.name.startswith("writer.")]
        if writes:
            add("writer.ms", _union([(s.start, s.end) for s in writes]) * 1000)
        if is_dml:
            add("dml.statements", 1)
            add("writer.files_added", root.attrs.get("files_added", 0))
            add("writer.new_bytes", root.attrs.get("new_bytes", 0))
            add("writer.user_bytes", c.get("user_bytes", 0))
    n = max(n, 1)
    dml_n = max(acc.get("dml.statements", 0.0), 1)
    conns = max(len(checkouts), 1)
    out = {
        "wire.connect_ms": _median([c["connect_ms"] for c in client if c.get("connect_ms") is not None]),
        "wire.checkout_ms": sum((s.end - s.start) * 1000 for s in checkouts) / conns,
        "wire.pool_hit_ratio": sum(1 for s in checkouts if s.attrs["pool_hit"]) / conns,
        "wire.residual_ms": acc.get("wire.residual_ms", 0.0) / n,
        "session.execute_self_ms": acc.get("session.execute_self_ms", 0.0) / n,
        "session.plan_cache_hit_ratio": acc.get("session.plan_cache_hits", 0.0)
        / max(acc.get("session.select_executes", 0.0), 1),
        "catalog_views.register_ms": acc.get("catalog_views.register_ms", 0.0) / n,
        "catalog_views.register_calls": acc.get("catalog_views.register_calls", 0.0) / n,
        "transpiler.transpile_ms": acc.get("transpiler.transpile_ms", 0.0) / n,
        "transpiler.calls": acc.get("transpiler.calls", 0.0) / n,
        "catalyst.analysis_ms": acc.get("catalyst.analysis_ms", 0.0) / n,
        "catalyst.optimization_ms": acc.get("catalyst.optimization_ms", 0.0) / n,
        "catalyst.planning_ms": acc.get("catalyst.planning_ms", 0.0) / n,
        "spark.jobs_per_stmt": acc.get("spark.jobs", 0.0) / n,
        "spark.tasks_per_stmt": acc.get("spark.tasks", 0.0) / n,
        "fetch.ms": acc.get("fetch.ms", 0.0) / max(acc.get("fetch.statements", 0.0), 1),
        "fetch.stream_ratio": acc.get("fetch.streamed", 0.0) / max(acc.get("fetch.statements", 0.0), 1),
        "dml.self_ms": acc.get("dml.self_ms", 0.0) / dml_n,
        "writer.ms": acc.get("writer.ms", 0.0) / dml_n,
        "writer.files_added": acc.get("writer.files_added", 0.0) / dml_n,
        "writer.bytes_per_user_byte": acc.get("writer.new_bytes", 0.0)
        / max(acc.get("writer.user_bytes", 0.0), 1.0),
        "catalog.commit_ms": acc.get("catalog.commit_ms", 0.0) / dml_n,
        "catalog.version_ms": acc.get("catalog.version_ms", 0.0) / n,
        "catalog.version_calls": acc.get("catalog.version_calls", 0.0) / n,
        "jvm.gc_ms": float(gc_ms),
        "trace.statements": float(n if roots else 0),
        "trace.uncovered_share": acc.get("wire.residual_ms", 0.0) / 1000 / lat_total if lat_total else 0.0,
    }
    return out


def _median(values: list[float]) -> float:
    if not values:
        return 0.0
    v = sorted(values)
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2
