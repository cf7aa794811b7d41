"""Seeded statement streams for the benchmark's workloads.

Every statement the server receives comes from here, drawn from the run's
seed: the same seed yields the same statement sequence, a different seed a
different one. Nothing here talks to the server; ``run.py`` sends the texts.

- ``analyst_pass``: the 22 ``tpch.ORACLES`` texts, in a seed-shuffled order
  per pass (the reference's ``time psql < queries.sql`` protocol).
- ``bi_sessions``: one ad-hoc BI session per connection. psql's ``\\dt`` and
  ``\\d <table>`` introspection, then short lookups and aggregates whose
  literals are drawn without replacement, so no text repeats in a run.
- ``writer_ops`` / ``reader_ops``: a writer and a reader over the bucketed
  ``kv`` table. Keys come from a fixed key space, skewed toward a hot set of
  recent (highest) keys.

The write/read traffic has no measured source: neither the reference nor
this repository records a production mix. Each figure below is an
assumption, chosen so that one short run exercises every DML path (batch
upsert, single-row update and delete, vacuum) and both read shapes:

- ``HOT_SHARE`` of key draws come from the hottest ``HOT_FRACTION`` of keys,
  so writes keep hitting the same few buckets, as appends to recent rows do;
- ``WRITE_CYCLE`` orders upsert : update : delete : vacuum as 6 : 2 : 1 : 1,
  so upserts (the syncer's merge path) dominate while each other path still
  runs every cycle; the order is fixed and only keys and values are drawn,
  so every seed gives a run the same statement mix;
- ``UPSERT_BATCH`` rows per upsert, a small syncer batch;
- ``READ_CYCLE`` orders the reader's 3-key point reads and range aggregates
  as 7 : 3, again fixed;
- ``POINTS_PER_SESSION`` point lookups per BI session, so more than half of
  a ``bi_upsert`` round's reads are point lookups and the median read falls
  among them rather than between two statement kinds;
- ``ROUND_SESSIONS`` / ``ROUND_WRITES`` / ``ROUND_READS``: a ``bi_upsert``
  round is that many BI sessions next to that many writer and reader
  statements, about as long as the sessions take on a 4-core host (the
  writer's and reader's ``kv`` statements take turns, so together they are
  one stream).
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

from bemidb_spark.operators import tpch

KV_TABLE = "kv"
KV_COLUMNS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")

# psql 16's literal introspection statements (tests/test_psql_introspection.py)
PSQL_DT = """SELECT n.nspname as "Schema",
  c.relname as "Name",
  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
WHERE c.relkind IN ('r','p','')
      AND n.nspname <> 'pg_catalog'
      AND n.nspname !~ '^pg_toast'
      AND n.nspname <> 'information_schema'
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 1,2"""

PSQL_D_OID = """SELECT c.oid,
  n.nspname,
  c.relname
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
WHERE c.relname OPERATOR(pg_catalog.~) '^({table})$' COLLATE pg_catalog.default
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 2, 3"""

# the three follow-ups take the oid the lookup returned, as psql does
PSQL_D_CLASS = """SELECT c.relchecks, c.relkind, c.relhasindex, c.relhasrules, c.relhastriggers, c.relrowsecurity, c.relforcerowsecurity, false AS relhasoids, c.relispartition, '', c.reltablespace, CASE WHEN c.reloftype = 0 THEN '' ELSE c.reloftype::pg_catalog.regtype::pg_catalog.text END, c.relpersistence, c.relreplident, am.amname
FROM pg_catalog.pg_class c
 LEFT JOIN pg_catalog.pg_am am ON (c.relam = am.oid)
WHERE c.oid = '{oid}'"""

PSQL_D_COLUMNS = """SELECT a.attname,
  pg_catalog.format_type(a.atttypid, a.atttypmod),
  (SELECT pg_catalog.pg_get_expr(d.adbin, d.adrelid, true)
   FROM pg_catalog.pg_attrdef d
   WHERE d.adrelid = a.attrelid AND d.adnum = a.attnum AND a.atthasdef),
  a.attnotnull,
  (SELECT c.collname FROM pg_catalog.pg_collation c, pg_catalog.pg_type t
   WHERE c.oid = a.attcollation AND t.oid = a.atttypid AND a.attcollation <> t.typcollation) AS attcollation,
  a.attidentity,
  a.attgenerated
FROM pg_catalog.pg_attribute a
WHERE a.attrelid = '{oid}' AND a.attnum > 0 AND NOT a.attisdropped
ORDER BY a.attnum"""

PSQL_D_INDEXES = """SELECT c2.relname, i.indisprimary, i.indisunique, i.indisclustered, i.indisvalid, pg_catalog.pg_get_indexdef(i.indexrelid, 0, true),
  pg_catalog.pg_get_constraintdef(con.oid, true), contype, condeferrable, condeferred, i.indisreplident, c2.reltablespace
FROM pg_catalog.pg_class c, pg_catalog.pg_class c2, pg_catalog.pg_index i
  LEFT JOIN pg_catalog.pg_constraint con ON (conrelid = i.indrelid AND conindid = i.indexrelid AND contype IN ('p','u','x'))
WHERE c.oid = '{oid}' AND c.oid = i.indrelid AND i.indexrelid = c2.oid
ORDER BY i.indisprimary DESC, c2.relname"""

DESCRIBED_TABLES = ("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem")

POINT_SQL = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
             "o_orderdate FROM orders WHERE o_orderkey = {key}")
_REVENUE = "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE)"
_MONTH = ("l_shipdate >= TIMESTAMP '{lo} 00:00:00' "
          "AND l_shipdate < TIMESTAMP '{hi} 00:00:00'")
MONTH_AGG_SQL = (
    f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {_REVENUE} AS revenue "
    f"FROM lineitem WHERE {_MONTH} "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
TOPK_SQL = (
    f"SELECT l_orderkey, {_REVENUE} AS revenue FROM lineitem WHERE {_MONTH} "
    "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT {k}")

KV_POINT_SQL = ("SELECT o_orderkey, o_totalprice, o_orderstatus FROM kv "
                "WHERE o_orderkey IN ({keys})")
KV_RANGE_SQL = ("SELECT COUNT(*) AS n, CAST(ROUND(SUM(CAST(o_totalprice AS "
                "DECIMAL(14,2))), 2) AS DOUBLE) AS total FROM kv "
                "WHERE o_orderkey BETWEEN {lo} AND {hi}")

# Month windows of the BI aggregates: any start day inside the order-date span.
_FIRST_DAY = dt.date(1995, 2, 1)
_N_START_DAYS = 2000

HOT_SHARE, HOT_FRACTION = 0.8, 0.02
# upsert : update : delete : vacuum = 6 : 2 : 1 : 1, in a fixed order
WRITE_CYCLE = ("upsert", "update", "upsert", "upsert", "delete",
               "upsert", "update", "upsert", "upsert", "vacuum")
UPSERT_BATCH = 5
# 7 point reads : 3 range aggregates, in a fixed order
READ_CYCLE = ("kv_point", "kv_point", "kv_range", "kv_point", "kv_point",
              "kv_range", "kv_point", "kv_point", "kv_range", "kv_point")
POINTS_PER_SESSION = 16
ROUND_SESSIONS = 2
ROUND_WRITES = 4
ROUND_READS = 6


@dataclass(frozen=True)
class Stmt:
    """One statement of a stream: ``kind`` selects how run.py checks it."""

    kind: str
    sql: str
    params: tuple = ()


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}/{stream}")


def analyst_pass(seed: int, n: int) -> list[Stmt]:
    """Pass ``n`` of analyst_tpch: the 22 TPC-H texts in a seeded order."""
    names = [f"tpch_q{i}" for i in range(1, 23)]
    _rng(seed, f"analyst/{n}").shuffle(names)
    return [Stmt("tpch", tpch.ORACLES[name], (name,)) for name in names]


def _month(start: int) -> tuple[str, str]:
    lo = _FIRST_DAY + dt.timedelta(days=start)
    hi_month = lo.month % 12 + 1
    hi = lo.replace(year=lo.year + (lo.month == 12), month=hi_month, day=min(lo.day, 28))
    return lo.isoformat(), hi.isoformat()


def bi_sessions(seed: int, n: int, n_orders: int) -> list[list[Stmt]]:
    """The first ``n`` BI sessions, each a list of statements.

    Point-lookup keys and aggregate windows are drawn without replacement,
    so every data statement text is new to the server."""
    rng = _rng(seed, "bi")
    keys = rng.sample(range(n_orders), min(n_orders, n * POINTS_PER_SESSION))
    agg_days = rng.sample(range(_N_START_DAYS), n)
    top_windows = rng.sample(range(_N_START_DAYS * 16), n)
    sessions = []
    for i in range(n):
        table = rng.choice(DESCRIBED_TABLES)
        stmts = [
            Stmt("dt", PSQL_DT),
            Stmt("d_oid", PSQL_D_OID.format(table=table), (table,)),
            Stmt("d_class", PSQL_D_CLASS, (table,)),
            Stmt("d_columns", PSQL_D_COLUMNS, (table,)),
            Stmt("d_indexes", PSQL_D_INDEXES, (table,)),
        ]
        for key in keys[i * POINTS_PER_SESSION:(i + 1) * POINTS_PER_SESSION]:
            stmts.append(Stmt("oracle", POINT_SQL.format(key=key)))
        w_top = top_windows[i]
        lo, hi = _month(agg_days[i])
        stmts.append(Stmt("oracle", MONTH_AGG_SQL.format(lo=lo, hi=hi)))
        lo, hi = _month(w_top % _N_START_DAYS)
        stmts.append(Stmt("oracle", TOPK_SQL.format(lo=lo, hi=hi, k=5 + w_top // _N_START_DAYS)))
        sessions.append(stmts)
    return sessions


def _hot_key(rng: random.Random, key_space: int) -> int:
    """``HOT_SHARE`` of draws from the hottest (highest, most recent) keys."""
    hot = max(1, int(key_space * HOT_FRACTION))
    if rng.random() < HOT_SHARE:
        return key_space - 1 - rng.randrange(hot)
    return rng.randrange(key_space)


def writer_ops(seed: int, n: int, n_orders: int) -> list[Stmt]:
    """The writer's first ``n`` statements. Keys span the base table plus a
    tenth more never-seen keys (inserts); values are unique per statement."""
    rng = _rng(seed, "writer")
    key_space = n_orders + max(10, n_orders // 10)
    out: list[Stmt] = []
    for i in range(n):
        op = WRITE_CYCLE[i % len(WRITE_CYCLE)]
        if op == "vacuum":
            out.append(Stmt("vacuum", f"VACUUM {KV_TABLE}"))
        elif op == "upsert":
            keys: list[int] = []
            while len(keys) < UPSERT_BATCH:
                k = _hot_key(rng, key_space)
                if k not in keys:
                    keys.append(k)
            rows = tuple((k, k % 997, f"{i + 1}.{j:02d}", "U") for j, k in enumerate(keys))
            values = ", ".join(f"({k}, {c}, {v}, '{s}')" for k, c, v, s in rows)
            out.append(Stmt("upsert", (
                f"INSERT INTO {KV_TABLE} ({', '.join(KV_COLUMNS)}) VALUES {values} "
                "ON CONFLICT (o_orderkey) DO UPDATE SET "
                "o_totalprice = EXCLUDED.o_totalprice, "
                "o_orderstatus = EXCLUDED.o_orderstatus"), rows))
        elif op == "update":
            k = _hot_key(rng, key_space)
            v = f"{i + 1}.99"
            out.append(Stmt("update", (
                f"UPDATE {KV_TABLE} SET o_totalprice = {v}, o_orderstatus = 'V' "
                f"WHERE o_orderkey = {k}"), (k, v)))
        else:
            k = _hot_key(rng, key_space)
            out.append(Stmt("delete", f"DELETE FROM {KV_TABLE} WHERE o_orderkey = {k}", (k,)))
    return out


def reader_ops(seed: int, n: int, n_orders: int) -> list[Stmt]:
    """The reader's first ``n`` statements: 3-key point reads and 200-key
    range aggregates, over the writer's key distribution."""
    rng = _rng(seed, "reader")
    key_space = n_orders + max(10, n_orders // 10)
    out: list[Stmt] = []
    for i in range(n):
        if READ_CYCLE[i % len(READ_CYCLE)] == "kv_point":
            keys = sorted({_hot_key(rng, key_space) for _ in range(3)})
            out.append(Stmt("kv_point", KV_POINT_SQL.format(
                keys=", ".join(map(str, keys))), tuple(keys)))
        else:
            lo = max(0, _hot_key(rng, key_space) - rng.randrange(200))
            out.append(Stmt("kv_range", KV_RANGE_SQL.format(lo=lo, hi=lo + 199), (lo, lo + 199)))
    return out
