"""Result checks: wire rows against DuckDB, and ``kv`` reads against a model.

Wire results arrive as pg text. :func:`typed_rows` turns each cell back into
the Python value its type OID names, so the rows compare with DuckDB's under
``bemidb_spark.oracle``'s canonical multiset (column-name order, exact float
repr).

:class:`KvModel` is the client's own key -> value model of the ``kv`` table.
Commits are numbered in the order the single writer sends them. A read that
began after commit ``lo`` was acknowledged and ended before commit ``hi + 1``
was sent must match the table state after some commit ``j`` in ``[lo, hi]``:
it may not see a value older than the last acknowledged write.
"""

from __future__ import annotations

import datetime as dt
import threading
from decimal import Decimal

import duckdb

from bemidb_spark.oracle import _rows_multiset

_INT_OIDS = {20, 21, 23, 26}
_FLOAT_OIDS = {700, 701}


def _cell(text: str | None, oid: int):
    if text is None:
        return None
    if oid in _INT_OIDS:
        return int(text)
    if oid in _FLOAT_OIDS:
        return float(text)
    if oid == 1700:
        return Decimal(text)
    if oid == 16:
        return text == "t"
    if oid == 1082:
        return dt.date.fromisoformat(text)
    if oid in (1114, 1184):
        return dt.datetime.fromisoformat(text)
    return text


def typed_rows(result: dict) -> list[tuple]:
    oids = result["oids"]
    return [tuple(_cell(v, o) for v, o in zip(row, oids)) for row in result["rows"]]


def wire_error(result: dict) -> str | None:
    if result["errors"]:
        e = result["errors"][0]
        return f"{e.get('C', '?')}: {e.get('M', '')[:200]}"
    return None


class Oracle:
    """DuckDB over the same parquet the engine reads, tables loaded into memory."""

    def __init__(self, src_dir: str, tables: tuple[str, ...]) -> None:
        self.con = duckdb.connect()
        for name in tables:
            self.con.execute(
                f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{src_dir}/{name}.parquet')")

    def expect(self, sql: str) -> tuple[list[str], list[str]]:
        """(column names, canonical row multiset) of ``sql`` in DuckDB."""
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, _rows_multiset(cols, cur.fetchall())

    def columns(self, table: str) -> list[str]:
        return [r[0] for r in self.con.execute(f"DESCRIBE {table}").fetchall()]

    def close(self) -> None:
        self.con.close()


def compare(result: dict, expected: tuple[list[str], list[str]]) -> str | None:
    """None when the wire result equals DuckDB's, else what differs."""
    err = wire_error(result)
    if err:
        return err
    cols, want = expected
    if sorted(result["columns"]) != sorted(cols):
        return f"columns {result['columns']} != {cols}"
    got = _rows_multiset(result["columns"], typed_rows(result))
    if got != want:
        if len(got) != len(want):
            return f"{len(got)} rows != {len(want)} rows"
        diff = [g for g, w in zip(got, want) if g != w][:1]
        return f"values differ, e.g. {diff}"
    return None


class KvModel:
    """Versions of the ``kv`` table as the client wrote them."""

    def __init__(self, base: dict[int, tuple[Decimal, str]]) -> None:
        self.base = base
        self.deltas: list[dict[int, tuple[Decimal, str] | None]] = []
        self.acked = 0  # commits the writer saw acknowledged
        self.lock = threading.Lock()
        self._current = dict(base)

    # ------------------------------------------------------------ writer
    def begin_write(self, kind: str, params: tuple) -> tuple[str, int]:
        """Register the next commit before it is sent; return the expected
        command tag and the number of rows it touches."""
        delta: dict[int, tuple[Decimal, str] | None] = {}
        if kind == "upsert":
            for key, _cust, value, status in params:
                delta[key] = (Decimal(value), status)
            tag, n = f"INSERT 0 {len(params)}", len(params)
        elif kind == "update":
            key, value = params
            n = 1 if self._current.get(key) is not None else 0
            if n:
                delta[key] = (Decimal(value), "V")
            tag = f"UPDATE {n}"
        elif kind == "delete":
            (key,) = params
            n = 1 if self._current.get(key) is not None else 0
            if n:
                delta[key] = None
            tag = f"DELETE {n}"
        else:
            tag, n = "VACUUM", 0
        with self.lock:
            self.deltas.append(delta)
        self._current.update(delta)
        return tag, n

    def end_write(self) -> int:
        with self.lock:
            self.acked += 1
            return self.acked

    def bounds(self) -> tuple[int, int]:
        with self.lock:
            return self.acked, len(self.deltas)

    # ------------------------------------------------------------ states
    def value(self, key: int, version: int) -> tuple[Decimal, str] | None:
        out = self.base.get(key)
        for delta in self.deltas[:version]:
            if key in delta:
                out = delta[key]
        return out

    def range_state(self, lo: int, hi: int, version: int) -> tuple[int, Decimal | None]:
        keys = set(range(lo, hi + 1))
        vals = {k: self.base[k] for k in keys if k in self.base}
        for delta in self.deltas[:version]:
            for k, v in delta.items():
                if lo <= k <= hi:
                    vals[k] = v
        live = [v[0] for v in vals.values() if v is not None]
        return len(live), (sum(live, Decimal(0)) if live else None)

    def check_point(self, result: dict, keys: tuple, lo: int, hi: int) -> str | None:
        err = wire_error(result)
        if err:
            return err
        got = {int(k): (None if v is None else Decimal(v), s) for k, v, s in result["rows"]}
        if len(got) != len(result["rows"]):
            return f"duplicate keys in {result['rows']}"
        for version in range(lo, hi + 1):
            want = {k: self.value(k, version) for k in keys}
            if got == {k: v for k, v in want.items() if v is not None}:
                return None
        return f"kv {keys}: {got} matches no version in [{lo}, {hi}]"

    def check_range(self, result: dict, key_lo: int, key_hi: int, lo: int, hi: int) -> str | None:
        err = wire_error(result)
        if err:
            return err
        (n, total), = result["rows"]
        got = (int(n), None if total is None else float(total))
        for version in range(lo, hi + 1):
            cnt, s = self.range_state(key_lo, key_hi, version)
            if got == (cnt, None if s is None else float(s)):
                return None
        return f"kv range {key_lo}..{key_hi}: {got} matches no version in [{lo}, {hi}]"
