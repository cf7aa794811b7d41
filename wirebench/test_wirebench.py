"""Tests of the benchmark itself: seeded streams, the checks, a smoke run.

Run from the repository root: ``python3 -m pytest wirebench -q``. The smoke
run starts the engine once per workload (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402
from check import KvModel, compare  # noqa: E402


def _streams(seed: int) -> list:
    return [
        [s for n in range(3) for s in workloads.analyst_pass(seed, n)],
        workloads.bi_sessions(seed, 5, 15_000),
        workloads.writer_ops(seed, 50, 15_000),
        workloads.reader_ops(seed, 50, 15_000),
    ]


def test_same_seed_same_statements():
    assert _streams(7) == _streams(7)


def test_other_seed_other_statements():
    for a, b in zip(_streams(7), _streams(8)):
        assert a != b


def test_every_seed_same_kv_mix():
    """Seeds draw keys and values, not the order of statement kinds."""
    for ops in (workloads.writer_ops, workloads.reader_ops):
        kinds = {tuple(s.kind for s in ops(seed, 30, 15_000)) for seed in (1, 2, 3)}
        assert len(kinds) == 1


def test_bi_texts_never_repeat():
    texts = [s.sql for session in workloads.bi_sessions(3, 80, 15_000)
             for s in session if s.kind == "oracle"]
    assert len(texts) == len(set(texts))


def _result(columns, oids, rows):
    return {"columns": columns, "oids": oids, "rows": rows, "errors": [], "tags": []}


def test_planted_wrong_answer_is_caught():
    from bemidb_spark.oracle import _rows_multiset

    expected = (["k", "v"], _rows_multiset(["k", "v"], [(1, 2.5), (2, 3.0)]))
    right = _result(["k", "v"], [20, 701], [["2", "3.0"], ["1", "2.5"]])
    assert compare(right, expected) is None
    wrong = _result(["k", "v"], [20, 701], [["2", "3.0"], ["1", "2.6"]])
    assert "values differ" in compare(wrong, expected)
    short = _result(["k", "v"], [20, 701], [["1", "2.5"]])
    assert "rows" in compare(short, expected)


def test_kv_model_rejects_stale_reads():
    model = KvModel({1: (Decimal("10.00"), "F"), 2: (Decimal("20.00"), "O")})
    tag, n = model.begin_write("upsert", ((1, 1, "1.01", "U"),))
    assert (tag, n) == ("INSERT 0 1", 1)
    model.end_write()
    fresh = _result([], [], [["1", "1.01", "U"]])
    stale = _result([], [], [["1", "10.0", "F"]])
    # a read that began after the write was acknowledged must see it
    assert model.check_point(fresh, (1,), 1, 1) is None
    assert model.check_point(stale, (1,), 1, 1) is not None
    # a read that overlapped the write may see either version
    assert model.check_point(stale, (1,), 0, 1) is None
    assert model.begin_write("delete", (2,)) == ("DELETE 1", 1)
    model.end_write()
    gone = _result([], [], [["1", "1.01", "U"]])
    assert model.check_point(gone, (1, 2), 2, 2) is None
    total = _result([], [], [["1", "1.01"]])
    assert model.check_range(total, 1, 2, 2, 2) is None
    assert model.check_range(_result([], [], [["2", "21.01"]]), 1, 2, 2, 2) is not None


@pytest.mark.parametrize("workload", ["analyst_tpch", "bi_upsert"])
def test_smoke_run(workload, tmp_path):
    """The shortest run at sf 0.001 prints every end-to-end metric with its
    unit, and every statement succeeds with a correct result."""
    from bemidb_spark.tables import DEFAULT_SF_DIR

    data = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, env={**os.environ, "WIREBENCH_SF_DIR": data},
        capture_output=True, text=True, timeout=600, check=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    for metric in contract["end_to_end"]:
        assert result["metrics"][metric["name"]]["unit"] == metric["unit"]
        assert result["metrics"][metric["name"]]["value"] > 0
    names = ["setup_s", "read_p50_ms", "read_p90_ms", "throughput_sps",
             "error_rate", "jvm_rss_peak_mb"]
    if workload == "bi_upsert":
        names += ["write_p50_ms", "write_p90_ms", "stored_bytes_per_user_byte"]
    for name in names:
        assert any(line.startswith(f"{workload} {name} = ") for line in lines), name
    assert any(line.startswith(f"{workload} error_rate = 0 ratio") for line in lines)
    assert result["correct"] and result["failed"] == 0
