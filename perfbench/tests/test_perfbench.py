"""Tests of the benchmark itself: the tail rule, seeded op lists, data
generation, result fingerprints, and an sf0.001 smoke run per trace mode
that must print every metric BENCHMARK.json declares."""

import datetime as dt
import decimal
import json
import os
import subprocess
import sys

import pytest

import check
import datagen
import ops as O
import run
from layers import tail

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def test_tail_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    v, p, n = tail(values)
    assert (v, p, n) == (90.0, 90.0, 100)
    assert sum(x > v for x in values) == 10
    v, p, n = tail(values[:11])
    assert (v, n) == (1.0, 11)
    assert p == pytest.approx(100 / 11)


def test_tail_falls_back_to_median_below_eleven_samples():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert tail([float(i) for i in range(10)]) == (4.5, 50.0, 10)


@pytest.fixture(scope="module")
def tables():
    return datagen.make_tables(0.001)


def test_read_count_is_fixed_and_avoids_low_tails(tables):
    """`--seconds` fixes the cycle count, so every seed measures the same
    number of reads. At the benchmark's run_seconds that count is never
    11-21, where the tail rule would pick a percentile at or below the
    median."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    for workload in run.CYCLE_S:
        cycles = run.n_cycles(workload, seconds)
        counts = {sum(op["kind"] == "read"
                      for op in O.make_ops(workload, s, cycles, tables))
                  for s in (1, 2)}
        assert len(counts) == 1, workload
        n = counts.pop()
        # n <= 10: the tail falls back to the median; n >= 22: the
        # (n-10)-th smallest lies above the median
        assert n <= 10 or n >= 22, (workload, n)


@pytest.mark.parametrize("workload",
                         ["explore", "analytic", "pipeline", "loaded_rw"])
def test_same_seed_same_op_bytes(tables, workload):
    a = O.op_list_bytes(O.make_ops(workload, 7, 5, tables))
    b = O.op_list_bytes(O.make_ops(workload, 7, 5, tables))
    c = O.op_list_bytes(O.make_ops(workload, 8, 5, tables))
    assert a == b
    assert a != c


def test_explore_constants_vary_with_seed(tables):
    texts: dict[str, set] = {}
    for s in range(3):
        for op in O.make_ops("explore", s, 2, tables):
            texts.setdefault(op["name"], set()).add(op["sparql"])
    assert sorted(texts) == sorted(O.EXPLORE_TEMPLATES)
    assert all(len(v) >= 4 for v in texts.values()), texts


def test_write_group_returns_store_to_base_size(tables):
    ops = [op for op in O.make_ops("loaded_rw", 3, 4, tables)
           if op["kind"] == "write"]
    assert sum(op["delta"] for op in ops) == 0
    assert all(op["changed"] > 0 for op in ops)


def test_tables_are_deterministic():
    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    for name in a:
        assert a[name].equals(b[name]), name


def test_digest_ignores_row_order_and_number_types():
    cols = ["b", "a"]
    rows = [(1, "x"), (2.5, None), (decimal.Decimal("3"), "z")]
    same = [(3.0, "z"), (1.0, "x"), (2.5, None)]
    assert check.digest(cols, rows) == check.digest(cols, same)
    assert check.digest(cols, rows) != check.digest(cols, rows[:2])
    utc = dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)
    assert check.canon(utc) == check.canon(dt.datetime(2024, 1, 1, 12))


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "0", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"], cwd=ROOT, capture_output=True, text=True,
        timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace,section", [
    ("explore", 0, "end_to_end"), ("loaded_rw", 1, "per_layer")])
def test_smoke_prints_every_metric(workload, trace, section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[section]
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert sorted(out["metrics"]) == sorted(m["name"] for m in spec)
    for m in spec:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
