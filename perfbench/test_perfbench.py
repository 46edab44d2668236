"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke tests start Spark in a subprocess at the tiny sizes (about half a
minute per workload); the rest are pure Python.
"""

from __future__ import annotations

import io
import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from harness import per_layer_names  # noqa: E402
from spans import Span, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_same_seed_gives_byte_identical_inputs():
    def inputs(seed):
        sym, cols = gen.base_ticks(seed, gen.TINY)
        model = gen.TicksModel(sym)
        model.insert(cols["sid"], cols["day"], cols["close"], cols["volume"], ver=1)
        deltas = []
        for kind, p in gen.write_ops(seed, gen.TINY, 24, first_day=gen.TINY.days):
            d = gen.write_delta(model, gen.TINY, kind, p)
            if isinstance(d, dict):
                deltas.append(_parquet_bytes(gen.arrow_ticks(sym, d)))
                model.insert(d["sid"], d["day"], d["close"], d["volume"])
            else:
                deltas.append(repr(d).encode())
        return (_parquet_bytes(gen.arrow_ticks(sym, cols)),
                repr(gen.read_ops(seed, gen.TINY, 30, 3)).encode(), deltas)

    assert inputs(7) == inputs(7)
    assert inputs(7) != inputs(8)


def test_model_delete_update_and_upsert():
    m = gen.TicksModel(["AAAAA", "BBBBB"])
    m.insert(np.array([0, 0, 1]), np.array([0, 1, 0]), np.array([1.0, 2.0, 3.0]),
             np.array([10, 20, 30]), ver=1)
    assert m.count() == 3
    # an upsert of an existing key replaces its image
    m.insert(np.array([0]), np.array([1]), np.array([9.0]), np.array([99]), ver=2)
    assert m.count() == 3 and m.rows(m.sid == 0) == [(0, 1.0, 10), (1, 9.0, 99)]
    assert m.update_close([1], 1.0) == 1 and m.rows(m.sid == 0)[1][1] == 10.0
    assert m.delete([1, 1, 424242]) == 1 and m.count() == 2
    assert m.agg(m.ver <= 1) == (2, 0 + gen.SEQ_STRIDE, 40)


def test_expected_reads_match_brute_force():
    sym, cols = gen.base_ticks(3, gen.TINY)
    m = gen.TicksModel(sym)
    m.insert(cols["sid"], cols["day"], cols["close"], cols["volume"], ver=1)
    rows = list(zip(cols["sid"].tolist(), cols["day"].tolist(), cols["close"].tolist(),
                    cols["volume"].tolist()))
    for kind, p in gen.read_ops(3, gen.TINY, 20, 2):
        got = gen.expected_read(m, kind, p)
        if kind == "point":
            want = sorted((s * gen.SEQ_STRIDE + d, c, v) for s, d, c, v in rows if s == p["sid"])
            assert got == want
        elif kind == "cross_section":
            hits = [(-v, s * gen.SEQ_STRIDE + d) for s, d, c, v in rows if d == p["day"]]
            assert got == [q for _, q in sorted(hits)[: p["k"]]]


def test_self_times_reconcile_to_op_wall():
    rng = np.random.default_rng(0)
    for _ in range(50):
        root = Span(0, "op", "residual", 0, None, 0.0, 10.0)
        spans = [root]
        for i in range(1, 8):
            parent = spans[int(rng.integers(0, len(spans)))]
            a = float(rng.uniform(parent.start, parent.end))
            b = float(rng.uniform(a, parent.end))
            spans.append(Span(i, f"s{i}", "x", 0, parent.sid, a, b))
        st = self_times(spans)
        assert abs(sum(st.values()) - 10_000.0) < 1e-6
        assert all(v >= 0 for v in st.values())


def test_metric_names_and_units():
    names = [n for n, _ in per_layer_names()]
    assert len(names) == len(set(names))
    for n, u in per_layer_names():
        assert NAME.match(n) and UNIT.match(u), (n, u)
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench, encoding="utf-8") as fh:
            spec = json.load(fh)
        assert {m["name"] for m in spec["per_layer"]} == set(names)
        for m in spec["end_to_end"] + spec["per_layer"]:
            assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m


@pytest.mark.parametrize("workload", ["lake_read", "lake_write"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_run_matches_its_model(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    for name, m in out["metrics"].items():
        assert NAME.match(name) and UNIT.match(m["unit"]), name
    if trace:
        assert set(out["metrics"]) == {n for n, _ in per_layer_names()}
        assert out["metrics"]["trace.reconcile_err_ms"]["value"] < 1e-3
    else:
        assert out["metrics"]["ok_frac"]["value"] == 1.0
        assert all(m["value"] > 0 for m in out["metrics"].values())
        bench = os.path.join(ROOT, "BENCHMARK.json")
        if os.path.exists(bench):
            with open(bench, encoding="utf-8") as fh:
                e2e = {m["name"]: m["unit"] for m in json.load(fh)["end_to_end"]}
            assert {k: m["unit"] for k, m in out["metrics"].items()} == e2e
