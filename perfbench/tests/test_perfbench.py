"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_generator_is_byte_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.corpus(str(a), 5, 120)
    gen.corpus(str(b), 5, 120)
    gen.corpus(str(c), 6, 120)
    assert _files(a) == _files(b)
    assert _files(a)["documents.parquet"] != _files(c)["documents.parquet"]
    assert gen.queries(5, 50) == gen.queries(5, 50)
    assert gen.queries(5, 50) != gen.queries(6, 50)


def test_batches_reopen_one_committed_parent():
    for i in range(5):
        lo, hi = gen.batch_bounds(1000, 40, i)
        assert hi - lo == 40
        assert len(workloads._edit_parents(lo, hi)) == 1
    assert gen.batch_bounds(1000, 40, 1)[0] == gen.batch_bounds(1000, 40, 0)[1]
    with pytest.raises(ValueError):
        gen.batch_bounds(1000, 30, 0)


def test_arrival_window_is_the_lookback_range():
    ckpt, now = gen.now_after(9100), gen.now_after(9140)
    window = gen.arrival_window(ckpt, now)
    lo_ts = ckpt - gen.LOOKBACK_S * 1_000_000
    assert window[-1] == 9140
    assert gen.ts_micros(window[0]) >= lo_ts > gen.ts_micros(window[0] - 1)
    assert gen.arrival_window(gen.now_after(300), gen.now_after(340)) == range(gen.FIRST_DOC, 341)


def _span(sid, parent, start, end, name="x"):
    return Span(sid, name, "op", parent, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),      # overlaps 2: union [1, 5]
        _span(4, 1, 8.0, 12.0),     # clipped to the parent: [8, 10]
        _span(5, 2, 2.0, 3.0),      # grandchild: charged to 2 only
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert selfs[2] == pytest.approx(3.0 - 1.0)
    assert selfs[3] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(4.0)
    assert selfs[5] == pytest.approx(1.0)


def test_tracer_records_nesting_and_unwraps():
    tr = Tracer(enabled=True)

    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr.wrap(Mod, "f", "mod.f")
    with tr.span("outer", op="op1"):
        assert Mod.f(1) == 2
    tr.unwrap()
    assert Mod.f(1) == 2 and Mod.f.__name__ == "f"
    inner, outer = tr.spans
    assert (inner.name, inner.parent, inner.op) == ("mod.f", outer.id, "op1")
    with Tracer().span("off") as s:
        assert s is None


class _FakeBench:
    session_start_s = 1.0

    def __init__(self, tracer):
        self.tracer = tracer

    def peak_rss_mb(self):
        return 1.0, 2.0


def test_printed_metric_names_are_declared():
    e2e = workloads.e2e_metrics(1.0, [0.1, 0.2, 0.3], 1.0)
    assert set(e2e) == {m["name"] for m in BENCH["end_to_end"]}

    tr = Tracer(enabled=True)
    with tr.span("w.op", op="w-0"):
        with tr.span("similarity.topk"):
            pass
    layers = workloads.layer_metrics(_FakeBench(tr), ["w-0"], [0.1], [0.1])
    assert set(layers) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert NAME_RE.fullmatch(m["name"]) and len(m["name"]) <= 64


def test_brute_force_rounds_half_up_and_breaks_ties_by_id():
    assert checks._round6(0.0000005) == 0.000001
    bf = checks.BruteForce(["b", "a", "z"], ["x", "x", "y"],
                           [[1.0, 0.0], [1.0, 0.0], [0.0, 0.0]])
    assert bf.topk([2.0, 0.0], 3) == [("a", 1.0), ("b", 1.0), ("z", None)]
    assert bf.topk([2.0, 0.0], 5, channel="y") == [("z", None)]
