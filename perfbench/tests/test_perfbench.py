"""Tiny-scale self-tests of the benchmark itself (no Spark needed, except
the opt-in real runs).

    python3 -m pytest perfbench/tests -q
    PERFBENCH_E2E=1 python3 -m pytest perfbench/tests -q   # + real runs of the gated workloads
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# -- every named metric is printed with its unit --------------------------------


def test_benchmark_json_names_match_the_code():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == workloads.LAYER_UNITS
    assert {w["name"] for w in s["workloads"]} <= set(workloads.BY_NAME)


class _Fake(workloads.Workload):
    name = "fake"


def _fake_workload() -> _Fake:
    w = _Fake(None, Tracer(None, False), 1, 1.0, False, "/nonexistent")
    w.lat = {"point": [0.1, 0.2, 0.3], "range": [0.4]}
    w.busy = 1.0
    w.load_s = [1.0, 2.0, 3.0]
    return w


def test_every_metric_has_a_value_and_unit():
    w = _fake_workload()
    e2e = w.end_to_end(setup_once_s=5.0)
    assert {k: u for k, (_, u) in e2e.items()} == workloads.E2E_UNITS
    assert e2e["setup_s"][0] == pytest.approx(7.0)  # once + median load
    assert e2e["read_gmean_ms"][0] == pytest.approx(1000 * (0.1 * 0.2 * 0.3 * 0.4) ** 0.25)
    assert e2e["ops_per_s"][0] == pytest.approx(4.0)
    assert all(v > 0 for v, _ in e2e.values())
    layer = w.per_layer()
    layer.update({k: 0.0 for k in ("session.open_s", "session.warm_s",
                                   "sources.initial_load_s", "host.spin_s")})
    assert set(layer) == set(workloads.LAYER_UNITS)


class _FlagTracer:
    """Records which ops the workload asks to trace."""

    ops: list = []

    def __init__(self):
        self.flags: list[tuple[int, bool]] = []

    def begin(self, op, kind, traced):
        self.flags.append((op, traced))

    def end(self, *args):
        return None


def test_every_other_timed_op_is_traced_and_warmup_ops_never():
    w = _fake_workload()
    w.trace, w.tracer = True, _FlagTracer()
    w.op(-1, "maintain", lambda: None, lambda out: None, timed=False)
    for i in range(3):
        w.op(i, "maintain", lambda: None, lambda out: None)
    assert w.tracer.flags == [(-1, False), (0, True), (1, False), (2, True)]


def test_percentiles_are_nearest_rank():
    xs = list(range(1, 101))
    assert workloads.pct(xs, 90) == 90
    assert workloads.pct(xs, 95) == 95
    assert workloads.median([3, 1, 2]) == 2
    assert workloads.pct([], 90) == 0.0


# -- the checker is not vacuous -------------------------------------------------


def _model():
    t = gen.tick_table(5, 5_000, 4, 86_400, n_gaps=2)
    return t, check.TickModel(t.symbols, t.sym, t.ts, t.price, t.volume, t.seq)


def _reply_query(t: gen.TickTable, s: str, a: int, b: int) -> list[str]:
    """What the cli prints, computed independently of TickModel."""
    k = t.symbols.index(s)
    idx = [i for i in range(len(t.ts)) if t.sym[i] == k and a <= t.ts[i] <= b]
    idx.sort(key=lambda i: (t.ts[i], t.seq[i]))
    return [f"Found {len(idx)} results:"] + [
        check.fmt_row(t.ts[i], t.price[i], t.volume[i]) for i in idx
    ]


def test_right_answers_pass():
    t, m = _model()
    a, b = int(t.ts[100]), int(t.ts[100]) + 3600
    assert check.check_query(m, _reply_query(t, "SYM00", a, b), "SYM00", a, b) is None
    lines = _reply_query(t, "SYM01", 0, 2**40)
    last = ["Last 3 ticks for SYM01:"] + lines[-3:]
    assert check.check_last(m, last, "SYM01", 3) is None


def test_wrong_expected_answer_counts_as_failure():
    t, m = _model()
    a, b = int(t.ts[100]), int(t.ts[100]) + 3600
    reply = _reply_query(t, "SYM00", a, b)
    m.append("SYM00", [(a, 1.0, 1)])  # the expectation now holds one more row
    assert check.check_query(m, reply, "SYM00", a, b) is not None

    w = _fake_workload()
    w.op(0, "range", lambda: reply, lambda out: check.check_query(m, out, "SYM00", a, b))
    w.op(1, "range", lambda: 1 / 0, lambda out: None)
    assert w.attempted == 2 and len(w.failures) == 2 and w.wrong == 1
    assert "ZeroDivisionError" in w.failures[1]


def test_row_content_is_checked():
    t, m = _model()
    a, b = int(t.ts[0]), int(t.ts[-1])
    reply = _reply_query(t, "SYM02", a, b)
    reply[-1] = reply[-1].replace("Volume: ", "Volume: 9")
    assert check.check_query(m, reply, "SYM02", a, b) is not None


def test_frames_match_detects_a_changed_value():
    import pandas as pd

    got = pd.DataFrame({"b": [1.0, 2.0], "a": ["x", "y"]})
    assert check.frames_match(got, got.iloc[::-1][["a", "b"]]) is None
    assert check.frames_match(got, pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.5]})) is not None
    assert check.frames_match(got, got.iloc[:1]) is not None


def test_csv_kept_rows_follow_the_reference_rule():
    text, kept = gen.csv_ticks(gen.rng_for(3, "csv"), 2_000, 1_000)

    def parse(tok, typ):
        try:
            return typ(tok.strip())
        except ValueError:
            return None

    expect = []
    for line in text.splitlines():
        toks = line.split(",")
        if len(toks) < 3:
            continue
        ts, px, vol = parse(toks[0], int), parse(toks[1], float), parse(toks[2], int)
        if None not in (ts, px, vol):
            expect.append((ts, px, vol))
    assert expect == kept
    assert 0 < len(text.splitlines()) - len(kept) < 100


# -- inputs come from the seed --------------------------------------------------


def _digest(seed: int) -> list:
    t = gen.tick_table(seed, 20_000, 16, 7 * 86_400)
    ops = gen.tick_serve_ops(seed, t, 5)
    ing = gen.ingest_ops(seed, t, 2)
    csv, _ = gen.csv_ticks(gen.rng_for(seed, "csv-1"), 500, 0)
    an = gen.analytics_tables(seed, 500, 50, 20)
    return [t.arrow(), ops, [vars(o) for o in ing], csv] + [an[k] for k in sorted(an)]


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _digest(7), _digest(7), _digest(8)
    for x, y, z in zip(a, b, c):
        assert x == y
        assert x != z


def test_streams_are_independent():
    a = gen.rng_for(1, "tick-serve-ops").random(4)
    assert not np.array_equal(a, gen.rng_for(1, "tick-serve-warmup").random(4))
    assert not np.array_equal(a, gen.rng_for(2, "tick-serve-ops").random(4))
    assert np.array_equal(a, gen.rng_for(1, "tick-serve-ops").random(4))


def test_op_mix_is_exact_per_block():
    t = gen.tick_table(1, 20_000, 16, 7 * 86_400)
    kinds = [k for k, _ in gen.tick_serve_ops(1, t, 3)]
    assert kinds.count("point") == 12 and kinds.count("range") == 12 and kinds.count("last") == 6
    ing = [o.kind for o in gen.ingest_ops(1, t, 2)]
    assert ing.count("maintain") == 2 and ing[-1] == "maintain"
    assert ing.count("insert") == 12 and ing.count("import") == 4 and ing.count("drain") == 2
    assert ing.count("point") == 8 and ing.count("range") == 8 and ing.count("last") == 6


def test_point_probes_both_hit_and_miss():
    t = gen.tick_table(2, 200_000, 16, 30 * 86_400)
    m = check.TickModel(t.symbols, t.sym, t.ts, t.price, t.volume, t.seq)
    hits = [m.query(a[1], int(a[2]), int(a[3]))[0] > 0
            for k, a in gen.tick_serve_ops(2, t, 20) if k == "point"]
    assert 0 < sum(hits) < len(hits)


def test_block_work_does_not_depend_on_the_seed():
    t = gen.tick_table(1, 20_000, 16, 7 * 86_400)

    def work(seed):
        ops = gen.ingest_ops(seed, t, 3)
        return {k: sorted(getattr(o, f) for o in ops if o.kind == k)
                for k, f in (("import", "csv_rows"), ("drain", "drain_rows"), ("point", "width"),
                             ("range", "width"), ("last", "n"))}

    a, b = work(1), work(2)
    assert a == b
    assert a["point"].count(0) == 6  # half of the point probes hit the last write
    assert min(a["import"]) >= 1000 and max(a["import"]) <= 20_000
    assert min(a["range"]) >= 60 and max(a["range"]) <= 6 * 3600
    assert [o.kind for o in gen.ingest_ops(1, t, 3)] != [o.kind for o in gen.ingest_ops(2, t, 3)]


# -- real runs of the gated workloads (opt-in: ~1 min and a JVM each) -----------


@pytest.mark.skipif(not os.environ.get("PERFBENCH_E2E"), reason="set PERFBENCH_E2E=1")
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_real_run_prints_every_metric(workload, trace):
    """Every metric of the trace level is printed with its unit and every
    answer checks out.  Operations that raise are counted, not asserted
    away: at some commits a workload's imports fail."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300,
    )
    assert p.returncode == 0
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    names = workloads.LAYER_UNITS if trace else workloads.E2E_UNITS
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    assert out["correct"] and out["attempted"] >= 1
    report = json.loads(lines[-2][len("report "):])
    assert len(report["failures"]) == out["failed"]
    assert all(m["unit"] for m in report["metrics"].values())
