"""Tests of the benchmark's own arithmetic, plus a tiny smoke run of each
workload. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import probe  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("q", [0, 5, 25, 50, 75, 95, 100])
def test_percentile_matches_numpy(q):
    xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    assert probe.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_single_and_empty():
    assert probe.percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        probe.percentile([], 50)


def _span(sid, start, end, parent=None, layer="x"):
    return probe.Span(f"s{sid}", layer, start, end, parent, sid)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, 0.0, 10.0, layer="plans"),
        _span(2, 1.0, 3.0, 1, layer="sources"),
        _span(3, 2.0, 5.0, 1, layer="sources"),  # overlaps span 2: counted once
        _span(4, 7.0, 12.0, 1, layer="streaming.epoch"),  # runs past its parent: clipped
        _span(5, 2.5, 2.75, 3, layer="sources"),
    ]
    st = probe.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 7.0))
    assert st[3] == pytest.approx(3.0 - 0.25)
    assert st[4] == pytest.approx(5.0)
    layers = probe.layer_self_times(spans)
    assert layers["plans"] == pytest.approx(3.0)
    assert layers["sources"] == pytest.approx(2.0 + 2.75 + 0.25)


def test_tracer_parents_callback_threads_to_main_span():
    import threading

    tracer = probe.Tracer(True)
    with tracer.span("outer", "plans") as outer:
        t = threading.Thread(target=lambda: tracer.span("cb", "sources").__enter__())
        t.start()
        t.join(timeout=10)
    cb = [s for s in tracer.spans if s.name == "cb"][0]
    assert cb.parent == outer.sid


def test_inputs_are_seeded_and_fixture_shaped():
    a = inputs.warehouse_tables(3, 0.01)
    b = inputs.warehouse_tables(3, 0.01)
    c = inputs.warehouse_tables(4, 0.01)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert str(a["customer"].schema.field("c_nationkey").type) == "int32"
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    ev = inputs.events_table(3, 1000, 150)
    assert ev.column("user_id").to_numpy().max() < 150
    assert inputs.realized({"events": ev})["events.dirty_share"] == 0.0


@pytest.mark.parametrize("workload", ["stream_replay", "warehouse_batch"])
def test_smoke_run(workload):
    """A tiny-size run of each workload is correct and prints every
    metric it promises."""
    from metrics import PER_LAYER, STREAM_QUERIES

    for trace in (0, 1):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
             "--seconds", "1", "--trace", str(trace), "--tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
        m = {k: v["value"] for k, v in out["metrics"].items()}
        if not trace:
            assert set(m) == {"setup_s", "wall_s"}
            assert min(m.values()) > 0, m
            continue
        assert set(m) == set(PER_LAYER)
        streamed = workload == "stream_replay"
        for q in STREAM_QUERIES:
            # epochs are read back from the listener and become spans
            assert (m[f"streaming.{q}.epochs"] > 0) == streamed, m
        assert (m["streaming.epochs"] > 0) == streamed, m
