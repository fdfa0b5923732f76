"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_tables_are_deterministic_by_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    counts = gen.write_tables(a, 0.001, 7)
    gen.write_tables(b, 0.001, 7)
    gen.write_tables(c, 0.001, 8)
    assert set(counts) == set(gen.TABLES)
    assert _files(a) == _files(b)
    differ = [f for f, data in _files(a).items() if _files(c)[f] != data]
    # region and nation are fixed dimensions; every drawn table changes
    assert sorted(differ) == sorted(f"{t}.parquet" for t in gen.TABLES
                                    if t not in ("region", "nation"))


def _run_increments(seed, n):
    inc = gen.Increments(gen.events_frame(0.1, seed), seed)
    return inc, [inc.next(i) for i in range(n)]


def test_increments_are_deterministic_by_seed():
    _, x = _run_increments(3, 5)
    _, y = _run_increments(3, 5)
    _, z = _run_increments(4, 5)
    for a, b in zip(x, y):
        pd.testing.assert_frame_equal(a, b)
    assert not all(a.equals(b) for a, b in zip(x, z))


def test_expected_state_is_last_write_per_key():
    inc, parts = _run_increments(5, 8)
    # independent fold: later rows for an event_id replace earlier ones
    want = {}
    for frame in [inc.base, *parts]:
        for row in frame.itertuples(index=False):
            want[row.event_id] = row
    got = inc.state
    assert got["event_id"].is_unique
    assert set(got["event_id"]) == set(want)
    for row in got.itertuples(index=False):
        assert row == want[row.event_id]


def test_increment_shape():
    inc, parts = _run_increments(6, 8)
    landed = set(inc.base["event_id"])
    base_ts = dict(zip(inc.base["event_id"], inc.base["ts"]))
    late = updates = 0
    for i, part in enumerate(parts):
        assert part["event_id"].is_unique
        start = inc.slice_end(i) - np.timedelta64(inc.slice_us, "us")
        new = part[~part["event_id"].isin(landed)]
        upd = part[part["event_id"].isin(landed)]
        # late rows stay inside the 2-day buffer
        assert (new["ts"] >= start - np.timedelta64(2 * gen.DAY_US, "us")).all()
        assert (new["ts"] < inc.slice_end(i)).all()
        late += int((new["ts"] < start).sum())
        # an update keeps its key's ts (so its day partition) and changes value
        for row in upd.itertuples(index=False):
            assert row.ts == base_ts[row.event_id]
        updates += len(upd)
        landed |= set(new["event_id"])
        base_ts.update(zip(new["event_id"], new["ts"]))
    assert late > 0 and updates > 0


@pytest.mark.parametrize("n", [1, 5, 11, 20, 30, 200])
def test_tail_has_ten_samples_beyond(n):
    xs = list(np.random.default_rng(n).permutation(n) + 1.0)
    pct, v = spans.tail(xs)
    beyond = sum(x > v for x in xs)
    if n > 10:
        assert beyond == 10
        assert pct == pytest.approx(100.0 * (n - 11) / (n - 1))
    else:
        assert (pct, v) == (0.0, 1.0)


def test_tail_is_highest_such_percentile():
    xs = [float(x) for x in range(1, 31)]
    pct, v = spans.tail(xs)
    assert v == 20.0  # 21..30 lie beyond it; one rank higher leaves 9
    assert 0 < pct < 100


def _span(name, start, end, parent=None):
    return spans.Span(name, start, end, parent)


def test_self_time_subtracts_children_once():
    ss = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),      # overlaps a: 1..6 covered once
        _span("a.child", 2.0, 3.0, 1),
        _span("late", 9.0, 12.0, 0),  # clipped to the parent's end
    ]
    assert spans.self_times(ss) == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0])
    by = spans.self_by_name(ss)
    assert by["root"] == pytest.approx(4.0)


def test_tracer_nests_and_disables():
    tr = spans.Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].end >= tr.spans[1].end
    off = spans.Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_gc_pauses_become_spans_under_the_interrupted_span():
    import gc

    tr = spans.Tracer(True)
    try:
        with tr.span("outer"):
            gc.collect()
    finally:
        gc.callbacks.remove(tr._gc)
    pauses = [s for s in tr.spans if s.name == "py.gc"]
    assert pauses and all(s.parent == 0 for s in pauses)
    assert spans.total_within(tr.spans, "py.gc", tr.spans[0]) > 0


def test_boundary_gap_is_median_back_to_back_gap():
    ss = [
        _span("unit", 0.0, 10.0),
        _span("build", 1.0, 2.0, 0),
        _span("exec", 2.5, 3.0, 0),   # gap 0.5 after build
        _span("build", 4.0, 5.0, 0),  # not a (build, exec) pair: 1.0 ignored
        _span("py.gc", 5.1, 5.2, 0),  # a collection between them is skipped
        _span("exec", 5.3, 6.0, 0),   # gap 0.3 after build
        _span("build", 7.0, 8.0, 0),
        _span("exec", 8.1, 9.0, 0),   # gap 0.1
    ]
    assert spans.boundary_gap(ss, {("build", "exec")}) == pytest.approx(0.3)
    assert spans.boundary_gap(ss, {("exec", "other")}) == 0.0
    assert spans.count_within(ss, ss[0]) == len(ss)
