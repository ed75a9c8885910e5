"""Tests for the benchmark's own helpers (no Spark session needed).

Run: python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats as st  # noqa: E402
from perfbench.tracing import Span, Tracer, self_times  # noqa: E402


# --- percentile with a sample-count rule ------------------------------------


def test_min_samples_rule():
    assert st.min_samples(0.5) == 20
    assert st.min_samples(0.9) == 100
    assert st.min_samples(0.1) == 100
    assert st.min_samples(0.99) == 1000
    with pytest.raises(ValueError):
        st.min_samples(1.0)


def test_percentile_refuses_too_few_samples():
    with pytest.raises(st.TooFewSamples):
        st.percentile(list(range(99)), 0.9)
    with pytest.raises(st.TooFewSamples):
        st.percentile(list(range(19)), 0.5)


def test_percentile_values():
    xs = [float(i) for i in range(101)]  # 0..100
    assert st.percentile(xs, 0.9) == pytest.approx(90.0)
    assert st.percentile(xs, 0.5) == pytest.approx(50.0)
    # order of the input does not matter; interpolation between ranks
    ys = list(reversed([float(i) for i in range(20)]))
    assert st.percentile(ys, 0.5) == pytest.approx(9.5)


# --- span self time ------------------------------------------------------------


def _span(i, layer, start, end, parent=None):
    return Span(i, layer, layer, "op", parent, start, end)


def test_self_time_excludes_children():
    spans = [
        _span(1, "bench", 0.0, 10.0),
        _span(2, "table", 1.0, 3.0, parent=1),
        _span(3, "runner", 3.0, 9.0, parent=1),
        _span(4, "exec", 4.0, 8.0, parent=3),
    ]
    own = self_times(spans)
    assert own["bench"] == pytest.approx(2.0)
    assert own["table"] == pytest.approx(2.0)
    assert own["runner"] == pytest.approx(2.0)
    assert own["exec"] == pytest.approx(4.0)
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_sums_same_layer_spans():
    spans = [_span(1, "table", 0.0, 1.0), _span(2, "table", 2.0, 4.5)]
    assert self_times(spans) == {"table": pytest.approx(3.5)}


def test_tracer_records_parent_and_op():
    tr = Tracer(True)
    with tr.span("bench", "query", op="q1"):
        with tr.span("table", "scan"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.op == outer.op == "q1"
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_keeps_nothing():
    tr = Tracer(False)
    with tr.span("bench", "query") as sp:
        assert sp is None
    assert tr.spans == []


# --- failed_frac counting --------------------------------------------------------

#: per-file partial answers (row count, column-hash sum) of one pruned query
_FILES = {"f1": (40, 1234), "f2": (25, -77), "f3": (10, 9)}


def _answer(files):
    return (sum(files[f][0] for f in files), sum(files[f][1] for f in files))


def test_tally_counts_failures():
    t = st.Tally()
    assert t.failed_frac == 0.0
    t.record(True)
    t.record(False, "boom")
    t.record(True)
    t.record(False, "wrong")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == pytest.approx(0.5)
    assert t.errors == ["boom", "wrong"]


def test_dropped_surviving_file_is_a_failure():
    expected = _answer(_FILES)
    survivors = dict(_FILES)
    del survivors["f2"]  # the pruner wrongly drops a file that holds matches
    t = st.Tally()
    t.record(st.answer_ok(_answer(_FILES), expected))
    t.record(st.answer_ok(_answer(survivors), expected))
    assert (t.attempted, t.failed) == (2, 1)


def test_wrong_hash_is_a_failure():
    expected = _answer(_FILES)
    n, h = expected
    assert not st.answer_ok((n, h + 1), expected)  # right count, wrong rows
    assert not st.answer_ok((n - 1, h), expected)
    assert not st.answer_ok(None, expected)  # the query raised
    assert st.answer_ok((0, None), (0, None))  # empty answer on both sides


# --- selectivity error -------------------------------------------------------


def test_sel_error_and_band():
    assert st.sel_error(0.01, 0.01, 1000) == pytest.approx(0.0)
    assert st.sel_error(0.1, 0.01, 1000) == pytest.approx(1.0)
    # an empty answer is floored at one row, not infinite
    assert st.sel_error(0.0, 0.01, 1000) == pytest.approx(1.0)
    assert st.in_band(0.01, 0.01)
    assert st.in_band(0.03, 0.01)
    assert not st.in_band(0.04, 0.01)


# --- the wlgen -> pruning type bridge ------------------------------------------


def test_epochms_bounds_prune_against_iso_sidecar(tmp_path):
    """gen_workload emits date bounds as epoch-ms floats; the sidecar holds
    ISO timestamps.  The bridged bound must prune like the date it names,
    keeping the file whose minimum is exactly that day."""
    pytest.importorskip("pyspark")
    from lakehouse_sfc_spark.table.pruning import Pred, prune_files

    from perfbench.workloads import _epochms_date

    ms = (dt.datetime(1996, 3, 1) - dt.datetime(1970, 1, 1)).total_seconds() * 1e3
    day = _epochms_date(ms)
    assert day == dt.date(1996, 3, 1)
    ranges = {
        "a": ("1995-01-02 00:00:00", "1996-02-29 00:00:00"),
        "b": ("1996-03-01 00:00:00", "1997-01-01 00:00:00"),
        "c": ("1998-01-01 00:00:00", "1999-01-01 00:00:00"),
    }
    files = {}
    for name, (lo, hi) in ranges.items():
        (tmp_path / name).write_bytes(b"x")
        files[f"file://{tmp_path / name}"] = {
            "cols": {"l_shipdate": {"min": lo, "max": hi}}
        }
    sidecar = {"columns": ["l_shipdate"], "files": files}
    kept, m = prune_files(sidecar, [Pred("l_shipdate", "between", (day, day))])
    assert [os.path.basename(k) for k in kept] == ["b"]
    assert (m["files_scanned"], m["files_total"]) == (1, 3)


# --- BENCHMARK.json agrees with what the benchmark prints ------------------------


def test_benchmark_json_matches_metric_tables():
    import json

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == {k: unit for k, (unit, _) in run.PER_LAYER.items()}
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
