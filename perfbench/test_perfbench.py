"""Tests of the benchmark's own parts: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pyarrow.parquet as pq

import gen
import run
import tracing

HERE = Path(__file__).resolve().parent
SMALL = gen.Sizes(
    customer=40, supplier=10, part=30, orders=60, lineitem=200, events=300,
    documents=50, embeddings=20,
)


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_generator_is_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.generate(str(tmp_path / name), seed, SMALL)
    a, b, c = (_files(tmp_path / n) for n in "abc")
    assert a == b
    assert set(a) == set(c) and a != c


def test_events_file_shape(tmp_path):
    rows = gen.generate(str(tmp_path), 3, SMALL)
    events = pq.read_table(tmp_path / "events.parquet")
    assert str(events.schema.field("ts").type) == "timestamp[us]"
    assert pq.read_metadata(tmp_path / "events.parquet").num_row_groups == 1
    redelivered = int(SMALL.events * gen.REDELIVER_SHARE)
    assert rows["events"] == SMALL.events + redelivered
    first: dict[int, object] = {}
    for eid, ts in zip(events["event_id"].to_pylist(), events["ts"].to_pylist()):
        if eid in first:
            assert ts > first[eid]  # the earliest delivery wins, uniquely
        else:
            first[eid] = ts
    assert len(first) == SMALL.events


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    layer = run.per_layer_units()
    for units in (run.END_TO_END_UNITS, layer):
        for k, unit in units.items():
            assert name.fullmatch(k), k
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), (k, unit)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_span_self_time_is_duration_minus_child_coverage():
    S = tracing.Span
    t = tracing.Tracer(spans=[
        S("root", 0.0, 10.0, None),
        S("a", 1.0, 4.0, 0),
        S("b", 3.0, 6.0, 0),  # overlaps a: covered once
        S("c", 8.0, 9.0, 0),
        S("a.x", 2.0, 3.0, 1),  # a grandchild does not count for root
    ])
    assert t.self_time(0) == 10.0 - (5.0 + 1.0)
    assert t.self_time(1) == 3.0 - 1.0
    assert t.self_time(4) == 1.0


def test_span_nesting_records_parents():
    t = tracing.Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [
        ("outer", None), ("inner", 0), ("inner", 0)
    ]
    assert len(t.durations("inner")) == 2
    assert 0 <= t.self_time(0) <= t.spans[0].duration


def test_event_log_fold_by_job_group():
    # recorded from a local[2] session: a mapInPandas job in group "py",
    # a two-stage aggregate in group "agg", then a job with no group
    folds, jobs = tracing.fold_event_log(str(HERE / "testdata" / "eventlog.jsonl"))
    py, agg, none = folds["py"], folds["agg"], folds[None]
    assert (py.tasks, agg.tasks, none.tasks) == (2, 3, 3)
    assert py.python_ms == 1785 + 1724
    assert py.run_ms == 2051 + 2040
    assert round(py.cpu_ms, 6) == (199535052 + 244284085) / 1e6
    assert agg.python_ms == 0
    assert agg.shuffle_write_bytes == 2 * 182
    assert agg.gc_ms == 28 + 28 + 7
    assert jobs == {"py": [2], "agg": [2, 1], None: [2, 1]}
