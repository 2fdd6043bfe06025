"""Tests for the benchmark's helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import extracts
from perfbench.counters import delta, parse_metric
from perfbench.spans import Span, Tracer, self_times, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, 0, start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 6.0, 7.0),
        _span(4, 2, 2.0, 3.0),
    ]
    got = self_times(spans)
    assert got == pytest.approx({1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0})


def test_self_time_counts_overlapping_children_once():
    # two fan-out workers running at once under one parent
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 6.0), _span(3, 1, 4.0, 8.0)]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(1, None, 2.0, 5.0), _span(2, 1, 0.0, 3.0)]
    assert self_times(spans)[1] == pytest.approx(2.0)


def test_tracer_nests_and_hangs_threads_under_root():
    import threading

    tracer = Tracer(True)
    with tracer.iteration_root("root", 3) as root:
        with tracer.span("child"):
            pass
        t = threading.Thread(target=lambda: tracer.wrap("worker", lambda: None)())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["child"].parent_id == root.span_id
    assert by_name["worker"].parent_id == root.span_id
    assert {s.iteration for s in tracer.spans} == {3}


def test_disabled_tracer_records_nothing():
    tracer = Tracer(False)
    with tracer.span("x") as s:
        assert s is None
    assert tracer.spans == []


def test_tail_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for s in samples if s > value) == 10


def test_tail_with_few_samples_keeps_half_beyond():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0, 6.0, 7.0, 8.0]
    value, pct, n = tail(samples)
    assert n == 8
    beyond = sum(1 for s in samples if s > value)
    assert beyond == 3 and value == 5.0 and pct == pytest.approx(62.5)


def test_tail_of_tiny_sets():
    assert tail([3.0]) == (3.0, 100.0, 1)
    assert tail([1.0, 2.0]) == (2.0, 100.0, 2)
    assert tail([1.0, 2.0, 3.0]) == (2.0, pytest.approx(200 / 3), 3)


def test_counter_deltas_are_never_negative():
    before = {"exec.stages": 10.0, "codegen.compile_s": 5.0, "exec.tasks": 3.0}
    after = {"exec.stages": 12.0, "codegen.compile_s": 4.2, "exec.tasks": 3.0}
    d = delta(before, after)
    assert d == {"exec.stages": 2.0, "codegen.compile_s": 0.0, "exec.tasks": 0.0}
    assert all(v >= 0 for v in d.values())


def test_parse_metric_reads_totals():
    assert parse_metric("100,000") == 100000
    assert parse_metric("37 ms") == pytest.approx(0.037)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1.2 s (130 ms, 150 ms, 177 ms (stage 14.0: task 36))"
    ) == pytest.approx(1.2)
    assert parse_metric("2.5 m") == pytest.approx(150.0)


def test_extracts_are_identical_for_a_seed(tmp_path):
    a = extracts.make_region(np.random.default_rng(5), 300, -105.5, 39.0, 10**9)
    b = extracts.make_region(np.random.default_rng(5), 300, -105.5, 39.0, 10**9)
    c = extracts.make_region(np.random.default_rng(6), 300, -105.5, 39.0, 10**9)
    assert a == b
    assert a[0] != c[0]


def test_extract_facts_match_an_independent_decode(tmp_path):
    from osm_airflow_spark.sources import pbf_wire

    data, facts = extracts.make_region(np.random.default_rng(2), 400, 10.0, -20.0, 7)
    path = tmp_path / "r.osm.pbf"
    path.write_bytes(data)
    nodes, ways = {}, []
    with open(path, "rb") as fh:
        for start, length in pbf_wire.validated_data_offsets(str(path)):
            fh.seek(start)
            blob = pbf_wire.decode_blob(fh.read(length))
            nodes.update((n["node_id"], n) for n in blob["nodes"])
            ways += blob["ways"]
    assert len(nodes) == facts["nodes"] == 4000
    assert len(ways) == facts["ways"]
    bbox = {}
    for w in ways:
        if "highway" in w["tags"]:
            lons = [round(nodes[r]["lon"] * 1e7) for r in w["node_refs"]]
            lats = [round(nodes[r]["lat"] * 1e7) for r in w["node_refs"]]
            bbox[str(w["way_id"])] = [min(lons), min(lats), max(lons), max(lats)]
    assert len(bbox) == facts["highway_ways"]
    assert bbox == facts["bbox_e7"]
    assert extracts.coord_checksum(bbox) == facts["coord_checksum"]


def test_write_extracts_is_deterministic(tmp_path, monkeypatch):
    small = tuple(dict(r, ways=r["ways"] // 40) for r in extracts.REGIONS)
    monkeypatch.setattr(extracts, "REGIONS", small)
    f1 = extracts.write_extracts(str(tmp_path / "a"), 9)
    f2 = extracts.write_extracts(str(tmp_path / "b"), 9)
    assert f1 == f2
    for r in small:
        name = f"{r['subregion']}.osm.pbf"
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    sizes = [f["nodes"] for f in f1.values()]
    assert len(set(sizes)) == len(sizes), "regions should differ in size"


def test_every_rows_only_key_has_a_recorded_digest():
    from osm_airflow_spark.registry import all_oracles

    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(ROOT, "perfbench", "digests.json")) as fh:
        recorded = json.load(fh)["digests"]
    keys = {k for w in spec["workloads"].values() for k in w.get("keys", [])}
    rows_only = keys - set(all_oracles())
    assert set(recorded) == {"sf0.01", "sf0.1"}
    for tables in recorded.values():
        assert set(tables) == rows_only
