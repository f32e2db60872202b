"""Self time, job coverage and per-operation Spark sums, on synthetic spans."""

from perfbench import trace


def _span(i, name, start, end, parent=None, op=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": op}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "search", 0.0, 10.0, op="w.search.0"),
        _span(1, "plan", 1.0, 3.0, parent=0),
        _span(2, "collect", 2.0, 6.0, parent=0),   # overlaps plan by 1 s
    ]
    rows = {r["layer"]: r for r in trace.layer_table(spans)}
    assert rows["search"]["self_s"] == 5.0        # 10 - union(1..6)
    assert rows["plan"]["self_s"] == 2.0
    assert rows["collect"]["calls"] == 1


def test_op_profile_sums_stages_and_finds_uncovered_time():
    span = _span(0, "search", 100.0, 101.0, op="w.search.0")
    jobs = [
        {"group": "w.search.0", "stages": [1, 2], "start": 100.2, "end": 100.5},
        {"group": "w.search.0", "stages": [2, 3], "start": 100.4, "end": 100.6},
        {"group": "w.search.1", "stages": [4], "start": 100.0, "end": 101.0},
    ]
    stage = {"tasks": 2, "failed_tasks": 0, "run_ms": 300, "cpu_ms": 100.0, "input_bytes": 10,
             "shuffle_read_bytes": 1, "shuffle_write_bytes": 1, "spill_bytes": 0}
    stages = {i: dict(stage) for i in (1, 2, 3, 4)}
    p = trace.op_profile(span, jobs, stages, cores=4)
    assert p["jobs"] == 2 and p["stages"] == 3 and p["tasks"] == 6
    assert p["run_ms"] == 900
    assert abs(p["uncovered_ms"] - 600.0) < 1e-6       # jobs cover 100.2..100.6
    assert abs(p["slot_busy_frac"] - 900 / (400 * 4)) < 1e-9


def test_disabled_tracer_records_nothing():
    t = trace.Tracer(None, "w", enabled=False)
    with t.op("search", 0), t.span("plan"):
        pass
    assert t.spans == []
