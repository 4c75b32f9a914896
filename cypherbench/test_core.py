"""Self-tests of the harness's Spark-free core.

    python3 -m pytest cypherbench/test_core.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

import core  # noqa: E402
from core import Job, Span  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_issue_order_is_fixed_by_seed_and_pass():
    names = core.WORKLOADS["cypher_interactive"]["queries"]
    a = core.issue_order(names, 7, 3)
    assert a == core.issue_order(names, 7, 3)
    assert sorted(a) == sorted(names)
    assert a != core.issue_order(names, 8, 3)
    assert a != core.issue_order(names, 7, 4)


def test_cypher_interactive_is_the_light_cypher_set():
    q = core.WORKLOADS["cypher_interactive"]["queries"]
    assert len(q) == len(set(q)) == 29
    assert not set(q) & set(core.CYPHER_LOOP_QUERIES)


def test_p90_needs_ten_samples_beyond_it():
    assert not core.percentile_reportable(99, 90)
    assert core.percentile_reportable(100, 90)
    assert core.percentile_reportable(58, 50)
    assert not core.percentile_reportable(999, 99)
    assert core.percentile(list(range(1, 101)), 90) == 90


def test_union_counts_overlaps_once():
    assert core.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert core.union_length([(0, 10), (2, 3)]) == 10
    assert core.union_length([(0, 4), (3, 8)], clip=(1, 5)) == 4
    assert core.union_length([]) == 0


def _span(i, parent, start, end, layer="plans", query="q"):
    return Span(i, query, f"s{i}", layer, parent, start, end)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, None, 0.0, 10.0, "cypher"),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1
        _span(3, 1, 1.5, 2.0, "materialize"),
    ]
    st = core.self_times(spans)
    assert st[0] == pytest.approx(5.0)  # 10 minus the union [1, 6]
    assert st[1] == pytest.approx(2.5)
    assert st[3] == pytest.approx(0.5)


def test_concurrent_jobs_count_once_and_attach_innermost():
    spans = [
        _span(0, None, 0.0, 10.0, "cypher"),
        _span(1, 0, 2.0, 8.0, "materialize"),
    ]
    jobs = [
        Job(1, 2.5, 5.0, 1, 4, 0, 10.0, 0, 0),
        Job(2, 3.0, 6.0, 1, 4, 0, 10.0, 0, 0),  # runs beside job 1
        Job(3, 8.5, 9.0, 1, 1, 0, 1.0, 0, 0),
    ]
    assert core.union_length((j.submit, j.complete) for j in jobs) == pytest.approx(4.0)
    assert core.attach_jobs(spans, jobs) == {1: 1, 2: 1, 3: 0}


def test_metric_names_match_the_pattern():
    bm = _benchmark()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bm[k]]
    names += [w["name"] for w in bm["workloads"]]
    assert all(core.METRIC_NAME_RE.match(n) for n in names)
    assert len(names) == len(set(names))
    assert not core.METRIC_NAME_RE.match("bad name")
    assert not core.METRIC_NAME_RE.match(".hidden")


def test_workloads_match_the_declared_ones():
    assert [w["name"] for w in _benchmark()["workloads"]] == list(core.WORKLOADS)


def test_result_line_carries_exactly_the_declared_names():
    declared = core.declared_metrics(_benchmark(), trace=False)
    values = {n: 1.5 for n, _u in declared}
    line = json.loads(core.result_line(declared, values, True, 10, 0))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {n: {"value": 1.5, "unit": u} for n, u in declared}
    with pytest.raises(ValueError):
        core.result_line(declared, {**values, "extra": 1.0}, True, 10, 0)
    with pytest.raises(ValueError):
        core.result_line(declared, {n: 1.0 for n, _u in declared[1:]}, True, 10, 0)


def _fake_run(trace_spans, trace_jobs, wall, query="triangles_nations"):
    trace = {"spans": [s.__dict__ for s in trace_spans],
             "jobs": [{**j.__dict__, "rdd_ids": []} for j in trace_jobs],
             "gates": [True, False], "py4j_total": 30,
             "py4j_by_layer": {"plans": 12, "None": 3}, "gc_ms": 5,
             "heap_peak_mb": 100.0}
    one = {"index": 1, "latencies": [[query, wall]], "failed": 0, "wall": wall,
           "codegen_compiles": 3}
    return {"setup_s": 9.0, "session.start_s": 5.0, "sources.load_s": 4.0,
            "graph.cache_fill_s": 1.0, "cold": one, "passes": [one, one],
            "traced": [{**one, "trace": trace}], "errors": [], "gc_s": 0.5}


def _request_spans():
    """One traced request: registry (with cypher, plans and materialize
    inside it), then the collect action."""
    return [
        _span(0, None, 0.0, 1.0, "registry", "triangles_nations"),
        _span(1, 0, 0.1, 0.9, "cypher", "triangles_nations"),
        _span(2, 1, 0.2, 0.5, "plans", "triangles_nations"),
        _span(3, 2, 0.3, 0.4, "materialize", "triangles_nations"),
        _span(4, None, 1.0, 1.99, "spark", "triangles_nations"),
    ]


def test_per_layer_names_and_self_times_add_up_to_the_wall():
    spans = _request_spans()
    jobs = [Job(1, 0.31, 0.39, 2, 8, 0, 50.0, 100, 200), Job(2, 1.1, 1.8, 1, 4, 0, 9.0, 7, 0)]
    res = _fake_run(spans, jobs, wall=2.0)
    values = core.per_layer(res)
    declared = core.declared_metrics(_benchmark(), trace=True)
    assert sorted(values) == sorted(n for n, _u in declared)
    assert core.layers_add_up(values)
    assert core.trace_problems(res) == []
    assert values["trace.unattributed_ms"] == pytest.approx(10.0)
    assert values["cypher.inside_jobs"] == 1
    assert values["materialize.jobs"] == 1
    assert values["plans.py4j_calls"] == 12
    assert values["materialize.broadcast_ratio"] == 0.5
    assert values["spark.shuffle_read_bytes.triangles_nations"] == 107
    assert values["spark.shuffle_read_bytes.clustering_parts"] == 0


def test_end_to_end_names_match_the_declared_ones():
    res = _fake_run([], [], wall=3.0)
    declared = core.declared_metrics(_benchmark(), trace=False)
    assert sorted(core.end_to_end(res)) == sorted(n for n, _u in declared)


def test_trace_checks_catch_missing_and_foreign_spans():
    spans = _request_spans()
    # more than 1% of the wall outside every span
    assert any("outside every span" in m
               for m in core.trace_problems(_fake_run(spans, [], wall=2.5)))
    # a request without its collect span
    assert any("spark spans" in m
               for m in core.trace_problems(_fake_run(spans[:4], [], wall=1.0)))
    # spans of a request that was not made
    assert any("registry spans" in m
               for m in core.trace_problems(_fake_run(spans, [], wall=2.0, query="other")))
    # a span of a layer the pass does not know: the identity breaks too
    foreign = spans + [_span(5, 4, 1.2, 1.3, "session", "triangles_nations")]
    res = _fake_run(foreign, [], wall=2.0)
    assert any("unknown layers ['session']" in m for m in core.trace_problems(res))
    assert not core.layers_add_up(core.per_layer(res))


def test_failed_tasks_are_reported_beside_the_result():
    jobs = [Job(1, 0.31, 0.39, 2, 8, 1, 50.0, 100, 200)]
    assert core.detail(_fake_run(_request_spans(), jobs, wall=2.0))["spark.failed_tasks"] == 1
