"""Spark-free core of the benchmark harness: workloads, request order,
statistics, span arithmetic and the result line.

Nothing here imports PySpark or the library, so ``test_core.py`` can check
it in a second.
"""

from __future__ import annotations

import json
import random
import re
import statistics
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# The seven light-Cypher exclusions are the registry's loop queries; they
# belong to graph_iterative's families instead.
CYPHER_LOOP_QUERIES = (
    "varlength_chain",
    "varlength_unbounded_chain",
    "varpath_chain_cents",
    "shortest_path_orders",
    "all_shortest_shared_part",
    "call_pagerank_next",
    "call_bfs_region",
)

WORKLOADS: Dict[str, dict] = {
    # Analyst and dashboard traffic: the 29 light Cypher registry queries
    # (every _CYPHER_QUERIES entry except CYPHER_LOOP_QUERIES). Most of the
    # wall is parser/planner work and short jobs. A single request's latency
    # varies by about a third from pass to pass (each pass recompiles about
    # 200 generated classes, and the JIT is still busy with them), so the
    # median is taken over two timed passes, 58 requests, rather than over
    # one pass after an untimed one: the two cost the same.
    "cypher_interactive": {
        "min_passes": 2,
        "queries": (
            "scan_filter_project", "expand_group_count", "two_hop_region",
            "shared_node_join", "pricing_summary", "optional_match_histogram",
            "exists_pattern", "anti_pattern", "union_names",
            "distinct_segments", "order_skip_limit", "order_big_skip",
            "unwind_words", "case_buckets", "call_subquery_orders",
            "call_topk_orders", "string_funcs", "in_list_filter", "agg_stats",
            "percentile_disc_by_segment", "with_chain_filter",
            "order_year_quarter", "orders_by_weekday", "ship_delay_days",
            "recent_orders_window", "with_order_where", "avg_distinct_price",
            "list_ops", "zoned_day_add_orders",
        ),
    },
    # One query per loop family, the cheapest that still runs the loop:
    # PageRank and CALL algo.* through the planner (call_pagerank_next),
    # CC over a derived similarity graph (dedup_minhash_cc_portable, which
    # also carries the doc-pipeline operators), BFS through CALL
    # (call_bfs_region), a Cypher var-length fixpoint (varlength_chain),
    # and the two cyclic-pattern queries whose wedge joins ROADMAP item 5
    # targets (triangles_nations, clustering_parts). A pass takes 11-19 s,
    # so the time budget has room for one.
    "graph_iterative": {
        "min_passes": 1,
        "queries": (
            "call_pagerank_next", "dedup_minhash_cc_portable",
            "call_bfs_region", "varlength_chain", "triangles_nations",
            "clustering_parts",
        ),
    },
}

# Queries whose shuffle bytes are also reported on their own (wedge joins).
SHUFFLE_WATCH = ("triangles_nations", "clustering_parts")


def issue_order(names: Sequence[str], seed: int, pass_index: int) -> List[str]:
    """Request order of one pass: a permutation fixed by (seed, pass)."""
    rng = random.Random(seed * 1_000_003 + pass_index)
    order = list(names)
    rng.shuffle(order)
    return order


# -- statistics ---------------------------------------------------------------

def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def quartiles(values: Sequence[float]) -> Tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return q1, q2, q3


def spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def percentile_reportable(n_samples: int, pct: float) -> bool:
    """A percentile is reported only with at least ten samples beyond it."""
    return n_samples * (100.0 - pct) / 100.0 >= 10.0 - 1e-9


def percentile(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * pct // 100))
    return ordered[int(rank) - 1]


# -- spans ---------------------------------------------------------------------

@dataclass(frozen=True)
class Span:
    id: int
    query: str
    name: str
    layer: str
    parent: Optional[int]
    start: float
    end: float


@dataclass(frozen=True)
class Job:
    id: int
    submit: float
    complete: float
    stages: int
    tasks: int
    failed_tasks: int
    executor_run_ms: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    rdd_ids: frozenset = frozenset()


def union_length(intervals: Iterable[Tuple[float, float]],
                 clip: Optional[Tuple[float, float]] = None) -> float:
    """Length of the union of intervals, optionally clipped to ``clip``:
    overlapping intervals are counted once."""
    ivs = []
    for a, b in intervals:
        if clip is not None:
            a, b = max(a, clip[0]), min(b, clip[1])
        if b > a:
            ivs.append((a, b))
    ivs.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[Span]) -> Dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start)
        - union_length(children.get(s.id, ()), clip=(s.start, s.end))
        for s in spans
    }


def attach_jobs(spans: Sequence[Span], jobs: Sequence[Job],
                slack: float = 0.001) -> Dict[int, Optional[int]]:
    """Job id -> the innermost span open over the whole job.

    A job blocks the span that submitted it, so that span covers
    [submit, complete]; ``slack`` absorbs the JVM's millisecond clock."""
    depth: Dict[int, int] = {}
    by_id = {s.id: s for s in spans}

    def d(sid: int) -> int:
        if sid not in depth:
            p = by_id[sid].parent
            depth[sid] = 0 if p is None or p not in by_id else d(p) + 1
        return depth[sid]

    out: Dict[int, Optional[int]] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s.start - slack <= j.submit and j.complete <= s.end + slack:
                if best is None or d(s.id) > d(best.id):
                    best = s
        out[j.id] = None if best is None else best.id
    return out


def ancestors(span_id: Optional[int], by_id: Dict[int, Span]) -> List[Span]:
    """The span and its ancestors, innermost first."""
    out = []
    while span_id is not None and span_id in by_id:
        s = by_id[span_id]
        out.append(s)
        span_id = s.parent
    return out


# -- result line ----------------------------------------------------------------

def declared_metrics(benchmark: dict, trace: bool) -> List[Tuple[str, str]]:
    key = "per_layer" if trace else "end_to_end"
    return [(m["name"], m["unit"]) for m in benchmark[key]]


def result_line(declared: Sequence[Tuple[str, str]], values: Dict[str, float],
                correct: bool, attempted: int, failed: int) -> str:
    """The benchmark's last stdout line; it carries exactly the declared
    metric names, each with its declared unit."""
    names = [n for n, _ in declared]
    bad = [n for n in names if not METRIC_NAME_RE.match(n)]
    if bad:
        raise ValueError(f"bad metric names: {bad}")
    missing = sorted(set(names) - set(values))
    extra = sorted(set(values) - set(names))
    if missing or extra:
        raise ValueError(f"metrics missing {missing}, undeclared {extra}")
    if attempted < 1:
        raise ValueError("no request was attempted")
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in declared}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted),
         "failed": int(failed), "metrics": metrics},
        separators=(",", ":"),
    )


# -- metrics from a worker's measurements ---------------------------------------

def request_counts(res: dict) -> Tuple[int, int]:
    """(attempted, failed) over every pass of the run."""
    runs = [res["cold"], *res["passes"], *res["traced"]]
    return sum(len(p["latencies"]) for p in runs), sum(p["failed"] for p in runs)


def warm_latencies(res: dict) -> List[float]:
    return [dt for p in res["passes"] for _n, dt in p["latencies"]]


def end_to_end(res: dict) -> Dict[str, float]:
    lat = warm_latencies(res)
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["cold"]["wall"],
        "pass_s": median(p["wall"] for p in res["passes"]),
        "query_p50_ms": 1000.0 * median(lat),
    }


def detail(res: dict) -> Dict[str, float]:
    """Figures printed beside the result line: set-up components, the p90
    where enough samples back it, and the failure counts, which are 0 on
    every workload at HEAD and so are not declared."""
    lat = warm_latencies(res)
    attempted, failed = request_counts(res)
    out = {
        "session.start_s": res["session.start_s"],
        "sources.load_s": res["sources.load_s"],
        "warm_samples": len(lat),
        "warm_pass_s": [round(p["wall"], 3) for p in res["passes"]],
        "codegen_compiles": [p["codegen_compiles"] for p in [res["cold"], *res["passes"]]],
        "failed_frac": failed / attempted,
        "untimed_gc_s": res["gc_s"],
        "cold_ms": {n: round(1000.0 * dt, 1) for n, dt in sorted(res["cold"]["latencies"])},
        "warm_ms": {
            q: round(1000.0 * median(dt for p in res["passes"] for n, dt in p["latencies"] if n == q), 1)
            for q in sorted({n for p in res["passes"] for n, _dt in p["latencies"]})
        },
    }
    if percentile_reportable(len(lat), 90):
        out["query_p90_ms"] = 1000.0 * percentile(lat, 90)
    if res["traced"]:
        out["spark.failed_tasks"] = sum(
            j["failed_tasks"] for p in res["traced"] for j in p["trace"]["jobs"])
    return out


def _median_pass(passes: Sequence[dict]) -> dict:
    ordered = sorted(passes, key=lambda p: p["wall"])
    return ordered[(len(ordered) - 1) // 2]


# materialize helpers that checkpoint a frame: one per loop round
CHECKPOINT_HELPERS = ("materialize", "materialize_count", "materialize_lazy",
                      "materialize_agg")

LAYERS = ("registry", "cypher", "parser", "plans", "algorithms",
          "materialize", "pipeline_ops", "spark")


def per_layer(res: dict) -> Dict[str, float]:
    """Per-layer figures of the traced pass with the median wall, so that
    its layer self times and unattributed time add up to its wall."""
    rec = _median_pass(res["traced"])
    tr = rec["trace"]
    spans = [Span(**s) for s in tr["spans"]]
    jobs = [Job(**{**j, "rdd_ids": frozenset(j["rdd_ids"])}) for j in tr["jobs"]]
    by_id = {s.id: s for s in spans}
    st = self_times(spans)
    attached = attach_jobs(spans, jobs)

    def self_ms(layer: str) -> float:
        return 1000.0 * sum(st[s.id] for s in spans if s.layer == layer)

    def under(span_id: Optional[int], layer: str) -> bool:
        return any(a.layer == layer for a in ancestors(span_id, by_id))

    outer_mat = [s for s in spans if s.layer == "materialize" and not under(s.parent, "materialize")]
    covered = union_length((s.start, s.end) for s in spans if s.parent is None)
    gates = tr["gates"]
    out = {
        "session.start_s": res["session.start_s"],
        "sources.load_s": res["sources.load_s"],
        "graph.cache_fill_s": res["graph.cache_fill_s"],
        "parser.self_ms": self_ms("parser"),
        "plans.self_ms": self_ms("plans"),
        "plans.py4j_calls": tr["py4j_by_layer"].get("plans", 0),
        "cypher.self_ms": self_ms("cypher"),
        "cypher.inside_jobs": sum(under(attached[j.id], "cypher") for j in jobs),
        "registry.self_ms": self_ms("registry"),
        "materialize.calls": len(outer_mat),
        "materialize.self_ms": self_ms("materialize"),
        "materialize.jobs": sum(under(attached[j.id], "materialize") for j in jobs),
        "materialize.broadcast_gates": len(gates),
        "materialize.broadcast_ratio": sum(gates) / len(gates) if gates else 0.0,
        "algorithms.self_ms": self_ms("algorithms"),
        "algorithms.rounds": sum(
            s.name in CHECKPOINT_HELPERS and under(s.parent, "algorithms") for s in outer_mat),
        "pipeline_ops.self_ms": self_ms("pipeline_ops"),
        "spark.action_ms": self_ms("spark"),
        "spark.jobs": len(jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.executor_run_ms": sum(j.executor_run_ms for j in jobs),
        "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spark.codegen_compiles": rec["codegen_compiles"],
        "jvm.gc_ms": tr["gc_ms"],
        "jvm.heap_peak_mb": tr["heap_peak_mb"],
        "py4j.calls": tr["py4j_total"],
        "trace.pass_s": rec["wall"],
        "trace.overhead_s": median(p["wall"] for p in res["traced"])
        - median(p["wall"] for p in res["passes"]),
        "trace.unattributed_ms": 1000.0 * (rec["wall"] - covered),
    }
    for q in SHUFFLE_WATCH:
        mine = [j for j in jobs if attached[j.id] is not None and by_id[attached[j.id]].query == q]
        out[f"spark.shuffle_read_bytes.{q}"] = sum(j.shuffle_read_bytes for j in mine)
        out[f"spark.shuffle_write_bytes.{q}"] = sum(j.shuffle_write_bytes for j in mine)
    return out


def layers_add_up(values: Dict[str, float], tol_ms: float = 0.01) -> bool:
    """Layer self times plus unattributed time equal the traced pass wall.

    This is an arithmetic identity: spans come from one stack, so they
    nest, and the self times of all spans add up to the union of the root
    spans, which unattributed time is measured against. It can fail only
    through a span whose layer is not in LAYERS; ``trace_problems`` checks
    the attribution itself."""
    parts = sum(values[f"{layer}.self_ms"] for layer in LAYERS if layer != "spark")
    parts += values["spark.action_ms"] + values["trace.unattributed_ms"]
    return abs(parts - 1000.0 * values["trace.pass_s"]) <= tol_ms


# share of a traced pass's wall that may lie outside every span: the
# harness's own steps inside a request (clock reads, span bookkeeping)
MAX_UNATTRIBUTED_SHARE = 0.01


def trace_problems(res: dict) -> List[str]:
    """Checks of every traced pass that fail when spans miss work: each
    span's layer is a pass layer, each request has its registry and
    collect spans, and at most MAX_UNATTRIBUTED_SHARE of the pass wall
    lies outside every span."""
    problems = []
    for rec in res["traced"]:
        spans = [Span(**s) for s in rec["trace"]["spans"]]
        unknown = sorted({s.layer for s in spans} - set(LAYERS))
        if unknown:
            problems.append(f"pass {rec['index']}: spans of unknown layers {unknown}")
        requested = sorted(n for n, _dt in rec["latencies"])
        for layer in ("registry", "spark"):
            roots = sorted(s.query for s in spans if s.parent is None and s.layer == layer)
            if roots != requested:
                problems.append(f"pass {rec['index']}: {layer} spans do not match the requests")
        outside = rec["wall"] - union_length((s.start, s.end) for s in spans if s.parent is None)
        if outside > MAX_UNATTRIBUTED_SHARE * rec["wall"]:
            problems.append(f"pass {rec['index']}: {1000.0 * outside:.1f} ms of "
                            f"{rec['wall']:.2f} s lie outside every span")
    return problems
