"""Spans around the library's public entry points, recorded from outside.

The library has no tracing code. ``Tracer.install`` replaces each entry
point listed in ``ENTRY_POINTS`` with a wrapper that records a span, in the
defining module and in every loaded module that imported it by name (or on
the class, for methods); ``uninstall`` puts the originals back. Spans stay
in memory and are written when the run ends.

``Py4jCounter`` counts gateway round trips at the gateway client.
``harvest_jobs`` reads finished Spark jobs and their stages from the
application's AppStatusStore, after the pass they belong to.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import time
from datetime import datetime, timezone
from typing import Dict, List, Optional

from core import Job, Span

PKG = "cypher_for_apache_spark_spark"

# (module, attribute or "Class.method", layer). A module with attribute
# "*" contributes every public function it defines.
ENTRY_POINTS = [
    (f"{PKG}.session", "build_spark_session", "session"),
    (f"{PKG}.sources.tpch", "load_tpch_graph", "sources"),
    (f"{PKG}.session", "CypherSession.cypher_on_graph", "cypher"),
    (f"{PKG}.parser", "parse", "parser"),
    # functions.compiler is only called under Planner.plan, so its time is
    # in the plans span without a span of its own per expression
    (f"{PKG}.plans.planner", "Planner.plan", "plans"),
    (f"{PKG}.procedures", "Procedure.invoke", "algorithms"),
    (f"{PKG}.operators.algorithms", "*", "algorithms"),
    (f"{PKG}.materialize", "*", "materialize"),
    (f"{PKG}.operators.dedup", "*", "pipeline_ops"),
    (f"{PKG}.operators.similarity", "*", "pipeline_ops"),
    (f"{PKG}.operators.text", "*", "pipeline_ops"),
    (f"{PKG}.operators.selection", "*", "pipeline_ops"),
]


def _public_functions(mod) -> List[str]:
    return [
        n for n, v in vars(mod).items()
        if inspect.isfunction(v) and v.__module__ == mod.__name__ and not n.startswith("_")
    ]


class Tracer:
    """Records spans while installed; one instance per run."""

    def __init__(self) -> None:
        self.spans: List[Span] = []
        self.stack: List[int] = []
        self.starts: Dict[int, float] = {}
        self.names: Dict[int, tuple] = {}
        self.next_id = 0
        self.query = ""
        self.gates: List[bool] = []  # maybe_broadcast verdicts
        self._targets = []  # (owner, attr, original, layer, qualname)
        for modname, attr, layer in ENTRY_POINTS:
            mod = importlib.import_module(modname)
            for a in (_public_functions(mod) if attr == "*" else [attr]):
                owner, name = mod, a
                if "." in a:
                    cls, name = a.split(".")
                    owner = getattr(mod, cls)
                self._targets.append((owner, name, getattr(owner, name), layer, a))
        self._wrappers = {id(orig): self._wrap(orig, layer, q)
                          for _o, _n, orig, layer, q in self._targets}

    # -- spans ---------------------------------------------------------------
    def open(self, name: str, layer: str) -> int:
        sid = self.next_id
        self.next_id += 1
        self.names[sid] = (name, layer, self.stack[-1] if self.stack else None)
        self.stack.append(sid)
        self.starts[sid] = time.time()
        return sid

    def close(self, sid: int) -> None:
        end = time.time()
        self.stack.pop()
        name, layer, parent = self.names.pop(sid)
        self.spans.append(Span(sid, self.query, name, layer, parent,
                               self.starts.pop(sid), end))

    def layer(self) -> Optional[str]:
        return self.names[self.stack[-1]][1] if self.stack else None

    def _wrap(self, fn, layer: str, qualname: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = tracer.open(qualname, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(sid)
            if qualname == "maybe_broadcast":
                tracer.gates.append(out is not (args[0] if args else kwargs["df"]))
            return out

        return traced

    # -- install / uninstall -------------------------------------------------
    def _rebind(self, mapping: Dict[int, object]) -> None:
        """Replace every reference to a key object (by identity) with its
        mapped object: on the owning class or module, and in every loaded
        library or registry module that imported it by name."""
        for owner, name, orig, _layer, _q in self._targets:
            cur = owner.__dict__.get(name)
            if id(cur) in mapping:
                setattr(owner, name, mapping[id(cur)])
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith(PKG) or modname == "__spark_entry__"):
                continue
            for k, v in list(vars(mod).items()):
                if id(v) in mapping and mapping[id(v)] is not v:
                    setattr(mod, k, mapping[id(v)])

    def install(self) -> None:
        self._rebind(self._wrappers)

    def uninstall(self) -> None:
        originals = {id(self._wrappers[id(orig)]): orig for _o, _n, orig, _l, _q in self._targets}
        self._rebind(originals)


class Py4jCounter:
    """Counts gateway round trips, in total and per innermost span layer.

    py4j's memory-release commands ("m\\nd\\n") are sent when Python's
    garbage collector frees Java references, at times no query controls;
    they count in ``total`` but not in ``by_layer``, which stays exact.
    The harness's own calls between requests run with ``paused`` set."""

    def __init__(self, client, tracer: Tracer) -> None:
        self.client = client
        self.tracer = tracer
        self.total = 0
        self.paused = False
        self.by_layer: Dict[Optional[str], int] = {}
        send = type(client).send_command
        counter = self

        def counting(command, *args, **kwargs):
            if counter.paused:
                return send(client, command, *args, **kwargs)
            counter.total += 1
            if not command.startswith("m\nd\n"):
                layer = counter.tracer.layer()
                counter.by_layer[layer] = counter.by_layer.get(layer, 0) + 1
            return send(client, command, *args, **kwargs)

        self._counting = counting

    def install(self) -> None:
        self.client.send_command = self._counting

    def uninstall(self) -> None:
        self.client.__dict__.pop("send_command", None)

    @contextlib.contextmanager
    def pause(self):
        """Leave the calls made inside uncounted."""
        self.paused = True
        try:
            yield
        finally:
            self.paused = False


# -- AppStatusStore -------------------------------------------------------------

def _epoch(ts: Optional[str]) -> float:
    # Spark's REST date format, e.g. 2026-10-17T10:01:36.353GMT
    dt = datetime.strptime(ts[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def harvest_jobs(spark, start: float, end: float, slack: float = 0.002) -> List[Job]:
    """Finished jobs submitted within [start, end], with their stages'
    totals. A stage shared by several jobs counts once, for the first."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
    jobs = []
    for j in json.loads(mapper.writeValueAsString(store.jobsList(None))):
        if not j.get("submissionTime") or not j.get("completionTime"):
            continue
        sub, comp = _epoch(j["submissionTime"]), _epoch(j["completionTime"])
        if start - slack <= sub and comp <= end + slack:
            jobs.append((j["jobId"], sub, comp, j["stageIds"]))
    seen = set()
    out = []
    for jid, sub, comp, stage_ids in sorted(jobs):
        n_stages = tasks = failed = 0
        run_ms = 0.0
        rd = wr = 0
        rdds: set = set()
        for sid in stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = json.loads(mapper.writeValueAsString(store.lastStageAttempt(sid)))
            except Exception:  # a stage skipped before it was ever created
                continue
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue
            n_stages += 1
            tasks += st["numCompleteTasks"] + st["numFailedTasks"]
            failed += st["numFailedTasks"]
            run_ms += st["executorRunTime"]
            rd += st["shuffleReadBytes"]
            wr += st["shuffleWriteBytes"]
            rdds.update(st.get("rddIds", ()))
        out.append(Job(jid, sub, comp, n_stages, tasks, failed, run_ms, rd, wr,
                       frozenset(rdds)))
    return out


def cached_rdd_ids(frames) -> List[int]:
    """RDD ids of the columnar caches under ``frames`` that hold data."""
    ids = []
    for df in frames:
        leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
        it = leaves.iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getSimpleName() != "InMemoryRelation":
                continue
            cache = leaf.cacheBuilder()
            if cache.isCachedColumnBuffersLoaded():
                ids.append(cache.cachedColumnBuffers().id())
    return sorted(set(ids))
