"""One benchmark run in a fresh Python process and JVM.

Started by ``run.py``, never by hand. It runs the phases of one workload
and writes its measurements to ``<run-dir>/result.json``:

1. priming (untimed): read the input parquet and Spark's jars once;
2. set-up (timed): ``build_spark_session`` and the registry's graph load;
3. cold pass (timed): every query once, in the workload's order; each
   result is then checked against its DuckDB answer;
4. warm-up (untimed): garbage collection on both sides and a wait until
   the JIT compile queue is quiet (repeated before every warm pass);
5. warm passes (timed), each in the seed's order: at least the
   workload's ``min_passes``, then more until ``--seconds`` have passed.

With ``--trace 1`` the set-up is traced, the cold pass's Spark jobs are
read back to find the ones that filled the graph's caches, and the warm
passes alternate untraced and traced (untraced first and last) so the
tracing overhead can be read without the drift between passes.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import gc
import glob
import json
import os
import sys
import time

import core

MASTER = "local[4]"
JVM_HEAP = "4g"  # fits a 15 GB machine


def prime(data_dir: str) -> None:
    from pyspark.find_spark_home import _find_spark_home

    files = glob.glob(os.path.join(data_dir, "**", "*"), recursive=True)
    files += glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar"))
    for path in files:
        if os.path.isfile(path):
            with open(path, "rb") as f:
                while f.read(1 << 22):
                    pass


def session_confs(run_dir: str) -> dict:
    """Bench sizing and private directories; every other conf comes from
    the library's ``build_spark_session``."""
    d = {k: os.path.join(run_dir, k) for k in ("local", "warehouse", "derby", "tmp")}
    for path in d.values():
        os.makedirs(path, exist_ok=True)
    return {
        "spark.sql.shuffle.partitions": "4",
        "spark.driver.memory": JVM_HEAP,
        "spark.local.dir": d["local"],
        "spark.sql.warehouse.dir": d["warehouse"],
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={d['derby']} -Djava.io.tmpdir={d['tmp']}",
        # no UI port to bind and no progress bar on stderr
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def rows_to_pandas(rows, schema, spark):
    """``DataFrame.toPandas`` (non-Arrow path) over already collected rows,
    so the check sees the same values as ``tools/check_oracle.py``."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    cols = schema.names
    if not rows:
        return pd.DataFrame(columns=cols)
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=cols)
    jconf = spark._jconf
    tz = jconf.sessionLocalTimeZone()
    mode = jconf.pandasStructHandlingMode()
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType, field.nullable, timezone=tz,
                struct_in_pandas="row" if mode == "legacy" else mode,
                error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def settle(spark, max_wait: float = 10.0) -> None:
    """Untimed: collect garbage on both sides, then wait until the JIT
    compile queue is quiet (two quiet 0.1 s polls in a row)."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    cmx = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.time()
    prev = cmx.getTotalCompilationTime()
    quiet = 0
    while quiet < 2 and time.time() - t0 < max_wait:
        time.sleep(0.1)
        cur = cmx.getTotalCompilationTime()
        quiet = quiet + 1 if cur - prev < 5 else 0
        prev = cur


def gc_ms(jvm) -> int:
    total = 0
    it = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        total += max(0, it.next().getCollectionTime())
    return total


def heap_peak_mb(jvm, reset: bool = False) -> float:
    """Sum of the heap pools' peak usage since the last reset."""
    peak = 0
    it = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans().iterator()
    while it.hasNext():
        pool = it.next()
        if pool.getType().name() == "HEAP":
            peak += pool.getPeakUsage().getUsed()
            if reset:
                pool.resetPeakUsage()
    return peak / (1 << 20)


def codegen_compiles(jvm) -> int:
    """Generated classes Spark has compiled so far (its codegen cache's
    misses)."""
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


class Runner:
    def __init__(self, args, spark, fns, oracles):
        self.args = args
        self.spark = spark
        self.fns = fns
        self.oracles = oracles
        self.tracer = None  # set during traced passes
        self.py4j = None  # set during traced passes
        self.errors: list = []
        self.gc_s = 0.0

    def request(self, name: str, want_schema: bool):
        """One closed-loop request: registry function, then collect().
        Returns (latency, rows, schema), rows None on an error; the schema
        is read after the clock stops."""
        fn = self.fns[name]
        tr = self.tracer
        t0 = time.time()
        try:
            if tr is None:
                df = fn(self.spark, self.args.data)
                rows = df.collect()
            else:
                tr.query = name
                sid = tr.open(name, "registry")
                try:
                    df = fn(self.spark, self.args.data)
                finally:
                    tr.close(sid)
                sid = tr.open("collect", "spark")
                try:
                    rows = df.collect()
                finally:
                    tr.close(sid)
        except Exception as ex:  # a failing request is counted, not fatal
            self.errors.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            return time.time() - t0, None, None
        dt = time.time() - t0
        return dt, rows, df.schema if want_schema else None

    def check(self, name: str, rows, schema) -> bool:
        """The whole result against the DuckDB answer when ``schema`` is
        given (cold pass), else the row count only."""
        want = self.oracles[name]
        if schema is None:
            ok = len(rows) == want["rows"]
        else:
            import oracle

            ok = oracle.digest(rows_to_pandas(rows, schema, self.spark)) == {
                k: want[k] for k in ("columns", "rows", "sha256")}
        if not ok:
            self.errors.append(f"{name}: result differs from the oracle "
                               f"({len(rows)} rows, expected {want['rows']})")
        return ok

    def run_pass(self, index: int, check_full: bool = False) -> dict:
        """One pass over the workload; results are checked after the pass,
        so checking adds no gap between requests.

        The cold pass (index 0) runs in the workload's listed order: the
        first query to touch a lazily persisted graph frame pays its fill,
        and the fill costs differ by query (LINE, on a 4-vCPU VM: 4.8 s
        under pricing_summary, 5.9 s under ship_delay_days), so a seeded
        cold order would make cold_pass_s depend on the seed. Warm passes
        run in the seed's order."""
        lat, results = [], []
        jvm = self.spark.sparkContext._jvm
        order = core.issue_order(self.args.queries, self.args.seed, index) if index else self.args.queries
        traced = self.tracer is not None
        harness = self.py4j.pause if traced else contextlib.nullcontext
        request_gc_ms = 0
        with harness():
            compiles = codegen_compiles(jvm)
        for name in order:
            # untimed and uncounted: free the previous request's Python
            # garbage, so its py4j releases do not land inside this request
            with harness():
                t = time.time()
                gc.collect()
                self.gc_s += time.time() - t
                gc0 = gc_ms(jvm) if traced else 0
            dt, rows, schema = self.request(name, check_full)
            if traced:
                with harness():
                    request_gc_ms += gc_ms(jvm) - gc0
            lat.append((name, dt))
            results.append((name, rows, schema))
        with harness():
            compiles = codegen_compiles(jvm) - compiles
        failed = sum(rows is None or not self.check(name, rows, schema)
                     for name, rows, schema in results)
        rec = {"index": index, "latencies": lat, "failed": failed,
               "wall": sum(dt for _n, dt in lat), "codegen_compiles": compiles}
        if traced:
            rec["gc_ms"] = request_gc_ms
        return rec


def graph_frames(graph) -> list:
    frames = [rt.df for rts in graph.rel_tables.values() for rt in rts]
    return frames + [tt.df for tt in graph.triplet_tables.values()]


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--data", required=True)
    args = p.parse_args(argv)
    cfg = core.WORKLOADS[args.workload]
    args.queries = list(cfg["queries"])
    with open(os.path.join(args.run_dir, "oracle.json")) as f:
        oracles = json.load(f)

    # 1. priming
    prime(args.data)
    import __spark_entry__ as E
    from cypher_for_apache_spark_spark import session as lib_session

    registry = E.queries()
    fns = {n: registry[n] for n in args.queries}
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()

    # 2. set-up
    confs = session_confs(args.run_dir)
    t0 = time.time()
    spark = lib_session.build_spark_session(MASTER, "cypherbench", confs)
    t1 = time.time()
    graph = E._graph(spark, args.data)
    t2 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(args.run_dir, "checkpoint"))
    out = {"setup_s": t2 - t0, "session.start_s": t1 - t0,
           "sources.load_s": t2 - t1}
    if tracer is not None:
        tracer.uninstall()
        out.update(trace_setup(tracer))
        tracer.spans.clear()
    runner = Runner(args, spark, fns, oracles)
    settle(spark)  # set-up's JIT backlog stays out of the cold pass

    # 3. cold pass
    start = time.time()
    cold = runner.run_pass(0, check_full=True)
    if tracer is not None:
        jobs = tracing.harvest_jobs(spark, start, time.time())
        rdds = tracing.cached_rdd_ids(graph_frames(graph))
        out["graph.cache_fill_s"] = cache_fill_s(jobs, rdds)

    # 4. warm-up
    settle(spark)

    # 5. timed warm passes: at least the workload's min_passes, then more
    # until --seconds have passed; traced runs alternate untraced and
    # traced passes, starting and ending untraced, so a steady drift
    # between passes cancels out of the tracing overhead
    passes, traced = [], []
    budget_start = time.time()
    k = 0
    while True:
        if tracer is not None and k % 2 == 1:
            traced.append(traced_pass(runner, tracer, 1 + k))
        else:
            passes.append(runner.run_pass(1 + k))
        k += 1
        done = (len(passes) >= cfg["min_passes"]
                and time.time() - budget_start >= args.seconds)
        if done and (tracer is None or (traced and k % 2 == 1)):
            break
        settle(spark)

    out.update({"cold": cold, "passes": passes,
                "traced": traced, "errors": runner.errors, "gc_s": runner.gc_s})
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(out, f)
    stop(spark)
    return 0


def traced_pass(runner: Runner, tracer, index: int) -> dict:
    import tracing

    spark = runner.spark
    jvm = spark.sparkContext._jvm
    heap_peak_mb(jvm, reset=True)
    tracer.gates.clear()
    tracer.spans.clear()
    py4j = tracing.Py4jCounter(spark.sparkContext._gateway._gateway_client, tracer)
    tracer.install()
    py4j.install()
    runner.tracer, runner.py4j = tracer, py4j
    start = time.time()
    try:
        rec = runner.run_pass(index)
    finally:
        end = time.time()
        runner.tracer = runner.py4j = None
        py4j.uninstall()
        tracer.uninstall()
    rec["trace"] = {
        "spans": [dataclasses.asdict(s) for s in tracer.spans],
        "jobs": [dataclasses.asdict(j) | {"rdd_ids": []}
                 for j in tracing.harvest_jobs(spark, start, end)],
        "gates": list(tracer.gates),
        "py4j_total": py4j.total,
        "py4j_by_layer": {str(k): v for k, v in py4j.by_layer.items()},
        "gc_ms": rec.pop("gc_ms"),
        "heap_peak_mb": heap_peak_mb(jvm),
    }
    return rec


def trace_setup(tracer) -> dict:
    """Walls of the set-up entry points, from their spans."""
    walls = {"build_spark_session": 0.0, "load_tpch_graph": 0.0}
    for s in tracer.spans:
        if s.name in walls:
            walls[s.name] += s.end - s.start
    return {"session.start_s": walls["build_spark_session"],
            "sources.load_s": walls["load_tpch_graph"]}


def cache_fill_s(jobs, rdd_ids) -> float:
    """Spark time of the first job to touch each graph cache."""
    fill = {}
    for j in sorted(jobs, key=lambda j: j.submit):
        for rid in rdd_ids:
            if rid in j.rdd_ids and rid not in fill:
                fill[rid] = (j.submit, j.complete)
    return core.union_length(fill.values())


def stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
