"""Workload ``query_sf0.01``: the registry's CORE_30 suite, sampled.

Each pass runs every query of ``metrics.QUERY_SET`` once, in an order
the seed shuffles (the first pass keeps the fixed order ``COLD_ORDER``),
measuring the process tree's CPU time and the wall time of
``fn(spark, sf).toPandas()``: the query is
built and its whole result collected. (``bench.py`` times ``count()``;
collecting instead lets every timed result be checked without running
the query again.) The first pass is what a fresh process pays; later
passes run until ``--seconds`` have elapsed, at least one of them;
``warm_cpu_ms`` reads the first.
After the timed passes, every collected result is compared value by
value with the query's DuckDB oracle twin, canonicalized the way the
repository's oracle tests do it.

Traced, the executed plan of the result's own QueryExecution is forced
first, so Catalyst's analysis/optimization/planning time can be read
from the execution's tracker before the same execution is collected;
and each drain of a streaming query through
``streaming.events.run_to_memory`` gets a span carrying the drain's
state-store rows and the rows its watermark dropped.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

from metrics import QUERY_SET
from procs import jit_cpu_s, tree_cpu_s

from postgis_gtfs_importer_spark.plans import queries as Q
from postgis_gtfs_importer_spark.streaming import events as E

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
FAMILY = {q: fam for fam, qs in QUERY_SET.items() for q in qs}
#: The cold pass's order. Whichever query runs first pays the JVM's and
#: the Python workers' warm-up; put there, the relational query's few
#: jobs absorb it, where the iterative query's many rounds would each
#: pay part of it: on a 4-core VM the cold pass took ~22 s in this order,
#: ~27 s with the iterative query first.
COLD_ORDER = ["min_cost_supplier", "embedding_cosine_pairs",
              "streaming_windowed_stats", "greedy_set_cover"]
assert sorted(COLD_ORDER) == sorted(FAMILY)


def _collect(ctx, name: str, fn):
    if ctx.tracer is None:
        return fn(ctx.spark, SF_DIR).toPandas()
    tr = ctx.tracer
    with tr.span(f"query.{name}"):
        with tr.span("query.build", spark_counters=True):
            df = fn(ctx.spark, SF_DIR)
        with tr.span("query.exec", spark_counters=True) as ex:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            it = qe.tracker().phases().values().iterator()
            plan_ms = 0
            while it.hasNext():
                plan_ms += it.next().durationMs()
            result = df.toPandas()
        ex.attrs["plan_ms"] = plan_ms
    return result


def _traced_drain(tracer, run_to_memory):
    """``run_to_memory`` inside a ``streaming.events.run_to_memory`` span
    that records the drain's progress metrics. The queries import it
    from the module when they are called, so patching the module
    attribute reaches them."""

    def traced(*args, **kwargs):
        with tracer.span("streaming.events.run_to_memory") as sp:
            q = run_to_memory(*args, **kwargs)
        sp.attrs["state_rows"] = E.LAST_RUN_METRICS["stateRows"]
        sp.attrs["rows_dropped_by_watermark"] = E.LAST_RUN_METRICS["numRowsDroppedByWatermark"]
        return q

    return traced


class _Collected:
    """A collected result, in the shape ``oracle_utils.compare`` reads."""

    def __init__(self, frame):
        self.frame = frame

    def toPandas(self):
        return self.frame


def run(ctx) -> dict:
    with ctx.harness():
        sys.path.insert(0, os.path.join(ctx.root, "tests"))
        from oracle_utils import compare, duckdb_conn

    reg = Q.queries()
    names = list(COLD_ORDER)
    rng = random.Random(ctx.seed)
    if ctx.tracer is not None:
        import postgis_gtfs_importer_spark.sources.tables as T

        Q.load_table = ctx.tracer.wrap(T.load_table, "sources.load_table")
        E.run_to_memory = _traced_drain(ctx.tracer, E.run_to_memory)

    # query -> (wall s, CPU s, CPU s of the JVM's JIT compiler threads)
    passes: list[dict[str, tuple[float, float, float]]] = []
    results: list[tuple[str, object]] = []
    ctx.begin_timed()
    deadline = None  # set after the cold pass, so one warm pass always runs
    while deadline is None or time.perf_counter() < deadline:
        # the cold pass keeps one order, so the process's one-off JVM
        # warm-up always lands on the same query
        order = list(names)
        if passes:
            rng.shuffle(order)
        times = {}
        with ctx.span("query.pass"):
            for name in order:
                jit0, cpu0, t0 = jit_cpu_s(ctx.jvm_pid), tree_cpu_s(), time.perf_counter()
                results.append((name, _collect(ctx, name, reg[name])))
                times[name] = (time.perf_counter() - t0, tree_cpu_s() - cpu0,
                               jit_cpu_s(ctx.jvm_pid) - jit0)
        passes.append(times)
        if deadline is None:  # the window opens after the cold pass
            deadline = time.perf_counter() + ctx.seconds

    duck = duckdb_conn(SF_DIR)
    oracle = {q: duck.execute(Q.oracle_sql()[q]).df() for q in names}
    duck.close()
    for q, frame in results:
        problems = compare(_Collected(frame), oracle[q])
        ctx.check(not problems, f"{q}: {problems[:2]}")

    def total(p, k):
        return sum(v[k] for v in p.values())

    # The first warm pass's CPU, less the JIT compiler threads: after one
    # pass the JVM still compiles hot code in the background, 1-2 s of
    # CPU a query, and how much of it lands in the pass varies from run
    # to run. Spark's own code generation runs on the query's threads and
    # stays counted. Later passes, if the window holds any, only add
    # results to check and wall times.
    warm = passes[1:]
    return {
        "cold_cpu_s": total(passes[0], 1),
        "warm_cpu_ms": sum(cpu - jit for _, cpu, jit in warm[0].values()) * 1000,
        "wall": {
            "cold_s": total(passes[0], 0),
            "warm_ms": statistics.median(total(p, 0) for p in warm) * 1000,
            "read_ms": statistics.median(v[0] for p in warm for v in p.values()) * 1000,
            "families_s": {
                fam: statistics.median(sum(p[q][0] for q in qs) for p in warm)
                for fam, qs in QUERY_SET.items()
            },
        },
        "passes": passes,
    }


def layer_metrics(tracer, out: dict) -> dict:
    """Per-layer metrics of a traced ``query_sf0.01`` run: per family, the
    median over warm passes of the family's summed per-query figures."""
    tree = tracer.tree()
    spans = tracer.spans
    pass_idx = [i for i, s in enumerate(spans) if s.name == "query.pass"][1:]
    per_pass: list[dict[str, dict[str, float]]] = []
    for p in pass_idx:
        fams: dict[str, dict[str, float]] = {
            f: dict.fromkeys(("wall_s", "build_s", "exec_s"), 0.0) for f in QUERY_SET
        }
        for qi in tree.get(p, []):
            q = spans[qi]
            if not q.name.startswith("query.") or q.name[6:] not in FAMILY:
                continue
            acc = fams[FAMILY[q.name[6:]]]
            acc["wall_s"] += q.duration
            for ci in tree.get(qi, []):
                c = spans[ci]
                if c.name in ("query.build", "query.exec"):
                    acc[c.name[6:] + "_s"] += c.duration
                    for k, v in c.attrs.items():
                        acc[k] = acc.get(k, 0) + v
        per_pass.append(fams)
    loads = [[s for s in tracer.descendants(p, tree) if s.name == "sources.load_table"]
             for p in pass_idx]
    drains = [[s for s in tracer.descendants(p, tree)
               if s.name == "streaming.events.run_to_memory"] for p in pass_idx]

    def med(values):
        return statistics.median(values) if values else 0.0

    m = {}
    for fam in QUERY_SET:
        for k in ("wall_s", "build_s", "exec_s", "plan_ms", "jobs", "stages", "tasks",
                  "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms", "input_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"queries.{fam}.{k}"] = med([p[fam].get(k, 0) for p in per_pass])
    m["streaming.events.run_to_memory.s"] = med([sum(s.duration for s in x) for x in drains])
    for k in ("state_rows", "rows_dropped_by_watermark"):
        m[f"streaming.events.{k}"] = med([sum(s.attrs[k] for s in x) for x in drains])
    m["sources.load_table.calls"] = med([len(x) for x in loads])
    m["sources.load_table.ms"] = med([sum(s.duration for s in x) * 1000 for x in loads])
    return m
