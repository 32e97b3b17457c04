"""Workloads, metrics and the layer map — the one definition that
``BENCHMARK.json`` is generated from (``python3 perfbench/metrics.py``
rewrites it; the benchmark's tests check the two agree).

Every end-to-end metric is measured on every workload, so each one has a
reading per workload. Apart from ``setup_s``, they are CPU time of the
whole process tree (Python driver, JVM, Python workers, psql children
and the PostgreSQL server): on a shared virtual host the wall time of
the same run varied up to 2x with the neighbours' load, CPU time by a
fraction of that. Wall times are printed beside them and kept in each
run's detail file.

==============  ==========================================  ===================================
metric          import_pg                                   query_sf0.01
==============  ==========================================  ===================================
setup_s         wall time from process start to the cold    wall time from process start to the
                import, less the benchmark's own input      first pass: Spark session, inputs
                generation: Spark session, PostgreSQL       located
                start, catalog seeded with 3 snapshots
cold_cpu_s      the first changed-feed ``run_import`` of    the first pass over the query set
                the process (one-shot CLI / cron tick)      (a one-shot query job)
warm_cpu_ms     one unchanged-feed ``run_import`` (the      one warm pass over the query set
                digest gate's skip; mean of at least 20)    (the first), less the JVM's JIT
                                                            compiler threads
==============  ==========================================  ===================================

``import_pg``'s re-checks and lookups run no Spark job, so their CPU
time leaves out the JVM and the PostgreSQL server's background
processes, which work on their own clock rather than per request.
"""

from __future__ import annotations

import json
import os

WORKLOADS = [
    ("import_pg",
     "one cold atomic import of a seeded dirty GTFS feed into live PostgreSQL,"
     " then digest-gated re-checks and psql lookups; all sources/cleaning/"
     "derivations/catalog/sinks, no queries"),
    ("query_sf0.01",
     "seeded pass order over one query per CORE_30 family (iterative, pairs,"
     " streaming, relational) on sf0.01: fixed-cost bound, no catalog or sinks;"
     " stands in for sf0.1, whose pass does not fit a run"),
]

#: (name, unit, better, bound). Each bound is the largest allowed, 0.25:
#: on a shared 4-core VM the quartile spread of ten runs of the CPU
#: metrics reached 0.14, and 0.25 while the host stole up to 16% of
#: the CPU time, so a tighter bound would flag the host, not the program. The consumer lookup (~2 ms) has no
#: end-to-end metric: its CPU per lookup spread 0.17-0.34 over ten runs
#: with the host's load, so it is reported per layer (``lookup.*``).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cold_cpu_s", "s", "lower", 0.25),
    ("warm_cpu_ms", "ms", "lower", 0.25),
]

#: CORE_30 (bench.py, frozen) split into four families
FAMILIES = {
    "iterative": ["sssp_trade", "pagerank_trade", "eigenvector_centrality",
                  "greedy_set_cover", "bpe_merges"],
    "pairs": ["prefix_filter_jaccard", "embedding_cosine_pairs",
              "item_similarity", "entity_resolution", "simhash_pairs",
              "minhash_lsh_pairs", "neardup_incremental",
              "ngram_jaccard_pairs", "ngram_jaccard_capped", "triangle_count",
              "association_rules"],
    "streaming": ["streaming_sessionize", "streaming_interval_join",
                  "streaming_interval_join_outer"],
    "relational": ["min_cost_supplier", "bulk_customers", "revenue_cube",
                   "market_share", "excess_shippers", "small_quantity_revenue",
                   "shipping_priority", "topk_parts_per_nation",
                   "split_leakage_audit", "bigram_lm_scores", "bm25_topk"],
}

#: the queries one pass runs, one per family and the cheapest that still
#: does the family's characteristic work: a whole CORE_30 pass takes
#: ~50 s at sf0.01 on 4 cores, more than a run may spend. The streaming
#: family's query is the registry's ``streaming_windowed_stats``, not a
#: CORE_30 one: it drains the events table through the same
#: ``streaming.events`` path (file-source readStream, watermark, state
#: store, ``run_to_memory``) in ~1.4 s warm, where the cheapest CORE_30
#: streaming query, ``streaming_interval_join_outer``, takes ~4 s, twice
#: in a run, which the time for all runs of the benchmark lacks.
QUERY_SET = {
    "iterative": ["greedy_set_cover"],
    "pairs": ["embedding_cosine_pairs"],
    "streaming": ["streaming_windowed_stats"],
    "relational": ["min_cost_supplier"],
}
#: registry queries outside CORE_30 that stand in for a family
STAND_INS = {"streaming": ["streaming_windowed_stats"]}

_IMP, _Q = "import_pg", "query_sf0.01"
_QUERY_COUNTERS = [
    ("wall_s", "s"), ("build_s", "s"), ("exec_s", "s"), ("plan_ms", "ms"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("jvm_gc_ms", "ms"),
    ("input_bytes", "B"), ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
]
_WRITE_COUNTERS = [
    ("s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("jvm_gc_ms", "ms"),
    ("input_bytes", "B"), ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"), ("rows", "count"),
]

#: (name, unit, [(metric it moves, workload), ...]): an end-to-end
#: metric, or ``lookup.cpu_ms`` for the consumer read path. Every
#: per-layer metric is "lower is better".
PER_LAYER = [
    ("session.get_spark.s", "s", [("setup_s", _IMP), ("setup_s", _Q)]),
    ("process.peak_rss_mb", "MB", [("cold_cpu_s", _IMP), ("cold_cpu_s", _Q)]),
    ("digests.composite_feed_digest.ms", "ms", [("warm_cpu_ms", _IMP)]),
    ("catalog.bookkeeping.ms", "ms", [("warm_cpu_ms", _IMP)]),
    ("catalog.bookkeeping.calls", "count", [("warm_cpu_ms", _IMP)]),
    ("catalog.drop_database.s", "s", [("cold_cpu_s", _IMP)]),
    ("catalog.create_database.s", "s", [("cold_cpu_s", _IMP)]),
    ("sources.extract_feed.s", "s", [("cold_cpu_s", _IMP)]),
    ("sources.extract_feed.bytes", "B", [("cold_cpu_s", _IMP)]),
    ("sources.read_feed.s", "s", [("cold_cpu_s", _IMP)]),
    ("cleaning.clean_feed.s", "s", [("cold_cpu_s", _IMP)]),
    ("cleaning.clean_feed.jobs", "count", [("cold_cpu_s", _IMP)]),
    ("cleaning.clean_feed.executor_run_ms", "ms", [("cold_cpu_s", _IMP)]),
    ("cleaning.clean_feed.rows_in", "count", [("cold_cpu_s", _IMP)]),
    ("cleaning.clean_feed.rows_out", "count", [("cold_cpu_s", _IMP)]),
    ("derivations.build.s", "s", [("cold_cpu_s", _IMP)]),
    *[(f"catalog.write_tables.{c}", u, [("cold_cpu_s", _IMP)]) for c, u in _WRITE_COUNTERS],
    ("publish.import_gtfs_atomically.self_s", "s", [("cold_cpu_s", _IMP)]),
    ("pipeline.run_import.self_s", "s", [("cold_cpu_s", _IMP)]),
    ("catalog.execute_sql.s", "s", [("cold_cpu_s", _IMP), ("lookup.cpu_ms", _IMP)]),
    ("catalog.execute_sql.calls", "count", [("cold_cpu_s", _IMP), ("lookup.cpu_ms", _IMP)]),
    ("catalog.snapshot.table_bytes", "B", [("lookup.cpu_ms", _IMP)]),
    ("catalog.snapshot.index_bytes", "B", [("lookup.cpu_ms", _IMP)]),
    ("lookup.blocks_per_lookup", "count", [("lookup.cpu_ms", _IMP)]),
    ("lookup.rows_examined_per_row", "count", [("lookup.cpu_ms", _IMP)]),
    ("lookup.cpu_ms", "ms", []),
    ("lookup.ms", "ms", [("lookup.cpu_ms", _IMP)]),
    ("lookup.p95_ms", "ms", [("lookup.cpu_ms", _IMP)]),
    *[
        (f"queries.{fam}.{c}", u,
         [("warm_cpu_ms", _Q), ("cold_cpu_s", _Q)])
        for fam in QUERY_SET for c, u in _QUERY_COUNTERS
    ],
    ("streaming.events.run_to_memory.s", "s", [("warm_cpu_ms", _Q), ("cold_cpu_s", _Q)]),
    ("streaming.events.state_rows", "count", [("warm_cpu_ms", _Q), ("cold_cpu_s", _Q)]),
    ("streaming.events.rows_dropped_by_watermark", "count",
     [("warm_cpu_ms", _Q), ("cold_cpu_s", _Q)]),
    ("sources.load_table.calls", "count", [("setup_s", _Q), ("warm_cpu_ms", _Q)]),
    ("sources.load_table.ms", "ms", [("setup_s", _Q), ("warm_cpu_ms", _Q)]),
    ("trace.overhead_ms", "ms", [("cold_cpu_s", _IMP), ("warm_cpu_ms", _Q)]),
]


#: The timed window after the cold import or cold pass. The cold part
#: already takes most of a run (on a 4-core VM an ``import_pg`` run took
#: 53-104 s, a ``query_sf0.01`` run 33-74 s), and all 48 runs must end
#: within 3420 s, so the window holds only the minimum each workload
#: needs: 20 re-checks and 400 lookups, or one warm pass.
RUN_SECONDS = 2


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "lower"} for n, u, _ in PER_LAYER
        ],
    }


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
