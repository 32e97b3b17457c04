"""The benchmark's own tests; they start no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import import_pg  # noqa: E402
import metrics  # noqa: E402
import query  # noqa: E402
from feed import Expect, make_feed, write_zip  # noqa: E402
from spans import Span, Tracer, covered  # noqa: E402


def test_families_partition_core_30():
    import bench

    members = [q for qs in metrics.FAMILIES.values() for q in qs]
    assert sorted(members) == sorted(bench.CORE_30)
    assert len(members) == len(set(members))


def test_query_set_samples_every_family_of_core_30():
    from postgis_gtfs_importer_spark.plans import queries as Q

    assert set(metrics.QUERY_SET) == set(metrics.FAMILIES)
    for fam, qs in metrics.QUERY_SET.items():
        assert qs and set(qs) <= set(metrics.FAMILIES[fam]) | set(metrics.STAND_INS.get(fam, []))
    assert {q for qs in metrics.STAND_INS.values() for q in qs} <= set(Q.queries())


def test_benchmark_json_is_generated_from_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()


def test_benchmark_json_within_format_limits():
    spec = metrics.benchmark_json()
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(len(n) <= 64 and n[0].isalnum() for n in names)
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    assert 2 <= len(spec["workloads"]) <= 8 and len(spec["per_layer"]) <= 128
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in spec["end_to_end"])} in spec["end_to_end"]
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def _fake_import_trace() -> Tracer:
    tr = Tracer("t")
    counters = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
         "jvm_gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"), 1)

    def add(name, start, end, parent=None, **attrs):
        tr.spans.append(Span(name, start, end, parent, "t", attrs))
        return len(tr.spans) - 1

    for kind, t0 in (("cold", 0.0), ("skip", 100.0), ("skip", 110.0)):
        top = add(f"pipeline.run_import.{kind}", t0, t0 + 9)
        run = add("pipeline.run_import", t0, t0 + 9, top)
        add("digests.composite_feed_digest", t0, t0 + 0.1, run)
        pub = add("publish.import_gtfs_atomically", t0 + 0.1, t0 + 9, run)
        for k, name in enumerate(import_pg.BOOKKEEPING):
            add(f"catalog.{name}", t0 + 0.2 + k * 0.01, t0 + 0.205 + k * 0.01, pub)
        if kind == "cold":
            add("catalog.drop_database", 0.3, 0.4, pub)
            add("catalog.create_database", 0.4, 0.5, pub)
            add("sources.extract_feed", 0.5, 0.6, pub)
            add("sources.read_feed", 0.6, 1.0, pub)
            add("cleaning.clean_feed", 1.0, 3.0, pub, **counters)
            d = add("derivations.arrivals_departures", 3.0, 3.5, pub)
            add("derivations.service_days", 3.1, 3.2, d)
            w = add("catalog.write_tables", 3.5, 8.0, pub, **counters)
            add("catalog.execute_sql", 7.5, 8.0, w)
    return tr


def _fake_query_trace() -> Tracer:
    tr = Tracer("t")
    for p in range(2):
        ps = len(tr.spans)
        tr.spans.append(Span("query.pass", p * 10, p * 10 + 9, None, "t"))
        for qs in metrics.QUERY_SET.values():
            for q in qs:
                qi = len(tr.spans)
                tr.spans.append(Span(f"query.{q}", p * 10, p * 10 + 1, ps, "t"))
                tr.spans.append(Span("query.build", p * 10, p * 10 + 0.5, qi, "t", {"jobs": 2}))
                if q.startswith("streaming_"):
                    tr.spans.append(Span("streaming.events.run_to_memory", p * 10,
                                         p * 10 + 0.25, qi + 1, "t",
                                         {"state_rows": 9, "rows_dropped_by_watermark": 1}))
                tr.spans.append(Span("query.exec", p * 10 + 0.5, p * 10 + 1, qi, "t",
                                     {"jobs": 1, "plan_ms": 4}))
        tr.spans.append(Span("sources.load_table", p * 10, p * 10 + 0.01, ps + 1, "t"))
    return tr


def test_layer_metrics_cover_exactly_the_per_layer_names():
    out = {"extract_bytes": 1, "rows_in": 2, "rows": {"stops": 3}, "table_bytes": 4,
           "index_bytes": 5, "blocks_per_lookup": 6, "rows_examined_per_row": 7,
           "lookup_cpu_ms": 9, "wall": {"read_ms": 1, "read_p95_ms": 8}}
    imp = import_pg.layer_metrics(_fake_import_trace(), out)
    qry = query.layer_metrics(_fake_query_trace(), {})
    names = {n for n, _, _ in metrics.PER_LAYER}
    assert not set(imp) & set(qry)
    assert set(imp) | set(qry) | {"session.get_spark.s", "process.peak_rss_mb",
                                  "trace.overhead_ms"} == names
    assert imp["catalog.bookkeeping.calls"] == len(import_pg.BOOKKEEPING)
    assert imp["derivations.build.s"] == pytest.approx(0.5)
    assert imp["pipeline.run_import.self_s"] == pytest.approx(0.0)
    assert qry["queries.iterative.jobs"] == 3 and qry["queries.pairs.plan_ms"] == 4
    assert qry["streaming.events.state_rows"] == 9
    assert qry["streaming.events.rows_dropped_by_watermark"] == 1
    assert qry["streaming.events.run_to_memory.s"] == pytest.approx(0.25)


def test_same_seed_same_digest_and_different_seeds_differ(tmp_path, monkeypatch):
    import time

    from postgis_gtfs_importer_spark.functions.digests import composite_feed_digest

    def digest(seed, name):
        path = str(tmp_path / name)
        write_zip(make_feed(seed), path)
        return composite_feed_digest(path, None)

    a = digest(7, "a.zip")
    monkeypatch.setattr(time, "time", lambda: 1e9)  # a later run, another day
    b, c = digest(7, "b.zip"), digest(8, "c.zip")
    assert a == b != c


def test_injected_rows_are_known_and_absent_from_expectations(tmp_path):
    feed = make_feed(5)
    assert all(feed.injected[k] for k in
               ("dup_stops", "dup_routes", "orphan_trips", "b3_trips", "zero_stops"))
    expect = Expect(feed, str(tmp_path / "csv"))
    live = expect.con.execute("SELECT DISTINCT trip_id, stop_id FROM live_st").fetchall()
    bad_trips = set(feed.injected["orphan_trips"] + feed.injected["b3_trips"])
    assert not {t for t, _ in live} & bad_trips
    assert not {s for _, s in live} & set(feed.injected["dup_stops"])
    # duplicates and dropped rows change no stop event of the clean feed
    assert expect.arrivals_count() == Expect(make_feed(6), str(tmp_path / "b")).arrivals_count()


def test_covered_is_the_length_of_the_union_inside_the_span():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (8, 12), (-5, -1)]) == pytest.approx(6)
    assert covered(0, 10, [(-1, 11)]) == pytest.approx(10)


def test_self_time_subtracts_only_the_covered_part_of_children():
    tr = Tracer("t")
    tr.spans = [
        Span("parent", 0.0, 10.0),
        Span("a", 1.0, 4.0, 0),
        Span("b", 3.0, 6.0, 0),   # overlaps a
        Span("c", 9.0, 12.0, 0),  # runs past the parent's end
        Span("grandchild", 1.0, 2.0, 1),
    ]
    assert tr.self_time(0) == pytest.approx(10 - 5 - 1)
    assert tr.self_time(1) == pytest.approx(3 - 1)
    assert {s.name for s in tr.descendants(0)} == {"a", "b", "c", "grandchild"}
