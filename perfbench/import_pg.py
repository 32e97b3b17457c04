"""Workload ``import_pg``: the reference's one job, end to end.

Set-up starts a scratch PostgreSQL and seeds the catalog with three
earlier snapshots through its public ``create_database``/
``record_import``, so the import runs retention GC the way a steady cron
tick does. Generating the feed and its expectations and creating the
server's data directory are the benchmark's own work, timed apart and
left out of ``setup_s``. The timed phase is one changed-feed
``run_import`` (what a one-shot CLI run pays), then, for ``--seconds``,
a closed loop of unchanged-feed ``run_import`` re-checks followed by one
of consumer lookups over one held psql connection against the snapshot
just published. Each is measured in CPU time of the process tree; wall times
are reported beside them.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import pg
from feed import Expect, make_feed, write_zip
from procs import children, tree_cpu_s
from spans import covered

from postgis_gtfs_importer_spark.catalog import ImportRecord, PsqlCatalog
from postgis_gtfs_importer_spark.functions.digests import digest_string
from postgis_gtfs_importer_spark.plans import pipeline
from postgis_gtfs_importer_spark.plans.publish import format_db_name
from postgis_gtfs_importer_spark.sinks.psql_exec import PsqlSession, psql_once

PREFIX = "perf_"
N_KEYS = 12
MIN_RECHECKS = 20
MIN_LOOKUPS = 400  # p95 needs ten samples beyond it

BOOKKEEPING = (
    "ensure_bookkeeping", "begin_exclusive", "list_recorded_imports",
    "list_databases", "record_import", "remove_import_record", "commit",
)
BASE_TABLES = (
    "agency", "routes", "stops", "trips", "stop_times", "calendar",
    "calendar_dates", "shapes", "frequencies", "feed_info",
)
DERIVATIONS = (
    "service_days", "arrivals_departures", "connections", "shapes_wkt",
    "frequencies_expanded",
)


def instrument(tracer):
    """Wrap the names ``plans.pipeline`` resolves at call time, and
    return (run_import, catalog class) with spans around each layer."""
    from postgis_gtfs_importer_spark.operators import derivations as DV

    for name, span in [
        ("extract_feed", "sources.extract_feed"),
        ("read_feed", "sources.read_feed"),
        ("composite_feed_digest", "digests.composite_feed_digest"),
        ("import_gtfs_atomically", "publish.import_gtfs_atomically"),
    ]:
        setattr(pipeline, name, tracer.wrap(getattr(pipeline, name), span))
    pipeline.clean_feed = tracer.wrap(
        pipeline.clean_feed, "cleaning.clean_feed", spark_counters=True
    )
    for name in DERIVATIONS:
        setattr(DV, name, tracer.wrap(getattr(DV, name), f"derivations.{name}"))

    class TracedPsqlCatalog(PsqlCatalog):
        pass

    for name in (*BOOKKEEPING, "rollback", "create_database",
                 "drop_database", "execute_sql"):
        setattr(TracedPsqlCatalog, name,
                tracer.wrap(getattr(PsqlCatalog, name), f"catalog.{name}"))
    TracedPsqlCatalog.write_tables = tracer.wrap(
        PsqlCatalog.write_tables, "catalog.write_tables", spark_counters=True
    )
    return tracer.wrap(pipeline.run_import, "pipeline.run_import"), TracedPsqlCatalog


def _seed_catalog(catalog, rng: random.Random) -> None:
    catalog.ensure_bookkeeping()
    now = int(time.time())
    for age_days in (3, 2, 1):
        digest = digest_string(f"earlier-{rng.random()}")
        at = now - age_days * 86400
        db = format_db_name(PREFIX, at, digest)
        catalog.create_database(db)
        catalog.record_import(ImportRecord(db, at, digest))


def _sql_list(ids) -> str:
    return ", ".join(f"'{i}'" for i in ids) or "''"


def _leftovers_sql(feed) -> str:
    """One row of counts that must all be 0 once cleaning has run."""
    inj = feed.injected
    dup_stops, dup_routes = inj["dup_stops"], inj["dup_routes"]
    bad_trips = inj["orphan_trips"] + inj["b3_trips"]
    return f"""SELECT
        (SELECT count(*) FROM stops WHERE stop_id IN ({_sql_list(dup_stops + inj['zero_stops'])})),
        (SELECT count(*) FROM routes WHERE route_id IN ({_sql_list(dup_routes)})),
        (SELECT count(*) FROM trips WHERE route_id IN ({_sql_list(dup_routes)})
            OR trip_id IN ({_sql_list(bad_trips)})),
        (SELECT count(*) FROM stop_times WHERE stop_id IN ({_sql_list(dup_stops)})
            OR trip_id IN ({_sql_list(bad_trips)}) OR stop_sequence >= 100
            OR stop_id IS NULL),
        (SELECT count(*) FROM arrivals_departures
            WHERE stop_id IN ({_sql_list(dup_stops)}) OR trip_id IN ({_sql_list(bad_trips)}))"""


def _row_counts(session: PsqlSession) -> dict[str, int]:
    tables = [r[0] for r in session.execute(
        "SELECT table_name FROM information_schema.tables"
        " WHERE table_schema = 'public' AND table_type = 'BASE TABLE'")]
    rows = session.execute(" UNION ALL ".join(
        f"SELECT '{t}', count(*) FROM public.\"{t}\"" for t in tables))
    return {t: int(n) for t, n in rows}


def _explain(session: PsqlSession, sql: str) -> tuple[int, int, int]:
    """(buffer blocks touched, rows examined, rows returned) of one
    ``EXPLAIN (ANALYZE, BUFFERS)`` run of ``sql``."""
    lines = session.execute(f"EXPLAIN (ANALYZE, BUFFERS, FORMAT JSON) {sql}")
    plan = json.loads("\n".join(r[0] for r in lines))[0]["Plan"]
    examined, todo = 0, [plan]
    while todo:
        node = todo.pop()
        todo.extend(node.get("Plans", []))
        if "Scan" in node["Node Type"]:
            examined += (node["Actual Rows"] + node.get("Rows Removed by Filter", 0)) \
                * node["Actual Loops"]
    blocks = plan["Shared Hit Blocks"] + plan["Shared Read Blocks"]
    return blocks, examined, plan["Actual Rows"]


def run(ctx) -> dict:
    rng = random.Random(ctx.seed)
    pg_dir = os.path.join(ctx.workdir, "pg")
    with ctx.harness():
        feed = make_feed(ctx.seed)
        zip_path = os.path.join(ctx.workdir, "feed.zip")
        write_zip(feed, zip_path)
        expect = Expect(feed, os.path.join(ctx.workdir, "expect"))
        keys = expect.stop_keys(rng, N_KEYS)
        trips = expect.trip_ids(rng, N_KEYS)
        lookups = [
            (f"SELECT trip_id, stop_sequence, departure_time FROM arrivals_departures"
             f" WHERE stop_id = '{s}' AND date = '{d}' ORDER BY departure_time, trip_id",
             expect.departures(s, d))
            for s, d in keys
        ] + [
            (f"SELECT stop_sequence, stop_id, arrival_time, departure_time FROM stop_times"
             f" WHERE trip_id = '{t}' ORDER BY stop_sequence",
             [(str(q), s) for q, s in expect.trip_stops(t)])
            for t in trips
        ]
        rng.shuffle(lookups)
        want_arrivals = expect.arrivals_count()
        expect.close()
        pg.init(pg_dir)

    if ctx.tracer is not None:
        run_import, catalog_class = instrument(ctx.tracer)
    else:
        run_import, catalog_class = pipeline.run_import, PsqlCatalog
    kwargs = dict(db_prefix=PREFIX, zip_path=zip_path,
                  extract_dir=os.path.join(ctx.workdir, "extract"))
    out: dict = {}
    with pg.server(pg_dir) as (conn, server_pid):
        # the server's own background processes (checkpointer, writers,
        # launchers) work on their own clock, not per request
        background = [p for p, cmd in children(server_pid).items() if "[local]" not in cmd]
        catalog = catalog_class(ctx.spark, **conn)
        session = None
        try:
            _seed_catalog(catalog, rng)
            ctx.env["backend"] = "psql"
            ctx.env["postgis"] = psql_once(
                conn["host"], conn["port"], conn["user"], "postgres",
                ["SELECT count(*) FROM pg_available_extensions WHERE name = 'postgis'"],
            )[0][0] != "0"

            ctx.begin_timed()
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            with ctx.span("pipeline.run_import.cold"):
                res = run_import(ctx.spark, catalog, **kwargs)
            out["cold_cpu_s"] = tree_cpu_s() - cpu0
            wall = {"cold_s": time.perf_counter() - t0}

            db = (res.new_import or {}).get("db_name")
            dbs = catalog.list_databases(PREFIX)
            session = PsqlSession(dbname=db or "postgres", **conn)
            counts = _row_counts(session) if db else {}
            leftovers = session.execute(_leftovers_sql(feed))[0] if db else ["?"]
            ctx.check(
                db is not None and db in dbs and len(dbs) <= 3
                and counts.get("arrivals_departures") == want_arrivals
                and set(leftovers) == {"0"},
                f"import: db={db} dbs={len(dbs)} arrivals="
                f"{counts.get('arrivals_departures')}/{want_arrivals}"
                f" leftovers={leftovers}",
            )

            # The first re-check after an import also drops the snapshot
            # that fell out of retention; settle that before timing.
            r = run_import(ctx.spark, catalog, **kwargs)
            ctx.check(r.import_skipped, f"settling re-check: skipped={r.import_skipped}")
            dbs = catalog.list_databases(PREFIX)

            # The window's two halves: re-checks, then lookups. Neither
            # runs a Spark job, so their CPU time is counted without the
            # JVM, whose background threads would only add noise.
            idle = (ctx.jvm_pid, *background)
            skips, results = [], []
            cpu0, deadline = tree_cpu_s(idle), time.perf_counter() + ctx.seconds / 2
            while time.perf_counter() < deadline or len(skips) < MIN_RECHECKS:
                t0 = time.perf_counter()
                with ctx.span("pipeline.run_import.skip"):
                    r = run_import(ctx.spark, catalog, **kwargs)
                skips.append(time.perf_counter() - t0)
                results.append(r)
            out["warm_cpu_ms"] = (tree_cpu_s(idle) - cpu0) * 1000 / len(skips)
            after = catalog.list_databases(PREFIX)
            for r in results:
                ctx.check(r.import_skipped and r.new_import is None
                          and set(after) <= set(dbs) and db in after,
                          f"re-check: skipped={r.import_skipped} dbs={len(after)}")

            reads, rows = [], []
            cpu0, deadline = tree_cpu_s(idle), time.perf_counter() + ctx.seconds / 2
            while time.perf_counter() < deadline or len(reads) < MIN_LOOKUPS:
                sql, _ = lookups[len(reads) % len(lookups)]
                t0 = time.perf_counter()
                rows.append(session.execute(sql))
                reads.append(time.perf_counter() - t0)
            out["lookup_cpu_ms"] = (tree_cpu_s(idle) - cpu0) * 1000 / len(reads)
            for i, got in enumerate(rows):
                sql, want = lookups[i % len(lookups)]
                got = sorted((r[0], int(r[1])) for r in got) \
                    if "arrivals_departures" in sql else [(r[0], r[1]) for r in got]
                ctx.check(got == want, f"lookup: {sql[-60:]} {len(got)}/{len(want)} rows")

            wall["warm_ms"] = statistics.median(skips) * 1000
            wall["read_ms"] = statistics.median(reads) * 1000
            wall["read_p95_ms"] = statistics.quantiles(reads, n=20)[-1] * 1000
            wall["n_rechecks"], wall["n_lookups"] = len(skips), len(reads)
            out["wall"] = wall
            size = session.execute(
                "SELECT pg_database_size(current_database()),"
                " sum(pg_table_size(c.oid)), sum(pg_indexes_size(c.oid))"
                " FROM pg_class c JOIN pg_namespace n ON n.oid = c.relnamespace"
                " WHERE n.nspname = 'public' AND c.relkind IN ('r', 'p')")[0]
            out["snapshot_mb"] = int(size[0]) / 2**20
            out["table_bytes"], out["index_bytes"] = int(size[1]), int(size[2])
            out["rows"] = counts
            out["rows_in"] = feed.rows
            out["extract_bytes"] = sum(
                e.stat().st_size for e in os.scandir(kwargs["extract_dir"]))
            if ctx.tracer is not None:
                plans = [_explain(session, sql) for sql, _ in lookups]
                out["blocks_per_lookup"] = sum(p[0] for p in plans) / len(plans)
                out["rows_examined_per_row"] = (
                    sum(p[1] for p in plans) / max(1, sum(p[2] for p in plans)))
        finally:
            if session is not None:
                session.close()
            catalog.close()
    return out


def layer_metrics(tracer, out: dict) -> dict:
    """Per-layer metrics of a traced ``import_pg`` run."""
    tree = tracer.tree()
    spans = tracer.spans
    tops = [i for i, s in enumerate(spans) if s.name.startswith("pipeline.run_import.")]
    cold = next(i for i in tops if spans[i].name.endswith(".cold"))
    rechecks = [i for i in tops if spans[i].name.endswith(".skip")]

    def under(i):
        return tracer.descendants(i, tree)

    def total(i, name):
        return sum(s.duration for s in under(i) if s.name == name)

    def one(i, name):
        return next(j for j in tree.get(i, []) if spans[j].name == name)

    imp = under(cold)
    run_idx = one(cold, "pipeline.run_import")
    pub_idx = one(run_idx, "publish.import_gtfs_atomically")
    write = next(s for s in imp if s.name == "catalog.write_tables")
    clean = next(s for s in imp if s.name == "cleaning.clean_feed")
    derive = [s for s in imp if s.name.startswith("derivations.")]
    d0 = min((s.start for s in derive), default=0.0)
    d1 = max((s.end for s in derive), default=0.0)

    def per_recheck(fn):
        return statistics.median([fn(i) for i in rechecks])

    book = [f"catalog.{n}" for n in BOOKKEEPING]
    m = {
        "digests.composite_feed_digest.ms":
            per_recheck(lambda i: total(i, "digests.composite_feed_digest")) * 1000,
        "catalog.bookkeeping.ms":
            per_recheck(lambda i: sum(s.duration for s in under(i) if s.name in book)) * 1000,
        "catalog.bookkeeping.calls":
            per_recheck(lambda i: sum(1 for s in under(i) if s.name in book)),
        "catalog.drop_database.s": total(cold, "catalog.drop_database"),
        "catalog.create_database.s": total(cold, "catalog.create_database"),
        "sources.extract_feed.s": total(cold, "sources.extract_feed"),
        "sources.extract_feed.bytes": out["extract_bytes"],
        "sources.read_feed.s": total(cold, "sources.read_feed"),
        "cleaning.clean_feed.s": clean.duration,
        "cleaning.clean_feed.jobs": clean.attrs["jobs"],
        "cleaning.clean_feed.executor_run_ms": clean.attrs["executor_run_ms"],
        "cleaning.clean_feed.rows_in": out["rows_in"],
        "cleaning.clean_feed.rows_out": sum(out["rows"].get(t, 0) for t in BASE_TABLES),
        "derivations.build.s": covered(d0, d1, [(s.start, s.end) for s in derive]),
        "catalog.write_tables.s": write.duration,
        "catalog.write_tables.rows": sum(out["rows"].values()),
        "publish.import_gtfs_atomically.self_s": tracer.self_time(pub_idx, tree),
        "pipeline.run_import.self_s": tracer.self_time(run_idx, tree),
        "catalog.execute_sql.s": total(cold, "catalog.execute_sql"),
        "catalog.execute_sql.calls": sum(1 for s in imp if s.name == "catalog.execute_sql"),
        "catalog.snapshot.table_bytes": out["table_bytes"],
        "catalog.snapshot.index_bytes": out["index_bytes"],
        "lookup.blocks_per_lookup": out["blocks_per_lookup"],
        "lookup.rows_examined_per_row": out["rows_examined_per_row"],
        "lookup.cpu_ms": out["lookup_cpu_ms"],
        "lookup.ms": out["wall"]["read_ms"],
        "lookup.p95_ms": out["wall"]["read_p95_ms"],
    }
    for c in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "jvm_gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"catalog.write_tables.{c}"] = write.attrs[c]
    return m

