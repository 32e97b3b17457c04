"""Seeded GTFS feed for the import workload, and what the importer must
make of it.

The feed starts from the program's own synthetic feed
(``sources.synth_feed.synth_feed_files``) and adds a seed-chosen, known
number of rows the cleaning stage must remove or rewrite:

* stops that duplicate another stop's content (B15), referenced by some
  stop_times, which must be remapped to the surviving stop
* routes that duplicate another route's content (B12), referenced by
  some trips, which must be remapped to the surviving route
* trips whose route does not exist, with their stop_times (B10 orphans)
* trips missing their required service_id, with their stop_times, and
  stop_times missing their required stop_id (B3)
* stops at (0, 0) (B4)

Duplicates get ids that sort after the originals, because cleaning keeps
the smallest id of a duplicate group. Expectations (row counts and
lookup answers) are computed with DuckDB over the generated CSV text,
independently of the program.
"""

from __future__ import annotations

import csv
import io
import os
import random
import zipfile
from dataclasses import dataclass, field

import duckdb

from postgis_gtfs_importer_spark.sources.synth_feed import synth_feed_files

#: A twentieth of the synthetic feed's full size (scale 1.0, ~1.15M
#: ``arrivals_departures`` rows): ~57k rows. Measured on a 4-core VM,
#: seed 1, the whole ``import_pg`` run took 115 s at scale 1.0 (cold
#: import 75 s, lookups 83 ms each, since ``stop_times`` has no index on
#: ``trip_id``) and 80 s at this scale (cold import 63 s, lookups 2.4 ms).
#: At scale 1.0 the benchmark's 22 runs of this workload alone would
#: take ~2500 s of the ~3400 s that all of its runs may take.
SCALE = 0.05


@dataclass
class Feed:
    files: dict[str, str]
    injected: dict[str, list[str]] = field(default_factory=dict)
    #: duplicate id -> id of the row it duplicates
    canonical: dict[str, str] = field(default_factory=dict)

    @property
    def rows(self) -> int:
        """Data rows over all files (what read_feed hands to cleaning)."""
        return sum(text.count("\n") - 1 for text in self.files.values())


def _rows(text: str) -> tuple[list[str], list[list[str]]]:
    rows = list(csv.reader(io.StringIO(text)))
    return rows[0], rows[1:]


def _text(header: list[str], rows: list[list[str]]) -> str:
    return "\n".join(",".join(r) for r in [header, *rows]) + "\n"


def make_feed(seed: int, scale: float = SCALE) -> Feed:
    rng = random.Random(seed)
    files = synth_feed_files(scale)
    tables = {name[:-4]: _rows(text) for name, text in files.items()}
    inj: dict[str, list[str]] = {}
    canonical: dict[str, str] = {}

    _, stops = tables["stops"]
    _, routes = tables["routes"]
    th, trips = tables["trips"]
    sth, stop_times = tables["stop_times"]
    i_stop, i_route = sth.index("stop_id"), th.index("route_id")
    services = sorted({t[th.index("service_id")] for t in trips})

    # B15: duplicate stops; a third of each original's stop_times move over
    for k, orig in enumerate(rng.sample(stops, rng.randint(3, 8))):
        dup = f"Sz{k}"
        stops.append([dup, *orig[1:]])
        canonical[dup] = orig[0]
        for st in stop_times:
            if st[i_stop] == orig[0] and rng.random() < 0.34:
                st[i_stop] = dup
        inj.setdefault("dup_stops", []).append(dup)

    # B12: duplicate routes; half of each original's trips move over
    for k, orig in enumerate(rng.sample(routes, rng.randint(2, 4))):
        dup = f"Rz{k}"
        routes.append([dup, *orig[1:]])
        canonical[dup] = orig[0]
        for t in trips:
            if t[i_route] == orig[0] and rng.random() < 0.5:
                t[i_route] = dup
        inj.setdefault("dup_routes", []).append(dup)

    # B10 orphans (missing route) and B3 trips (missing service_id)
    def add_trip(trip_id: str, route: str, service: str) -> None:
        trips.append([route, service, trip_id, "Injected", "0", "", "", "1", "1"])
        start = 6 * 3600 + rng.randrange(0, 12 * 3600, 60)
        for i in range(rng.randint(5, 25)):
            arr = start + 120 * i
            hms = f"{arr // 3600:02d}:{arr % 3600 // 60:02d}:{arr % 60:02d}"
            stop = rng.choice(stops[: len(stops) // 2])[0]
            stop_times.append([trip_id, hms, hms, stop, str(i + 1), "", "0", "0", "", "1"])

    for k in range(rng.randint(3, 8)):
        add_trip(f"TO{k}", f"RX{k}", rng.choice(services))
        inj.setdefault("orphan_trips", []).append(f"TO{k}")
    for k in range(rng.randint(2, 5)):
        add_trip(f"TB{k}", rng.choice(routes)[0], "")
        inj.setdefault("b3_trips", []).append(f"TB{k}")

    # B3: stop_times of live trips with no stop_id, past the trip's end
    for k, t in enumerate(rng.sample(trips[:-20], rng.randint(3, 8))):
        stop_times.append([t[2], "23:00:00", "23:00:00", "", str(100 + k), "", "0", "0", "", "1"])
        inj.setdefault("b3_stop_times", []).append(f"{t[2]}#{100 + k}")

    # B4: stops at (0, 0)
    for k in range(rng.randint(2, 5)):
        stops.append([f"Sy{k}", f"CY{k}", f"Null Island {k}", "0.000000", "0.000000", "0", "", "0", ""])
        inj.setdefault("zero_stops", []).append(f"Sy{k}")

    fh, info = tables["feed_info"]
    info[0][fh.index("feed_version")] = f"seed-{seed}"
    out = {f"{name}.txt": _text(*tables[name]) for name in tables}
    return Feed(out, inj, canonical)


def write_zip(feed: Feed, zip_path: str) -> None:
    """Byte-identical for equal feeds: members carry a fixed timestamp."""
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in sorted(feed.files.items()):
            member = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            member.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(member, text)


def write_csvs(feed: Feed, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, text in feed.files.items():
        with open(os.path.join(directory, name), "w") as f:
            f.write(text)


_DOW = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]


class Expect:
    """The published snapshot as the feed implies it, from DuckDB."""

    def __init__(self, feed: Feed, csv_dir: str):
        write_csvs(feed, csv_dir)
        self.con = con = duckdb.connect()
        for name in feed.files:
            con.execute(
                f"CREATE VIEW {name[:-4]} AS SELECT * FROM read_csv("
                f"'{os.path.join(csv_dir, name)}', header=true, all_varchar=true)"
            )
        pairs = list(feed.canonical.items()) or [("", "")]
        con.execute(
            "CREATE TABLE canon AS SELECT * FROM (VALUES "
            + ", ".join(f"('{a}', '{b}')" for a, b in pairs)
            + ") t(id, canonical_id)"
        )
        dow = " ".join(f"WHEN {i + 1} THEN {c}" for i, c in enumerate(_DOW))
        con.execute(f"""
            CREATE TABLE svc AS
            WITH days AS (
                SELECT *, unnest(generate_series(
                    strptime(start_date, '%Y%m%d'), strptime(end_date, '%Y%m%d'),
                    INTERVAL 1 DAY))::DATE AS date
                FROM calendar
            ), weekly AS (
                SELECT service_id, date FROM days
                WHERE (CASE isodow(date) {dow} END) = '1'
            ), ex AS (
                SELECT service_id, strptime(date, '%Y%m%d')::DATE AS date,
                       exception_type FROM calendar_dates
            )
            SELECT service_id, date FROM weekly
            EXCEPT SELECT service_id, date FROM ex WHERE exception_type = '2'
            UNION SELECT service_id, date FROM ex WHERE exception_type = '1'
        """)
        con.execute("""
            CREATE TABLE live_st AS
            SELECT st.trip_id, CAST(st.stop_sequence AS INTEGER) AS stop_sequence,
                   coalesce(c.canonical_id, st.stop_id) AS stop_id, t.service_id
            FROM stop_times st
            JOIN trips t USING (trip_id)
            JOIN routes r ON r.route_id = t.route_id
            LEFT JOIN canon c ON c.id = st.stop_id
            WHERE st.stop_id IS NOT NULL AND t.service_id IS NOT NULL
        """)

    def arrivals_count(self) -> int:
        return self.con.execute(
            "SELECT count(*) FROM live_st JOIN svc USING (service_id)"
        ).fetchone()[0]

    def stop_keys(self, rng: random.Random, n: int) -> list[tuple[str, str]]:
        keys = self.con.execute(
            "SELECT DISTINCT stop_id, CAST(date AS VARCHAR) FROM live_st"
            " JOIN svc USING (service_id) ORDER BY 1, 2"
        ).fetchall()
        return rng.sample(keys, n)

    def departures(self, stop_id: str, date: str) -> list[tuple[str, int]]:
        return sorted(self.con.execute(
            "SELECT trip_id, stop_sequence FROM live_st JOIN svc USING (service_id)"
            " WHERE stop_id = ? AND date = CAST(? AS DATE)", [stop_id, date]
        ).fetchall())

    def trip_ids(self, rng: random.Random, n: int) -> list[str]:
        ids = [r[0] for r in self.con.execute(
            "SELECT DISTINCT trip_id FROM live_st ORDER BY 1").fetchall()]
        return rng.sample(ids, n)

    def trip_stops(self, trip_id: str) -> list[tuple[int, str]]:
        return self.con.execute(
            "SELECT stop_sequence, stop_id FROM live_st WHERE trip_id = ?"
            " ORDER BY stop_sequence", [trip_id]
        ).fetchall()

    def close(self) -> None:
        self.con.close()
