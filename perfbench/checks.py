"""Warehouse output checks, run outside every timed region.

They read the DuckDB export and the Parquet tables with DuckDB. Catalog
queries are checked with the test suite's oracle harness
(``tests/oracle_harness.py``) instead.
"""

from __future__ import annotations

import os

import duckdb

TABLES = ("linegraph", "heatmap", "dock", "trips")

DOCK_STARTS_ENDS = """
    SELECT sum(m.value.month_starts), sum(m.value.month_ends)
    FROM (SELECT unnest(map_entries(station_data)) AS y FROM dock) AS years,
         LATERAL (SELECT unnest(map_entries(y.value.months)) AS m) AS months
"""

ROUTES_PER_YEAR = """
    SELECT CAST(year AS INT), count(DISTINCT (start_station_name,
           end_station_name, rideable_type))
    FROM trips GROUP BY 1
"""


def _parquet(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, table, "*.parquet")


def check_warehouse(
    warehouse: str,
    db_path: str,
    state_path: str,
    truth_valid: int,
    truth_subscribers: int,
    truth_customers: int,
    archives: int,
    archives_per_year: dict[int, int],
    top_k: int,
) -> list[str]:
    """Every cross-table invariant the pipeline must keep; returns the
    failures (empty when all hold)."""
    if not os.path.exists(db_path):
        return [f"no DuckDB export at {db_path}"]
    problems: list[str] = []
    con = duckdb.connect(db_path, read_only=True)
    try:
        heat = con.execute("SELECT sum(total_count) FROM heatmap").fetchone()[0]
        subs, custs = con.execute(
            "SELECT sum(subscriber_count), sum(customer_count) FROM linegraph"
        ).fetchone()
        starts, ends = con.execute(DOCK_STARTS_ENDS).fetchone()
        sums = {
            "heatmap.total_count": heat,
            "linegraph.subscriber+customer": (subs or 0) + (custs or 0),
            "dock.starts": starts,
            "dock.ends": ends,
        }
        for what, got in sums.items():
            if got != truth_valid:
                problems.append(f"{what} = {got}, want {truth_valid} valid trips")
        if (subs, custs) != (truth_subscribers, truth_customers):
            problems.append(
                f"linegraph subscriber/customer = {subs}/{custs}, "
                f"want {truth_subscribers}/{truth_customers}"
            )
        # top-k per archive: at most k routes per year per archive of that
        # year. Routes, not rows: merging two archives whose top-k both hold
        # one station pair under two rideable types repeats rows (see
        # trips_duplicate_rows), which this bound does not cover.
        for year, n in con.execute(ROUTES_PER_YEAR).fetchall():
            limit = top_k * archives_per_year.get(year, 0)
            if n > limit:
                problems.append(f"trips has {n} routes for {year}, limit {limit}")
        for t in TABLES:
            exported = con.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
            parquet = duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{_parquet(warehouse, t)}')"
            ).fetchone()[0]
            if exported != parquet:
                problems.append(f"export {t} has {exported} rows, parquet {parquet}")
    finally:
        con.close()
    state_rows = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{os.path.join(state_path, '*.parquet')}')"
    ).fetchone()[0]
    if state_rows != archives:
        problems.append(f"state has {state_rows} rows, {archives} archives ingested")
    return problems


def trips_duplicate_rows(db_path: str) -> int:
    """Trips rows beyond the first per (year, route, rideable type)."""
    con = duckdb.connect(db_path, read_only=True)
    try:
        return con.execute(
            "SELECT count(*) - count(DISTINCT (year, start_station_name, "
            "end_station_name, rideable_type)) FROM trips"
        ).fetchone()[0]
    finally:
        con.close()


def heatmap_total(warehouse: str) -> int:
    """Trips counted in the heatmap table (0 before the first ingest)."""
    if not os.path.isdir(os.path.join(warehouse, "heatmap")):
        return 0
    return int(
        duckdb.sql(
            f"SELECT coalesce(sum(total_count), 0) FROM "
            f"read_parquet('{_parquet(warehouse, 'heatmap')}')"
        ).fetchone()[0]
    )
