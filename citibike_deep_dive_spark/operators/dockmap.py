"""DockTable maintenance — the reference's hardest pipeline, fully native.

Reference pipeline (citibike_data_process/table_updating/update_dockmap.py):
- starts/ends per (station, year, month) with ANY_VALUE attrs (A3/A4, :54-81)
- FULL OUTER join + COALESCE station union (J1, :82-96)
- month → year rollup (A5, :110-129)
- json_group_object month map + json_group_array year collect (A6/A7,
  :119-126, :148-159)
- driver-side Python year-map merge + deep merge with the existing table
  (X1/X2, :146-196, :214-251) and correlated-subquery UPDATE (J6, :260-284)

Spark re-expression: station_data is a *native* column
``MapType(year -> struct(year_starts, year_ends, months: MapType(month ->
struct(month_total, month_starts, month_ends))))``. The reference's
fetchall → dict.update → executemany loops (X1/X2) become
``map_from_entries`` + ``map_zip_with`` — zero driver round-trips, zero
Python in the executor hot path. JSON text exists only at export
(``to_json``), matching SURVEY.md §1.2's guidance.

Determinism: ANY_VALUE becomes max() so DuckDB-oracle hashes are stable
(SURVEY.md §4).

The Column lists of the aggregate and merge do not depend on the
archive, so ``functools.cache`` builders make each once per process.

Scale notes: the aggregation is two shuffles — one hash aggregation to
(station, year, month) grain (map-side combined), one re-agg to station
grain. The deep merge is a full outer join on station_name, which Spark
plans as a sort-merge join: both sides shuffle on the key. Both hold one
row per station, a few thousand rows.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@functools.cache
def _monthly_exprs():
    """(sides select, filter, groupBy keys, aggregates, final select) of
    dock_monthly."""

    def _side(side: str, is_start: int):
        return F.struct(
            F.lit(is_start).alias("is_start"),
            F.col(f"{side}_station_name").alias("station_name"),
            F.col(f"{side}_station_id").alias("station_id"),
            F.col(f"{side}_station_latitude").alias("station_latitude"),
            F.col(f"{side}_station_longitude").alias("station_longitude"),
        )

    sides = (
        "year",
        "month",
        F.explode(F.array(_side("start", 1), _side("end", 0))).alias("s"),
    )
    start = F.col("s.is_start") == 1

    def _attr(name: str):
        return F.coalesce(
            F.max(F.when(start, F.col(f"s.{name}"))),
            F.max(F.when(~start, F.col(f"s.{name}"))),
        ).alias(name)

    keys = (F.col("s.station_name").alias("station_name"), "year", "month")
    aggs = (
        _attr("station_id"),
        _attr("station_latitude"),
        _attr("station_longitude"),
        F.sum("s.is_start").cast("long").alias("month_starts"),
        F.count("*").alias("month_total"),
    )
    out = (
        "station_name",
        "year",
        "month",
        "station_id",
        "station_latitude",
        "station_longitude",
        "month_starts",
        (F.col("month_total") - F.col("month_starts")).alias("month_ends"),
        "month_total",
    )
    return sides, F.col("s.station_name").isNotNull(), keys, aggs, out


def dock_monthly(trips: DataFrame) -> DataFrame:
    """A4 + J1: starts ⟗ ends per (station, year, month), attrs coalesced
    starts-first (update_dockmap.py:54-96).

    Fused single-scan form: instead of two side aggregations full-outer
    joined back together (two scans of the trips + a shuffle join), unpivot
    each trip into its start/end station rows and aggregate once. The
    conditional aggregates reproduce the join+coalesce semantics exactly —
    ``max(when(is_start...))`` is the starts-side attr (null when the
    station-month has no starts, falling through to the ends side, which
    is what COALESCE over the full-outer join did), and the side-filtered
    counts are 0-defaulted just like ``coalesce(month_starts, 0)``.
    Output is column- and type-identical to the joined form; year/month
    are non-null by construction upstream (derived from started_at after
    the P6 gate), which is the one case where groupBy (null-safe) and a
    USING join (null-dropping) would differ.

    Scale: one scan, one map-side-combined shuffle — at 100 TB this
    halves the input volume and removes the (station, year, month)
    shuffle join entirely.
    """
    sides, present, keys, aggs, out = _monthly_exprs()
    return (
        trips.select(*sides)
        .filter(present)
        .groupBy(*keys)
        .agg(*aggs)
        .select(*out)
    )


@functools.cache
def _yearly_aggs() -> tuple[Column, ...]:
    return (
        F.max("station_id").alias("station_id"),
        F.max("station_latitude").alias("station_latitude"),
        F.max("station_longitude").alias("station_longitude"),
        F.sum("month_starts").alias("year_starts"),
        F.sum("month_ends").alias("year_ends"),
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("month").alias("key"),
                        F.struct(
                            "month_total", "month_starts", "month_ends"
                        ).alias("value"),
                    )
                )
            )
        ).alias("months"),
    )


def dock_yearly(monthly: DataFrame) -> DataFrame:
    """A5 + A6: month → year rollup; the months map replaces DuckDB's
    json_group_object (update_dockmap.py:110-129)."""
    return monthly.groupBy("station_name", "year").agg(*_yearly_aggs())


@functools.cache
def _station_aggs() -> tuple[Column, ...]:
    # sort_array can't order structs containing maps (the months sub-map),
    # so sort with an explicit key comparator instead.
    entries = F.collect_list(
        F.struct(
            F.col("year").alias("key"),
            F.struct("year_starts", "year_ends", "months").alias("value"),
        )
    )
    return (
        F.max("station_id").alias("station_id"),
        F.max("station_latitude").alias("station_latitude"),
        F.max("station_longitude").alias("station_longitude"),
        F.map_from_entries(_sort_entries_by_key(entries)).alias("station_data"),
    )


def dock_station(yearly: DataFrame) -> DataFrame:
    """A7 + X1: collect each station's year-objects into one map — the
    reference's json_group_array + Python dict.update loop
    (update_dockmap.py:146-196), as map_from_entries over sorted entries."""
    return yearly.groupBy("station_name").agg(*_station_aggs())


def dock_aggregate(trips: DataFrame) -> DataFrame:
    """Full new-data pipeline: trips → per-station nested station_data."""
    return dock_station(dock_yearly(dock_monthly(trips)))


def _merged_station_data(e_data, d_data):
    """X2 deep-merge expression over two station_data maps: year attrs
    replace (new wins), months union with new-wins, one-sided stations
    pass through (update_dockmap.py:214-251)."""
    merged = F.map_zip_with(
        e_data,
        d_data,
        lambda _y, old, new: F.when(new.isNull(), old).otherwise(
            F.struct(
                new.year_starts.alias("year_starts"),
                new.year_ends.alias("year_ends"),
                F.when(old.isNull(), new.months)
                .otherwise(
                    F.map_zip_with(
                        old.months, new.months, lambda _m, mo, mn: F.coalesce(mn, mo)
                    )
                )
                .alias("months"),
            )
        ),
    )
    return (
        F.when(e_data.isNull(), d_data)
        .when(d_data.isNull(), e_data)
        .otherwise(merged)
    )


@functools.cache
def _merge_select() -> tuple[Column, ...]:
    return (
        F.col("station_name"),
        F.coalesce(F.col("d.station_id"), F.col("e.station_id")).alias("station_id"),
        F.coalesce(F.col("d.station_latitude"), F.col("e.station_latitude")).alias(
            "station_latitude"
        ),
        F.coalesce(F.col("d.station_longitude"), F.col("e.station_longitude")).alias(
            "station_longitude"
        ),
        _merged_station_data(
            F.col("e.station_data"), F.col("d.station_data")
        ).alias("station_data"),
    )


def dock_merge(existing: DataFrame | None, delta: DataFrame) -> DataFrame:
    """X2 deep merge (update_dockmap.py:214-251) + J3 anti-insert + J6
    update, as ONE full-outer join:

    - year level: new year's year_starts/year_ends *replace* existing,
    - month level: months union with new-wins (:229-234),
    - attrs: new wins when present,
    - stations only in one side pass through.
    """
    if existing is None:
        return delta
    joined = existing.alias("e").join(delta.alias("d"), "station_name", "full_outer")
    return joined.select(*_merge_select())


def _sort_entries_by_key(entries):
    """Sort array<struct<key,...>> by key only — structs holding maps are
    not orderable, so sort_array can't be used after a map_zip_with."""
    return F.array_sort(
        entries,
        lambda a, b: F.when(a.key < b.key, -1).when(a.key > b.key, 1).otherwise(0),
    )


def canonical_station_data(col):
    """Re-sort both map levels by key so ``to_json`` output is canonical.

    map_zip_with emits union keys in first-map-then-extras order, which is
    not sorted after a merge; the oracle hash check (and any downstream
    consumer diffing JSON text) needs deterministic key order.
    """
    entries = F.transform(
        F.map_entries(col),
        lambda kv: F.struct(
            kv.key.alias("key"),
            F.struct(
                kv.value.year_starts.alias("year_starts"),
                kv.value.year_ends.alias("year_ends"),
                F.map_from_entries(
                    _sort_entries_by_key(F.map_entries(kv.value.months))
                ).alias("months"),
            ).alias("value"),
        ),
    )
    return F.map_from_entries(_sort_entries_by_key(entries))
