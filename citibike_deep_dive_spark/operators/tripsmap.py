"""TripTable maintenance (A8 + W1 + X3 route enrichment + I3 merge).

Reference (citibike_data_process/table_updating/update_tripsmap.py):
- self-loop filter (P7, :74-75)
- group by (year, start/end station name+lat+lon, rideable_type) →
  COUNT(*) trip_count, MIN(start_time) trip_time (A8, :60-85)
- ROW_NUMBER top-30 per year (W1, :86-95)
- per-trip Mapbox Directions enrichment → waypoints JSON (X3, :100-221)
- UPDATE-add + anti-join INSERT into TripTable (J2/J4, :37-55)

The table holds one row per route identity ``TRIP_KEYS`` = (year, start
name, end name, rideable_type), so the merge is 1:1. The top-k
delta is grouped at a finer grain (the coordinates too), so
``reduce_to_identity`` folds it to that identity before the merge:
trip counts add, the earliest trip_time and the best rank win, and the
coordinates are those of the best-ranked variant: the most trips, ties
going to the smallest (start lat, start lon, end lat, end lon). The reference
keeps whichever coordinates its ``GROUP BY`` row arrives with first,
which is not deterministic.

X3 is native column math over the top-k rows: the reference's offline
fallback (straight-line geometry between the endpoints, densified by the
same rule: haversine distance 0.2–0.37 km → 2 points, >0.37 km → 4;
coordinates rounded to 5 dp; synthetic timestamps start + i hours as
seconds-of-day — :158-221), made deterministic. The reference's Mapbox
Directions call (:100-155) is not reproduced, so no run needs the
network. ``densify``, ``attach_timestamps`` and ``straight_line_geometry``
are the Python port of ``extend_shape`` that the tests compare the native
column against.

The self-loop filter, aggregates, top-k ranking and native waypoints
column do not depend on the archive, so each is built once per process
(``functools.cache``).

Scale: enrichment runs strictly AFTER the top-30-per-year gate (cost
gating preserved, :94), so it only ever sees ~30×years rows.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .topk import top_k_by_rank
from .upsert import additive_upsert

GROUP_COLS = [
    "year",
    "start_station_name",
    "start_station_latitude",
    "start_station_longitude",
    "end_station_name",
    "end_station_latitude",
    "end_station_longitude",
    "rideable_type",
]

COORD_COLS = [
    "start_station_latitude",
    "start_station_longitude",
    "end_station_latitude",
    "end_station_longitude",
]

TRIP_KEYS = ["year", "start_station_name", "end_station_name", "rideable_type"]

WAYPOINTS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("timestamp", T.DoubleType()),
            T.StructField("coordinates", T.ArrayType(T.DoubleType())),
        ]
    )
)


@functools.cache
def _aggregate_exprs() -> tuple[Column, tuple[Column, ...]]:
    return (
        F.col("start_station_name") != F.col("end_station_name"),
        (F.count("*").alias("trip_count"), F.min("start_time").alias("trip_time")),
    )


def trip_aggregate(trips: DataFrame) -> DataFrame:
    """P7 + A8: non-self-loop trips grouped to route grain."""
    not_loop, aggs = _aggregate_exprs()
    return trips.filter(not_loop).groupBy(*GROUP_COLS).agg(*aggs)


@functools.cache
def _top_trips_rank() -> Column:
    return F.row_number().over(
        Window.partitionBy("year").orderBy(
            F.col("trip_count").desc(),
            F.col("start_station_name"),
            F.col("end_station_name"),
            F.col("rideable_type"),
            *COORD_COLS,
        )
    )


def top_trips(aggregated: DataFrame, k: int = 30) -> DataFrame:
    """W1: top-k routes per year by trip_count, with deterministic
    tiebreaks (the reference has none — SURVEY.md §4): start, end and
    rideable_type, then the coordinates, so the rank is total."""
    return top_k_by_rank(aggregated, _top_trips_rank(), k)


@functools.cache
def _identity_aggs() -> tuple[Column, ...]:
    # the best-ranked variant has the most trips, then the smallest
    # coordinates (``_top_trips_rank``'s last tiebreaks)
    return (
        F.sum("trip_count").alias("trip_count"),
        F.min("trip_time").alias("trip_time"),
        F.min("rn").alias("rn"),
        *(F.min_by(c, "rn").alias(c) for c in COORD_COLS),
    )


def reduce_to_identity(top: DataFrame) -> DataFrame:
    """``top_trips``' rows folded to one per ``TRIP_KEYS`` identity, in
    the same column order: summed trip_count, earliest trip_time, best
    rank, and the coordinates of the best-ranked variant, the one with
    the most trips (ties: smallest start lat, start lon, end lat, end
    lon)."""
    return (
        top.groupBy(*TRIP_KEYS)
        .agg(*_identity_aggs())
        .select(*GROUP_COLS, "trip_count", "trip_time", "rn")
    )


def haversine_km(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Great-circle distance (km) — stand-in for the reference's geopy
    geodesic call (update_tripsmap.py:158-163)."""
    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    dlat = rlat2 - rlat1
    dlon = math.radians(lon2 - lon1)
    a = math.sin(dlat / 2) ** 2 + math.cos(rlat1) * math.cos(rlat2) * math.sin(dlon / 2) ** 2
    return 2 * 6371.0088 * math.asin(math.sqrt(a))


def straight_line_geometry(
    lat1: float, lon1: float, lat2: float, lon2: float
) -> list[list[float]]:
    """Deterministic offline geometry: the endpoint pair as [lon, lat]
    coordinates (the shape Mapbox Directions returns)."""
    return [[lon1, lat1], [lon2, lat2]]


def _divide_points(
    lat1: float, lon1: float, lat2: float, lon2: float, num_sections: int
) -> list[list[float]]:
    """np.linspace(0, 1, n) interpolation INCLUDING both endpoints
    (update_tripsmap.py:166-173): n=2 yields exactly the two endpoints,
    n=4 yields endpoints + two interior thirds. 5-dp rounding."""
    out = []
    for i in range(num_sections):
        f = i / (num_sections - 1)
        out.append([round(lon1 + (lon2 - lon1) * f, 5), round(lat1 + (lat2 - lat1) * f, 5)])
    return out


def densify(coords: list[list[float]]) -> list[list[float]]:
    """Exact replica of the reference's ``extend_shape``
    (update_tripsmap.py:176-203), quirks preserved deliberately:

    - the distance call transposes lat/lon (``get_distance(lon1, lat1, …)``
      feeds [lon, lat] pairs into a (lat, lon) API — :183, a reference bug
      we reproduce for output parity),
    - STRICT bounds ``0.2 < d < 0.37`` → linspace(0,1,2) = the two
      endpoints (no interior points!); ``d > 0.37`` → linspace(0,1,4) =
      endpoints + 2 interior; else only the segment start is kept,
    - the final ``append([lon2, lat2])`` after the loop DUPLICATES the last
      point whenever the last segment was densified (:194),
    - 5-dp rounding on every emitted pair.
    """
    out: list[list[float]] = []
    lon2 = lat2 = None
    for (lon1, lat1), (lon2, lat2) in zip(coords, coords[1:]):
        # reference bug kept: lon/lat swapped into the distance function
        dist = haversine_km(lon1, lat1, lon2, lat2)
        if 0.2 < dist < 0.37:
            out.extend(_divide_points(lat1, lon1, lat2, lon2, 2))
        elif dist > 0.37:
            out.extend(_divide_points(lat1, lon1, lat2, lon2, 4))
        else:
            out.append([round(lon1, 5), round(lat1, 5)])
    if lon2 is None:  # single-point shape: reference would crash; keep point
        return [[round(coords[0][0], 5), round(coords[0][1], 5)]]
    out.append([round(lon2, 5), round(lat2, 5)])
    return [[round(x, 5) for x in p] for p in out]


def attach_timestamps(
    coords: list[list[float]], start_seconds_of_day: float
) -> list[dict]:
    """Synthetic waypoint times: start + i hours, wrapped as seconds-of-day
    (update_tripsmap.py:205-221; the reference's get_time_of_day_seconds
    keeps fractional microseconds, which survive the wrap unchanged)."""
    return [
        {
            "timestamp": float((start_seconds_of_day + i * 3600) % 86400),
            "coordinates": c,
        }
        for i, c in enumerate(coords)
    ]


def enrich_routes(top: DataFrame) -> DataFrame:
    """X3: adds a ``waypoints`` ArrayType(Struct) column, the offline
    straight-line geometry in native column expressions.

    The shape is always the two endpoints, so the ``densify`` semantics
    collapse to one segment: transposed-distance (reference bug kept, see
    ``densify``), strict 0.2/0.37 km bands choosing 0/2/4 linspace points,
    the loop-exit endpoint append, 5-dp rounding, and start + i-hours
    timestamps wrapped to seconds-of-day. ``transform``/``sequence`` build
    the ≤5-element waypoint array per row; the input is already gated to
    top-k-per-year grain, so the higher-order functions touch ~30×years
    rows. Equality with the Python port (``densify`` over
    ``straight_line_geometry``, then ``attach_timestamps``) is pinned by
    tests/test_operators.py. One divergence class, non-occurring on this
    grid: F.round is HALF_UP while Python's round is HALF_EVEN, which
    differs only on exact half-way ties at the 6th decimal.
    """
    return top.withColumn("waypoints", _native_waypoints())


@functools.cache
def _native_waypoints() -> Column:
    lat1, lon1 = F.col("start_station_latitude"), F.col("start_station_longitude")
    lat2, lon2 = F.col("end_station_latitude"), F.col("end_station_longitude")

    # haversine with the reference's transposed call: lon plays lat.
    half_dlat = F.radians(lon2 - lon1) / 2
    half_dlon = F.radians(lat2 - lat1) / 2
    a = F.pow(F.sin(half_dlat), 2) + F.cos(F.radians(lon1)) * F.cos(
        F.radians(lon2)
    ) * F.pow(F.sin(half_dlon), 2)
    dist = 2 * 6371.0088 * F.asin(F.sqrt(a))

    n = (
        F.when(dist > F.lit(0.37), F.lit(4))
        .when((dist > F.lit(0.2)) & (dist < F.lit(0.37)), F.lit(2))
        .otherwise(F.lit(0))
    )

    def _pt(lo, la):
        return F.array(F.round(lo, 5), F.round(la, 5))

    def _interp(i):
        f = i.cast("double") / (n - 1).cast("double")
        return _pt(lon1 + (lon2 - lon1) * f, lat1 + (lat2 - lat1) * f)

    base = F.when(n == 0, F.array(_pt(lon1, lat1))).otherwise(
        F.transform(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0))), _interp)
    )
    coords = F.concat(base, F.array(_pt(lon2, lat2)))

    # time-of-day seconds incl. fractional micros; cast first so DATE,
    # TIMESTAMP and TIMESTAMP_NTZ trip_time all work (wall clock is
    # preserved by the cast; only the wall clock is read here).
    s0 = F.expr(
        "cast(hour(cast(trip_time as timestamp)) * 3600"
        " + minute(cast(trip_time as timestamp)) * 60 as double)"
        " + cast(extract(SECOND FROM cast(trip_time as timestamp)) as double)"
    )
    waypoints = F.transform(
        coords,
        lambda c, i: F.struct(
            ((s0 + i.cast("double") * 3600) % 86400).alias("timestamp"),
            c.alias("coordinates"),
        ),
    )
    return waypoints.cast(WAYPOINTS_TYPE)


def tripsmap_update(existing: DataFrame | None, delta: DataFrame) -> DataFrame:
    """I3: additive merge on the route identity ``TRIP_KEYS`` (J2+J4,
    update_tripsmap.py:37-55). Legacy-era trips have no rideable_type; the
    merge matches a null key to a null one. ``delta`` must hold one row
    per identity (``reduce_to_identity``). The result keeps the existing
    table's column order, so every write of the table has one schema."""
    if existing is None:
        return delta
    merged = additive_upsert(existing, delta, keys=TRIP_KEYS, counters=["trip_count"])
    return merged.select(*existing.columns)
