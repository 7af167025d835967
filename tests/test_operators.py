from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from citibike_deep_dive_spark.normalize import normalize_trips
from citibike_deep_dive_spark.operators.dockmap import (
    dock_aggregate,
    dock_merge,
    dock_monthly,
)
from citibike_deep_dive_spark.operators.heatmap import heatmap_update
from citibike_deep_dive_spark.operators.linegraph import linegraph_aggregate, linegraph_update
from citibike_deep_dive_spark.operators.tripsmap import (
    attach_timestamps,
    densify,
    enrich_routes,
    reduce_to_identity,
    straight_line_geometry,
    top_trips,
    trip_aggregate,
    tripsmap_update,
)
from citibike_deep_dive_spark.operators.upsert import additive_upsert

from tests.trips_fixture import modern_era_pdf

pytestmark = pytest.mark.pipeline


def clean_trips(spark):
    return normalize_trips(spark.createDataFrame(modern_era_pdf()), file_year="2023")


def test_linegraph_aggregate(spark):
    out = linegraph_aggregate(clean_trips(spark)).collect()
    assert len(out) == 1
    row = out[0]
    assert (row.year, row.month) == ("2023", "Jul")
    assert row.subscriber_count == 2  # r1, r3
    assert row.customer_count == 2  # r2, r4 (self-loop still counts here)


def test_linegraph_update_appends_a_month_already_present(spark):
    """I4 appends each archive's counts: a (year, month) already in the
    table gets a second row, not a sum. The state gate is the only guard
    against a double append (a reference quirk)."""
    trips = clean_trips(spark)
    twice = linegraph_update(linegraph_update(None, trips), trips).collect()
    assert [tuple(r) for r in twice] == [("2023", "Jul", 2, 2)] * 2


def test_heatmap_update_merges_additively(spark):
    trips = clean_trips(spark)
    first = heatmap_update(None, trips)
    # replaying the same file through the merge doubles every count
    merged = heatmap_update(first, trips)
    counts = {(r.year, r.month, r.hour): r.total_count for r in merged.collect()}
    assert counts[("2023", "Jul", 8)] == 2  # r1 twice
    assert counts[("2023", "Jul", 17)] == 2  # r2 twice
    assert sum(counts.values()) == 8


def test_additive_upsert_union_semantics(spark):
    main = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "cnt"])
    delta = spark.createDataFrame([("b", 10), ("c", 5)], ["k", "cnt"])
    out = {r.k: r.cnt for r in additive_upsert(main, delta, ["k"], ["cnt"]).collect()}
    assert out == {"a": 1, "b": 12, "c": 5}


def test_trip_aggregate_and_topk(spark):
    agg = trip_aggregate(clean_trips(spark))
    rows = {(r.start_station_name, r.end_station_name): r for r in agg.collect()}
    # self-loop r4 excluded; A->B counted twice with MIN(start_time)
    assert ("Alpha", "Alpha") not in rows
    ab = rows[("Alpha", "Beta")]
    assert ab.trip_count == 2
    assert ab.trip_time.isoformat() == "2023-07-01T08:00:00"

    top = top_trips(agg, k=1).collect()
    assert len(top) == 1
    assert top[0].start_station_name == "Alpha"


def test_route_enrichment_offline(spark):
    top = top_trips(trip_aggregate(clean_trips(spark)), k=2)
    enriched = enrich_routes(top).collect()
    for row in enriched:
        wps = row.waypoints
        assert len(wps) >= 2
        # waypoints are [lon, lat] pairs, 5-dp rounded, hourly timestamps
        assert wps[0].coordinates[0] == round(row.start_station_longitude, 5)
        assert wps[0].coordinates[1] == round(row.start_station_latitude, 5)
        assert wps[1].timestamp == (wps[0].timestamp + 3600) % 86400


def test_route_enrichment_native_equals_pandas(spark):
    """The native waypoints column equals the Python port of the
    reference's offline fallback (``straight_line_geometry``, ``densify``,
    ``attach_timestamps``) computed over the same rows read as pandas, on
    both the fixture trips (mixed densify bands) and the synthesized
    route-query data (all >0.37 km → 4-point branch). ``toPandas`` gives
    trip_time in the session time zone (UTC)."""
    from citibike_deep_dive_spark.plans.advanced import _synth_dock_trips
    from citibike_deep_dive_spark.plans.catalog import table

    tops = [top_trips(trip_aggregate(clean_trips(spark)), k=5)]
    synth = _synth_dock_trips(
        table(spark, "/root/testdata/sf0.001", "orders")
    ).withColumn(
        "start_time", F.lit("2024-03-05 07:31:02.5").cast("timestamp")
    ).withColumn("rideable_type", F.lit("classic_bike"))
    tops.append(top_trips(trip_aggregate(synth), k=5))

    for top in tops:
        pdf = enrich_routes(top).toPandas()
        assert len(pdf)  # non-empty
        for row in pdf.itertuples(index=False):
            ts = row.trip_time
            secs = float(
                ts.hour * 3600 + ts.minute * 60 + ts.second + ts.microsecond / 1e6
            )
            coords = straight_line_geometry(
                row.start_station_latitude,
                row.start_station_longitude,
                row.end_station_latitude,
                row.end_station_longitude,
            )
            want = attach_timestamps(densify(coords), secs)
            got = [
                {"timestamp": w["timestamp"], "coordinates": list(w["coordinates"])}
                for w in row.waypoints
            ]
            assert got == want, (row.start_station_name, row.end_station_name)


def test_densify_matches_reference_extend_shape():
    """extend_shape parity (update_tripsmap.py:176-203): distances are
    computed with the reference's transposed lat/lon call, linspace
    INCLUDES endpoints, and the loop-exit append duplicates the last point
    of a densified final segment."""
    # 0.006° of real longitude = 0.006° of transposed latitude ≈ 0.67 km
    # > 0.37 → linspace(0,1,4) (endpoints + 2 interior) + duplicate end
    far = densify([[-73.99, 40.75], [-73.996, 40.75]])
    assert len(far) == 5
    assert far[0] == [-73.99, 40.75]
    assert far[2] == [round(-73.99 + (-0.006) * (2 / 3), 5), 40.75]
    assert far[3] == far[4] == [-73.996, 40.75]
    # 0.0025° real longitude ≈ 0.28 km: strict middle band → linspace(0,1,2)
    # = just the two endpoints (no interior!) + duplicate end
    mid = densify([[-73.99, 40.75], [-73.9925, 40.75]])
    assert mid == [[-73.99, 40.75], [-73.9925, 40.75], [-73.9925, 40.75]]
    # tiny hop → segment start kept + final append, no duplication
    assert densify([[-73.99, 40.75], [-73.9901, 40.7501]]) == [
        [-73.99, 40.75],
        [-73.9901, 40.7501],
    ]
    # real-LATITUDE spans are shrunk by cos(~74°) under the transposed
    # call: 0.005° of latitude reads as ~0.15 km → NOT densified (the old
    # correct-distance code would have split this 0.56 km hop)
    assert len(densify([[-73.99, 40.75], [-73.99, 40.755]])) == 2


def test_reduce_to_identity_keeps_the_most_travelled_coordinates(spark):
    """The trips table's identity is (year, start, end, rideable_type).
    Counts add, the earliest trip_time and the best rank win, and the
    coordinates are the variant's with the most trips; on a tie, the smallest (start lat,
    start lon, end lat, end lon). The reference's choice is not
    deterministic, so this rule is the package's own."""
    from datetime import datetime

    cols = ["year", "start_station_name", "start_station_latitude",
            "start_station_longitude", "end_station_name", "end_station_latitude",
            "end_station_longitude", "rideable_type", "trip_count", "trip_time", "rn"]
    t1, t2 = datetime(2023, 7, 1, 8), datetime(2023, 7, 2, 9)
    # rn orders each identity's variants as top_trips ranks them: trip_count
    # descending, then the coordinates ascending
    top = spark.createDataFrame(
        [
            # most trips wins, whatever its coordinates
            ("2023", "A", 40.70, -73.90, "B", 40.80, -73.95, "classic_bike", 1, t1, 6),
            ("2023", "A", 40.75, -73.99, "B", 40.80, -73.95, "classic_bike", 3, t2, 1),
            # a tie: the smallest start latitude wins
            ("2023", "A", 40.75, -73.99, "B", 40.80, -73.95, "electric_bike", 2, t2, 3),
            ("2023", "A", 40.71, -74.00, "B", 40.80, -73.95, "electric_bike", 2, t1, 2),
            # a tie on start latitude: the smallest start longitude wins
            ("2023", "B", 40.70, -73.98, "C", 40.80, -73.95, "classic_bike", 1, t1, 5),
            ("2023", "B", 40.70, -73.99, "C", 40.80, -73.95, "classic_bike", 1, t1, 4),
        ],
        cols,
    )
    out = reduce_to_identity(top)
    assert out.columns == top_trips(trip_aggregate(clean_trips(spark))).columns
    got = {
        (r.start_station_name, r.rideable_type): (
            r.trip_count, r.trip_time, r.rn, r.start_station_latitude, r.start_station_longitude,
        )
        for r in out.collect()
    }
    assert got == {
        ("A", "classic_bike"): (4, t1, 1, 40.75, -73.99),
        ("A", "electric_bike"): (4, t1, 2, 40.71, -74.00),
        ("B", "classic_bike"): (2, t1, 4, 40.70, -73.99),
    }


def test_top_trips_breaks_a_tie_between_coordinate_variants_by_coordinates(spark):
    """Two coordinate variants of one route with equal trip_count tie on
    every other rank key. Only one fits in k=1; the rank's last tiebreaks
    are the coordinates, so the smaller variant survives, whichever comes
    first in the input."""
    from datetime import datetime

    cols = ["year", "start_station_name", "start_station_latitude",
            "start_station_longitude", "end_station_name", "end_station_latitude",
            "end_station_longitude", "rideable_type", "trip_count", "trip_time"]
    t = datetime(2023, 7, 1, 8)
    agg = spark.createDataFrame(
        [
            ("2023", "A", 40.76, -73.90, "B", 40.80, -73.95, "classic_bike", 5, t),
            ("2023", "A", 40.75, -73.99, "B", 40.80, -73.95, "classic_bike", 5, t),
        ],
        cols,
    ).coalesce(1)
    out = reduce_to_identity(top_trips(agg, k=1)).collect()
    assert [(r.start_station_latitude, r.start_station_longitude, r.trip_count, r.rn)
            for r in out] == [(40.75, -73.99, 5, 1)]


def test_tripsmap_update(spark):
    agg = trip_aggregate(clean_trips(spark))
    merged = tripsmap_update(agg, agg)
    ab = [r for r in merged.collect() if r.start_station_name == "Alpha"][0]
    assert ab.trip_count == 4


def test_dock_pipeline_and_merge(spark):
    trips = clean_trips(spark)
    monthly = dock_monthly(trips)
    m = {r.station_name: r for r in monthly.collect()}
    # Alpha: starts r1,r3,r4 ; ends r4 -> total 4
    assert m["Alpha"].month_starts == 3
    assert m["Alpha"].month_ends == 1
    assert m["Alpha"].month_total == 4
    # Beta: starts r2 ; ends r1,r3
    assert m["Beta"].month_starts == 1
    assert m["Beta"].month_ends == 2

    dock = dock_aggregate(trips)
    d = {r.station_name: r for r in dock.collect()}
    alpha = d["Alpha"].station_data
    assert alpha["2023"].year_starts == 3
    assert alpha["2023"].months["Jul"].month_total == 4

    # replay-merge: new year data REPLACES year_starts (X2 semantics)
    merged = dock_merge(dock, dock)
    d2 = {r.station_name: r for r in merged.collect()}
    assert d2["Alpha"].station_data["2023"].year_starts == 3


def test_dock_merge_month_union_new_wins(spark):
    from pyspark.sql import types as T

    data_type = T.MapType(
        T.StringType(),
        T.StructType(
            [
                T.StructField("year_starts", T.LongType()),
                T.StructField("year_ends", T.LongType()),
                T.StructField(
                    "months",
                    T.MapType(
                        T.StringType(),
                        T.StructType(
                            [
                                T.StructField("month_total", T.LongType()),
                                T.StructField("month_starts", T.LongType()),
                                T.StructField("month_ends", T.LongType()),
                            ]
                        ),
                    ),
                ),
            ]
        ),
    )
    schema = T.StructType(
        [
            T.StructField("station_name", T.StringType()),
            T.StructField("station_id", T.StringType()),
            T.StructField("station_latitude", T.DoubleType()),
            T.StructField("station_longitude", T.DoubleType()),
            T.StructField("station_data", data_type),
        ]
    )
    old = spark.createDataFrame(
        [("S", "id", 1.0, 2.0, {"2023": (10, 10, {"Jan": (5, 3, 2), "Feb": (5, 3, 2)})})],
        schema,
    )
    new = spark.createDataFrame(
        [("S", "id", 1.0, 2.0, {"2023": (7, 7, {"Feb": (9, 9, 0), "Mar": (1, 1, 0)})})],
        schema,
    )
    merged = dock_merge(old, new).collect()[0].station_data["2023"]
    assert merged.year_starts == 7  # replaced, not added
    months = merged.months
    assert months["Jan"].month_total == 5  # kept from old
    assert months["Feb"].month_total == 9  # new wins
    assert months["Mar"].month_total == 1  # added
