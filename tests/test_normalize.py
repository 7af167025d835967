from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from citibike_deep_dive_spark.normalize import normalize_trips
from citibike_deep_dive_spark.schema import CANONICAL_COLUMNS

from tests.trips_fixture import LAT_A, LAT_B, LON_A, LON_B, legacy_era_pdf, modern_era_pdf

pytestmark = pytest.mark.pipeline


def test_modern_era_normalization(spark):
    raw = spark.createDataFrame(modern_era_pdf())
    out = normalize_trips(raw, file_year="2023")
    rows = {r.start_time.isoformat(): r for r in out.collect()}

    # r5 (blacklist), r6 (empty id), r7 (zero coord), r8 (wrong year) dropped
    assert len(rows) == 4
    assert out.columns == CANONICAL_COLUMNS + ["year", "month"]

    r1 = rows["2023-07-01T08:00:00"]
    # bbox repair un-swapped the CLEAN_DICT lat/lng swap
    assert r1.start_station_latitude == LAT_A
    assert r1.start_station_longitude == LON_A
    assert r1.end_station_latitude == LAT_B
    assert r1.end_station_longitude == LON_B
    # member→subscriber mapping + derived partition columns
    assert r1.user_type == "subscriber"
    assert (r1.year, r1.month) == ("2023", "Jul")

    r2 = rows["2023-07-02T17:30:00"]
    assert r2.user_type == "customer"


def test_legacy_era_normalization(spark):
    raw = spark.createDataFrame(legacy_era_pdf())
    out = normalize_trips(raw, file_year="2019")
    rows = sorted(out.collect(), key=lambda r: r.start_time)

    assert len(rows) == 2
    # headers with spaces normalized; Usertype lower-cased passthrough map
    assert rows[0].user_type == "subscriber"
    assert rows[1].user_type == "customer"
    # 'Stop Time' → stop_time → end_time (clean_up.py:16 'stop_time' entry;
    # without it end_time would silently null-pad — ADVICE r1)
    assert rows[0].end_time is not None and rows[0].end_time.minute == 10
    # legacy coords were already correctly oriented — repair is a no-op
    assert rows[0].start_station_latitude == LAT_A
    # both M/D/YYYY H:MM:SS and H:MM formats parsed
    assert rows[0].start_time.minute == 0
    assert rows[1].start_time.minute == 30
    # rideable_type padded as typed null
    assert rows[0].rideable_type is None
    assert (rows[0].year, rows[0].month) == ("2019", "Jul")


def test_filters_are_pushed_into_scan(spark, tmp_path):
    """P6 predicates must reach the parquet scan (SURVEY.md §4)."""
    raw = spark.createDataFrame(modern_era_pdf())
    path = str(tmp_path / "raw_trips")
    raw.write.parquet(path)
    df = normalize_trips(spark.read.parquet(path), file_year="2023")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    # at least the notnull/non-empty filters are pushed down
    assert "IsNotNull" in plan


def test_normalize_pipeline_filter_not_pushed_below_fanout(spark):
    """The year predicate (timestamp round-trip per row) must evaluate
    ABOVE the fan-out exchange — pushed below, the whole narrow pipeline
    re-runs single-core on the one-file scan (the plan the barrier in
    fan_out(barrier=True) exists to prevent)."""
    from citibike_deep_dive_spark.plans import CATALOG

    df = CATALOG["normalize_trips_pipeline"].build(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    filter_pos = plan.find("Filter")
    exchange_pos = plan.find("Exchange")
    assert exchange_pos != -1, "fan_out should repartition the 1-file scan"
    assert filter_pos != -1 and filter_pos < exchange_pos, (
        "clean_filters was pushed below the fan-out exchange (single-task scan)"
    )


def test_pushdown_barrier_preserves_values_and_blocks_pushdown(spark):
    from pyspark.sql import functions as F

    from citibike_deep_dive_spark.operators.fanout import pushdown_barrier

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    wrapped = pushdown_barrier(df)
    assert wrapped.columns == df.columns
    assert wrapped.exceptAll(df).count() == 0 and df.exceptAll(wrapped).count() == 0


def test_malformed_csv_rows_drop_deterministically(spark, tmp_path):
    """Ingestion robustness policy: a ragged/garbage CSV row becomes
    all-string nulls under PERMISSIVE parsing (read_staged_csvs is
    schema-less strings), timestamps fail to try_to_timestamp → NULL,
    and the P6 multi-predicate gate drops the row. Good rows around it
    survive. This pins the quarantine-by-filter behavior so a reader
    change (e.g. FAILFAST) can't silently alter ingestion semantics."""
    from citibike_deep_dive_spark.normalize import normalize_trips
    from citibike_deep_dive_spark.sources.zips import read_staged_csvs

    p = tmp_path / "202301-citibike-tripdata.csv"
    header = (
        "ride_id,rideable_type,started_at,ended_at,start_station_name,"
        "start_station_id,end_station_name,end_station_id,start_lat,"
        "start_lng,end_lat,end_lng,member_casual"
    )
    good = (
        "R1,electric_bike,2023-01-05 10:00:00,2023-01-05 10:20:00,A St,"
        "100,B St,200,40.7,-74.0,40.71,-74.01,member"
    )
    ragged = "R2,electric_bike,2023-01-05 11:00:00"  # truncated row
    garbage = "R3,electric_bike,not-a-date,also-not,A St,100,B St,200,xx,yy,zz,ww,member"
    p.write_text("\n".join([header, good, ragged, garbage]) + "\n")

    raw = read_staged_csvs(spark, [str(p)])
    assert raw.count() == 3  # PERMISSIVE: nothing rejected at read time
    clean = normalize_trips(raw, file_year="2023")
    rows = clean.collect()
    assert len(rows) == 1
    assert rows[0]["start_station_name"] == "A St"
    assert rows[0]["user_type"] == "subscriber"  # F3 CASE normalization


def _one_row(spark, pdf, **changes):
    """The fixture's first row with ``changes`` applied, every column a
    string or null, as ``read_staged_csvs`` hands it to normalize."""
    row = pdf.iloc[0].to_dict() | changes
    cols = list(row)
    values = tuple(None if row[c] is None else str(row[c]) for c in cols)
    return spark.createDataFrame([values], ", ".join(f"`{c}` string" for c in cols))


_START = ("start_station_latitude", "start_station_longitude")
_END = ("end_station_latitude", "end_station_longitude")


@pytest.mark.parametrize(
    "pdf, file_year, change, kept",
    [
        (legacy_era_pdf, "2019", {"Start Station Latitude": 0.0}, None),
        (legacy_era_pdf, "2019", {"End Station Latitude": 0.0}, None),
        (modern_era_pdf, "2023", {"start_lng": 0.0}, None),
        (modern_era_pdf, "2023", {"end_lat": 0.0}, None),
        (legacy_era_pdf, "2019", {"End Station Longitude": 0.0}, (_END, (0.0, LAT_B))),
        (modern_era_pdf, "2023", {"start_lat": 0.0}, (_START, (0.0, LON_A))),
        (modern_era_pdf, "2023", {"end_lng": 0.0}, (_END, (0.0, LAT_B))),
    ],
    ids=[
        "legacy-start-lat",
        "legacy-end-lat",
        "modern-start_lng",
        "modern-end_lat",
        "legacy-end-lon",
        "modern-start_lat",
        "modern-end_lng",
    ],
)
def test_zero_latitude_check_reads_the_columns_before_the_swap(
    spark, pdf, file_year, change, kept
):
    """P6's ``!= 0`` checks bind to the loaded columns, before the P4 swap
    (the reference's WHERE reads temp_table, not its SELECT's REPLACE).
    A 0 in a checked column drops the row; a 0 in an unchecked one keeps
    it, and the swap then moves the 0 into the latitude (a reference
    quirk). Modern ``start_lng`` lands in the start latitude column."""
    rows = normalize_trips(_one_row(spark, pdf(), **change), file_year=file_year).collect()
    if kept is None:
        assert rows == []
    else:
        (lat, lon), coords = kept
        assert len(rows) == 1
        assert (rows[0][lat], rows[0][lon]) == coords


@pytest.mark.parametrize(
    "change, rows",
    [
        ({"Start Station Name": "8D OPS 01"}, 0),
        ({"End Station Name": "SSP - Basement"}, 0),
        ({"Start Station Name": ""}, 0),
        ({"Start Station ID": ""}, 0),
        ({"Start Station Latitude": None}, 0),
        ({"Start Station Longitude": None}, 0),
        ({"End Station Latitude": None}, 0),
        ({"End Station Longitude": None}, 0),
        ({"Start Time": "7/1/2018 8:00:00"}, 0),
        ({"Start Time": "2019-07-01T08:00"}, 0),
        ({"End Station Name": ""}, 1),
        ({"End Station ID": ""}, 1),
    ],
    ids=[
        "blacklisted-start",
        "blacklisted-end",
        "empty-start-name",
        "empty-start-id",
        "null-start-lat",
        "null-start-lon",
        "null-end-lat",
        "null-end-lon",
        "wrong-year",
        "unparseable-start-time",
        "empty-end-name",
        "empty-end-id",
    ],
)
def test_each_p6_rule_alone(spark, change, rows):
    """One good legacy row with one field changed. Each P6 predicate drops
    it on its own; an empty END name or id does not (the reference checks
    only the start side)."""
    assert normalize_trips(_one_row(spark, legacy_era_pdf(), **change), "2019").count() == rows


def test_iso_timestamp_keeps_its_milliseconds(spark):
    rows = normalize_trips(
        _one_row(spark, modern_era_pdf(), started_at="2023-07-01 08:00:00.123"), "2023"
    ).collect()
    assert len(rows) == 1
    assert rows[0].start_time.isoformat() == "2023-07-01T08:00:00.123000"


def test_swapped_end_pair_is_repaired(spark):
    raw = _one_row(
        spark, legacy_era_pdf(), **{"End Station Latitude": LON_B, "End Station Longitude": LAT_B}
    )
    rows = normalize_trips(raw, "2019").collect()
    assert [(r.end_station_latitude, r.end_station_longitude) for r in rows] == [(LAT_B, LON_B)]


def test_pair_outside_the_bbox_is_swapped_anyway(spark):
    """P4 swaps any pair that is not inside the NYC box, even one that was
    right and merely lies outside it (a reference quirk)."""
    outside = {"Start Station Latitude": 42.0, "Start Station Longitude": -71.0}
    raw = _one_row(spark, legacy_era_pdf(), **outside)
    rows = normalize_trips(raw, "2019").collect()
    assert [(r.start_station_latitude, r.start_station_longitude) for r in rows] == [(-71.0, 42.0)]


def test_user_type_outside_the_map_is_lowercased(spark):
    raw = _one_row(spark, legacy_era_pdf(), Usertype="Dependent")
    rows = normalize_trips(raw, "2019").collect()
    assert [r.user_type for r in rows] == ["dependent"]
