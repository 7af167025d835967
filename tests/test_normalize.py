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
