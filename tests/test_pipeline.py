"""End-to-end pipeline + CLI + DuckDB export (the reference's main loop,
main.py:23-83, and export artifact, export_data.py:24-31)."""

from __future__ import annotations

import os
import zipfile

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from citibike_deep_dive_spark import pipeline
from citibike_deep_dive_spark.pipeline import DERIVED_TABLES, run_pipeline, read_table
from citibike_deep_dive_spark.sources.export import (
    export_warehouse_to_duckdb,
    parse_bucket_listing_xml,
)
from citibike_deep_dive_spark.sources.state import load_state

from tests.trips_fixture import LAT_A, LON_A, legacy_era_pdf, modern_era_pdf

pytestmark = pytest.mark.pipeline


def _write_modern(d):
    with zipfile.ZipFile(d / "202307-citibike-tripdata.csv.zip", "w") as z:
        z.writestr("202307-citibike-tripdata.csv", modern_era_pdf().to_csv(index=False))
        z.writestr("__MACOSX/._junk.csv", "garbage")


def _write_legacy(d):
    with zipfile.ZipFile(d / "2019-citibike-tripdata.zip", "w") as z:
        z.writestr("2019-citibike-tripdata.csv", legacy_era_pdf().to_csv(index=False))


@pytest.fixture()
def inbox(tmp_path):
    d = tmp_path / "inbox"
    d.mkdir()
    _write_modern(d)
    _write_legacy(d)
    return str(d)


def _snapshot(spark, wh):
    """Every derived table and the state, as sorted JSON rows."""
    out = {t: sorted(read_table(spark, wh, t).toJSON().collect()) for t in DERIVED_TABLES}
    out["_state"] = sorted(spark.read.parquet(os.path.join(wh, "_state")).toJSON().collect())
    return out


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_pipeline_end_to_end_idempotent(spark, inbox, tmp_path):
    wh = str(tmp_path / "warehouse")
    r1 = run_pipeline(spark, inbox, wh, top_k=5)
    assert len(r1.processed) == 2 and r1.skipped == 0

    tables = {}
    for t in ("linegraph", "heatmap", "dock", "trips"):
        df = read_table(spark, wh, t)
        assert df is not None and df.count() > 0, t
        tables[t] = sorted(repr(r) for r in df.collect())

    # idempotence: second run is a no-op and changes nothing
    r2 = run_pipeline(spark, inbox, wh, top_k=5)
    assert len(r2.processed) == 0 and r2.skipped == 2
    for t, before in tables.items():
        assert sorted(repr(r) for r in read_table(spark, wh, t).collect()) == before


def test_split_runs_equal_one_run(spark, inbox, tmp_path):
    """One call over both archives and one call per archive leave the same
    tables and state: the concurrent rewrites do not reorder the merges."""
    together = str(tmp_path / "together")
    assert len(run_pipeline(spark, inbox, together, top_k=5).processed) == 2

    split_inbox = tmp_path / "split_inbox"
    split_inbox.mkdir()
    split = str(tmp_path / "split")
    _write_legacy(split_inbox)
    assert len(run_pipeline(spark, str(split_inbox), split, top_k=5).processed) == 1
    _write_modern(split_inbox)
    assert len(run_pipeline(spark, str(split_inbox), split, top_k=5).processed) == 1

    assert _snapshot(spark, split) == _snapshot(spark, together)


def _month_of_2023(month: int):
    """The modern fixture moved to ``month`` of 2023. Even months add an
    electric Alpha->Beta trip; January and July add a classic Alpha->Beta
    trip from other coordinates. So most archives hold two rows of one
    (year, start, end) route in their top-k delta."""
    pdf = modern_era_pdf().replace({r"^2023-07-": f"2023-{month:02d}-"}, regex=True)
    extra = []
    if month % 2 == 0:
        extra.append(pdf.iloc[0].to_dict() | {"ride_id": "r9", "rideable_type": "electric_bike"})
    if month in (1, 7):
        extra.append(
            pdf.iloc[0].to_dict()
            | {"ride_id": "r10", "start_lat": LAT_A + 0.001, "start_lng": LON_A + 0.001}
        )
    return pd.concat([pdf, pd.DataFrame(extra)], ignore_index=True)


def test_trips_table_holds_one_row_per_identity_over_a_year(spark, tmp_path):
    """Twelve monthly archives of one year. The trips table holds one row
    per (year, start, end, rideable_type), and each row's trip_count is
    the sum of that identity's per-archive top-k deltas. The table's
    column order is the same after the first write and the last."""
    from citibike_deep_dive_spark.normalize import normalize_trips
    from citibike_deep_dive_spark.operators.tripsmap import (
        TRIP_KEYS,
        top_trips,
        trip_aggregate,
    )

    d = tmp_path / "inbox"
    d.mkdir()
    expected: dict[tuple, int] = {}
    for month in range(1, 13):
        pdf = _month_of_2023(month)
        name = f"2023{month:02d}-citibike-tripdata.csv"
        with zipfile.ZipFile(d / f"{name}.zip", "w") as z:
            z.writestr(name, pdf.to_csv(index=False))
        delta = top_trips(
            trip_aggregate(normalize_trips(spark.createDataFrame(pdf), file_year="2023")),
            k=30,
        )
        for r in delta.collect():
            key = tuple(r[k] for k in TRIP_KEYS)
            expected[key] = expected.get(key, 0) + r.trip_count
    assert expected == {
        ("2023", "Alpha", "Beta", "classic_bike"): 26,
        ("2023", "Alpha", "Beta", "electric_bike"): 6,
        ("2023", "Beta", "Gamma", "electric_bike"): 12,
    }

    wh = str(tmp_path / "warehouse")
    assert len(run_pipeline(spark, str(d), wh, top_k=30).processed) == 12
    trips = read_table(spark, wh, "trips")
    rows = trips.collect()
    assert {tuple(r[k] for k in TRIP_KEYS): r.trip_count for r in rows} == expected
    assert len(rows) == len(expected)
    # January's classic trips: two from Alpha's coordinates, one from the
    # other ones; the most-travelled coordinates stay
    classic = [r for r in rows if r.rideable_type == "classic_bike"][0]
    assert (classic.start_station_latitude, classic.start_station_longitude) == (LAT_A, LON_A)
    assert trips.columns == top_trips(trip_aggregate(
        normalize_trips(spark.createDataFrame(modern_era_pdf()), file_year="2023")
    )).columns + ["waypoints"]


def test_legacy_months_merge_on_a_null_rideable_type(spark, tmp_path):
    """Legacy-era trips have no rideable_type, so the identity's type is
    null. Two monthly legacy archives of one year still leave one row per
    route, with the counts added and the type still null."""
    d = tmp_path / "inbox"
    d.mkdir()
    for month in (7, 8):
        pdf = legacy_era_pdf().replace({r"^7/": f"{month}/"}, regex=True)
        name = f"2019{month:02d}-citibike-tripdata.csv"
        with zipfile.ZipFile(d / f"{name}.zip", "w") as z:
            z.writestr(name, pdf.to_csv(index=False))
    wh = str(tmp_path / "warehouse")
    assert len(run_pipeline(spark, str(d), wh, top_k=30).processed) == 2
    rows = read_table(spark, wh, "trips").collect()
    got = {(r.start_station_name, r.end_station_name, r.rideable_type): r.trip_count for r in rows}
    assert got == {("Alpha", "Beta", None): 2, ("Gamma", "Alpha", None): 2}
    assert len(rows) == 2


def test_archive_members_with_different_headers_keep_their_rows(spark, tmp_path):
    """A yearly archive spanning the 2021 format change holds a legacy
    January and a modern February. Each member is read with its own header,
    so both months' trips are kept: 2 legacy and 4 modern trips pass the
    filters of the fixtures."""
    legacy = legacy_era_pdf().replace({r"/2019 ": "/2021 ", r"^7/": "1/"}, regex=True)
    modern = modern_era_pdf().replace({r"^2023-07-": "2021-02-"}, regex=True)
    d = tmp_path / "inbox"
    d.mkdir()
    with zipfile.ZipFile(d / "2021-citibike-tripdata.zip", "w") as z:
        z.writestr("202101-citibike-tripdata.csv", legacy.to_csv(index=False))
        z.writestr("202102-citibike-tripdata.csv", modern.to_csv(index=False))
    wh = str(tmp_path / "warehouse")
    assert len(run_pipeline(spark, str(d), wh, top_k=5).processed) == 1

    heatmap = read_table(spark, wh, "heatmap").groupBy("month").agg(F.sum("total_count"))
    by_month = {month: n for month, n in heatmap.collect()}
    assert by_month == {"Jan": 2, "Feb": 4}


def test_archive_without_csv_member_raises(spark, tmp_path):
    d = tmp_path / "inbox"
    d.mkdir()
    with zipfile.ZipFile(d / "202307-citibike-tripdata.csv.zip", "w") as z:
        z.writestr("readme.txt", "no trips here")
    with pytest.raises(ValueError, match="202307-citibike-tripdata.csv.zip"):
        run_pipeline(spark, str(d), str(tmp_path / "warehouse"), top_k=5)


def test_failed_rewrite_reraises_and_keeps_state(spark, tmp_path, monkeypatch):
    """A table rewrite that fails stops the run before the state advances,
    after the other rewrites finished, with the trips cache released."""
    d = tmp_path / "inbox"
    d.mkdir()
    _write_modern(d)
    wh = str(tmp_path / "warehouse")

    def broken(old, trips):
        raise RuntimeError("heatmap build failed")

    persisted = _persisted_rdds(spark)
    monkeypatch.setattr(pipeline, "heatmap_update", broken)
    with pytest.raises(RuntimeError, match="heatmap build failed"):
        run_pipeline(spark, str(d), wh, top_k=5)
    assert _persisted_rdds(spark) == persisted
    assert load_state(os.path.join(wh, "_state")) == {}
    # the other rewrites ran to the end before the error surfaced
    assert [t for t in DERIVED_TABLES if read_table(spark, wh, t) is not None] == [
        "linegraph", "dock", "trips"
    ]

    monkeypatch.undo()
    assert len(run_pipeline(spark, str(d), wh, top_k=5).processed) == 1


def test_failed_cache_fill_reraises_and_writes_no_table(spark, tmp_path, monkeypatch):
    """The rewrites plan their deltas while the cache fills; a fill that
    fails stops the archive before any of them reads or writes a table,
    with the error surfaced, the state kept and the trips cache released."""
    d = tmp_path / "inbox"
    d.mkdir()
    _write_modern(d)
    wh = str(tmp_path / "warehouse")
    normalize = pipeline.normalize_trips

    def failing(raw, file_year):
        trips = normalize(raw, file_year=file_year)
        return trips.withColumn("fails", F.raise_error(F.lit("cache fill failed")))

    reads = []
    read = pipeline.read_table

    def recording(spark_, warehouse_dir, name):
        reads.append(name)
        return read(spark_, warehouse_dir, name)

    persisted = _persisted_rdds(spark)
    monkeypatch.setattr(pipeline, "normalize_trips", failing)
    monkeypatch.setattr(pipeline, "read_table", recording)
    with pytest.raises(Exception, match="cache fill failed"):
        run_pipeline(spark, str(d), wh, top_k=5)
    assert reads == []
    assert _persisted_rdds(spark) == persisted
    assert load_state(os.path.join(wh, "_state")) == {}
    assert [t for t in DERIVED_TABLES if os.path.exists(os.path.join(wh, t))] == []

    monkeypatch.undo()
    assert len(run_pipeline(spark, str(d), wh, top_k=5).processed) == 1


def test_unreadable_next_archive_fails_in_its_own_turn(spark, tmp_path):
    """The next archive is staged while the one before it rewrites the
    tables. One that cannot be staged fails only in its own turn: the
    archive before it is merged and its state saved, and nothing is left
    staged or cached."""
    d = tmp_path / "inbox"
    d.mkdir()
    _write_legacy(d)
    with zipfile.ZipFile(d / "202307-citibike-tripdata.csv.zip", "w") as z:
        z.writestr("readme.txt", "no trips here")
    wh = str(tmp_path / "warehouse")
    persisted = _persisted_rdds(spark)
    with pytest.raises(ValueError, match="202307-citibike-tripdata.csv.zip"):
        run_pipeline(spark, str(d), wh, top_k=5)
    assert sorted(load_state(os.path.join(wh, "_state"))) == [2019]
    assert all(read_table(spark, wh, t) is not None for t in DERIVED_TABLES)
    assert _persisted_rdds(spark) == persisted
    assert os.listdir(os.path.join(wh, "_staging")) == []


def test_table_writes_inherit_the_job_group(spark, inbox, tmp_path, monkeypatch):
    """Jobs the rewrite threads launch belong to the caller's job group,
    so it can cancel or attribute them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups, write_jobs = [], set()
    write_table = pipeline.write_table

    def recording(df, wh, name):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        before = set(tracker.getJobIdsForGroup("g"))
        write_table(df, wh, name)
        # the caller's thread launches nothing while the rewrites run
        write_jobs.update(set(tracker.getJobIdsForGroup("g")) - before)

    monkeypatch.setattr(pipeline, "write_table", recording)
    sc.setJobGroup("g", "pipeline job-group test")
    try:
        r = run_pipeline(spark, inbox, str(tmp_path / "warehouse"), top_k=5)
    finally:
        sc._jsc.clearJobGroup()
    n_writes = len(DERIVED_TABLES) * len(r.processed)
    assert groups == ["g"] * n_writes
    assert len(write_jobs) >= n_writes


def test_run_leaves_no_staged_csv(spark, inbox, tmp_path):
    """Each archive's extracted CSVs are removed once it is merged."""
    wh = tmp_path / "warehouse"
    assert len(run_pipeline(spark, inbox, str(wh), top_k=5).processed) == 2
    staged = [f for _, _, files in os.walk(wh / "_staging") for f in files]
    assert not [f for f in staged if f.lower().endswith(".csv")]


def test_duckdb_export_artifact(spark, inbox, tmp_path):
    wh = str(tmp_path / "warehouse")
    run_pipeline(spark, inbox, wh, top_k=5)
    db = str(tmp_path / "CitibikeData.db")
    exported = export_warehouse_to_duckdb(wh, db)
    assert set(exported) == {"linegraph", "heatmap", "dock", "trips"}
    con = duckdb.connect(db, read_only=True)
    try:
        for t in exported:
            n = con.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
            want = spark.read.parquet(os.path.join(wh, t)).count()
            assert n == want, t
        # the nested station_data survives the format hop
        row = con.execute(
            "SELECT station_name, station_data FROM dock LIMIT 1"
        ).fetchone()
        assert row[0] and row[1]
    finally:
        con.close()


def test_cli_main(inbox, tmp_path):
    from citibike_deep_dive_spark.__main__ import main

    wh = str(tmp_path / "wh_cli")
    db = str(tmp_path / "out.db")
    rc = main(
        [
            "--input-dir", inbox,
            "--warehouse", wh,
            "--export-db", db,
            "--top-k", "3",
            "--cpus", "8",
        ]
    )
    assert rc == 0
    assert os.path.exists(db)
    assert duckdb.connect(db, read_only=True).execute(
        "SELECT count(*) FROM linegraph"
    ).fetchone()[0] > 0


def test_parse_bucket_listing_xml():
    xml = (
        '<?xml version="1.0"?>'
        '<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">'
        "<Contents><Key>202301-citibike-tripdata.csv.zip</Key></Contents>"
        "<Contents><Key>JC-202301-citibike-tripdata.csv.zip</Key></Contents>"
        "<Contents><Key>index.html</Key></Contents>"
        "</ListBucketResult>"
    )
    assert parse_bucket_listing_xml(xml) == [
        "202301-citibike-tripdata.csv.zip",
        "JC-202301-citibike-tripdata.csv.zip",
        "index.html",
    ]
