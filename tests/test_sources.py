from __future__ import annotations

import io
import os
import tracemalloc
import zipfile

import pytest

from citibike_deep_dive_spark.sources.discovery import (
    CandidateFile,
    discover_listing,
    is_candidate,
    parse_file_name,
)
from citibike_deep_dive_spark.sources.state import (
    YearState,
    advance_state,
    load_state,
    new_files,
    save_state,
)
from citibike_deep_dive_spark.sources.zips import extract_to_staging, iter_csv_members

pytestmark = pytest.mark.pipeline


def test_parse_file_name():
    assert parse_file_name("202307-citibike-tripdata.csv.zip") == (2023, 7)
    assert parse_file_name("2023-citibike-tripdata.zip") == (2023, None)
    assert parse_file_name("JC-202307-citibike-tripdata.csv.zip") is None
    assert parse_file_name("garbage.zip") is None


def test_listing_filters_and_order():
    keys = [
        "202402-citibike-tripdata.csv.zip",
        "202312-citibike-tripdata.csv.zip",
        "JC-202402-citibike-tripdata.csv.zip",  # Jersey City: excluded
        "index.html",
        "2012-citibike-tripdata.zip",  # pre-2013: excluded
        "2023-citibike-tripdata.zip",
    ]
    files = discover_listing(keys)
    assert [f.sort_key for f in files] == [202300, 202312, 202402]
    assert not is_candidate("index.html")


def test_state_machine_gate():
    candidates = [
        CandidateFile("202301-...", 2023, 1),
        CandidateFile("202302-...", 2023, 2),
        CandidateFile("2022-...", 2022, None),
    ]
    state: dict[int, YearState] = {}
    fresh = new_files(candidates, state)
    assert len(fresh) == 3
    # process the 2022 yearly file -> complete
    state = advance_state(state, fresh[0])
    assert state[2022].complete
    # process 2023-01 -> month set {1}, incomplete
    state = advance_state(state, fresh[1])
    assert state[2023] == YearState(2023, frozenset({1}), False)
    # re-diff: only 2023-02 is new; replay returns empty list (never False)
    remaining = new_files(candidates, state)
    assert [(f.year, f.month) for f in remaining] == [(2023, 2)]
    state = advance_state(state, remaining[0])
    assert new_files(candidates, state) == []


def test_state_gate_out_of_order_month():
    """Exact-match gate (new_file_check.py:27-43): a month published AFTER a
    later month was ingested is still NEW — a max-month watermark would
    silently drop it (ADVICE r1)."""
    state: dict[int, YearState] = {}
    state = advance_state(state, CandidateFile("202305-...", 2023, 5))
    late = CandidateFile("202303-...", 2023, 3)
    fresh = new_files([late, CandidateFile("202305-...", 2023, 5)], state)
    assert [(f.year, f.month) for f in fresh] == [(2023, 3)]
    state = advance_state(state, late)
    assert state[2023] == YearState(2023, frozenset({3, 5}), False)
    assert new_files([late], state) == []


def test_state_roundtrip(tmp_path):
    path = str(tmp_path / "status_state")
    assert load_state(path) == {}  # missing table -> empty, no crash
    state = {
        2023: YearState(2023, frozenset({3, 7}), False),
        2022: YearState(2022, frozenset(), True),
    }
    save_state(state, path)
    assert load_state(path) == state
    save_state({2024: YearState(2024, frozenset({1}), False)}, path)  # overwrite
    assert load_state(path) == {2024: YearState(2024, frozenset({1}), False)}


def test_load_state_raises_on_corrupt_table(tmp_path):
    """Only a missing table means "nothing ingested yet": reading a corrupt
    one as empty would re-ingest, and so double-count, every archive."""
    path = str(tmp_path / "status_state")
    save_state({2023: YearState(2023, frozenset({3}), False)}, path)
    (part,) = [f for f in os.listdir(path) if f.endswith(".parquet")]
    with open(os.path.join(path, part), "r+b") as fh:
        fh.truncate(os.path.getsize(os.path.join(path, part)) // 2)
    with pytest.raises(Exception):
        load_state(path)
    assert load_state(str(tmp_path / "missing")) == {}


def test_state_table_matches_the_spark_layout(spark, tmp_path):
    """Warehouses written when Spark saved the state (its column types,
    ``_SUCCESS`` and CRC files) still load; Spark reads the new table with
    the same schema."""
    from pyspark.sql import types as T

    spark_schema = T.StructType(
        [
            T.StructField("year", T.IntegerType(), False),
            T.StructField("month", T.IntegerType(), True),
            T.StructField("complete", T.BooleanType(), False),
        ]
    )
    old = str(tmp_path / "spark_state")
    spark.createDataFrame(
        [(2023, 3, False), (2022, None, True)], spark_schema
    ).coalesce(1).write.parquet(old)
    state = {
        2023: YearState(2023, frozenset({3}), False),
        2022: YearState(2022, frozenset(), True),
    }
    assert load_state(old) == state

    new = str(tmp_path / "state")
    save_state(state, new)
    df = spark.read.parquet(new)
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in spark_schema
    ]
    assert sorted(df.collect()) == sorted(spark.read.parquet(old).collect())


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, payload in members.items():
            zf.writestr(name, payload)
    return buf.getvalue()


def test_zip_extraction_nested_and_macosx():
    inner = _zip_bytes({"inner.csv": b"a,b\n1,2\n"})
    data = _zip_bytes(
        {
            "top.csv": b"x,y\n3,4\n",
            "__MACOSX/top.csv": b"junk",
            ".hidden.csv": b"junk",
            "nested.zip": inner,
            "readme.txt": b"nope",
        }
    )
    members = {name: member.read() for name, member in iter_csv_members(io.BytesIO(data))}
    assert set(members) == {"top.csv", "inner.csv"}
    assert members["inner.csv"] == b"a,b\n1,2\n"


def test_extraction_streams_each_member(tmp_path):
    """Extraction holds no member in memory whole: an archive with a 24 MB
    member and a nested zip is staged with a traced peak under 4 MB, and
    each staged file holds exactly its member's bytes, numbered in archive
    order."""
    big = b"ride,started_at,station\n" + b"".join(
        b"%d,2023-07-01 00:00:%02d,station %d\n" % (i, i % 60, i % 997) for i in range(800_000)
    )
    assert len(big) >= 20 << 20
    small = b"a,b\n1,2\n"
    zpath = tmp_path / "2023-citibike-tripdata.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("big.csv", big)
        z.writestr("__MACOSX/big.csv", b"junk")
        z.writestr("nested.zip", _zip_bytes({"inner.csv": big[: 4 << 20], ".x.csv": b"junk"}))
        z.writestr("sub/big.csv", small)
    expected = [("0000-big.csv", big), ("0001-inner.csv", big[: 4 << 20]), ("0002-big.csv", small)]

    tracemalloc.start()
    try:
        staged = extract_to_staging(str(zpath), str(tmp_path / "staging"))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 4 << 20
    got = []
    for path in staged:
        with open(path, "rb") as fh:
            got.append((os.path.basename(path), fh.read()))
    assert got == expected


def test_staged_members_sharing_a_basename_stay_apart(spark, tmp_path):
    """Members in different folders with one basename are staged as two
    files, so each month's rows are read exactly once."""
    from citibike_deep_dive_spark.sources.zips import read_staged_csvs

    zpath = tmp_path / "2023-citibike-tripdata.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("jan/trips.csv", "ride\n1\n3\n")
        z.writestr("feb/trips.csv", "ride\n5\n")
    staged = extract_to_staging(str(zpath), str(tmp_path / "staging"))
    assert len(set(staged)) == 2
    rows = read_staged_csvs(spark, staged).collect()
    assert sorted(r.ride for r in rows) == ["1", "3", "5"]


def _header_files(tmp_path) -> dict[str, str]:
    """One CSV per header shape: both eras, a quoted header, and empty or
    (case-insensitively) duplicate names."""
    from tests.trips_fixture import legacy_era_pdf, modern_era_pdf

    legacy, modern = tmp_path / "legacy.csv", tmp_path / "modern.csv"
    legacy_era_pdf().to_csv(legacy, index=False)
    modern_era_pdf().to_csv(modern, index=False)
    quoted, odd = tmp_path / "quoted.csv", tmp_path / "odd.csv"
    quoted.write_text('"Trip Duration","Start Time","start, station"\n1,2,3\n')
    odd.write_text("a,,A,b,a,,B\n1,2,3,4,5,6,7\n")
    return {p.stem: str(p) for p in (legacy, modern, quoted, odd)}


def test_staged_schema_equals_sparks_inferred_schema(spark, tmp_path):
    """The header read in Python names the columns exactly as Spark's
    header inference does: both eras, a quoted header, and empty or
    (case-insensitively) duplicate names."""
    from citibike_deep_dive_spark.sources.zips import csv_header, read_staged_csvs

    for name, path in _header_files(tmp_path).items():
        inferred = spark.read.csv(path, header=True, inferSchema=False)
        assert csv_header(path) == tuple(inferred.columns), name
        got = read_staged_csvs(spark, [path])
        assert got.schema == inferred.schema, name
        assert sorted(map(repr, got.collect())) == sorted(map(repr, inferred.collect()))
    assert csv_header(_header_files(tmp_path)["odd"]) == (
        "a0", "_c1", "A2", "b3", "a4", "_c5", "B6"
    )


def test_read_staged_csvs_launches_no_job(spark, tmp_path):
    from citibike_deep_dive_spark.sources.zips import read_staged_csvs

    paths = _header_files(tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("read-staged", "read_staged_csvs launches no job")
    try:
        for path in paths.values():
            read_staged_csvs(spark, [path])
        assert list(sc.statusTracker().getJobIdsForGroup("read-staged")) == []
    finally:
        sc._jsc.clearJobGroup()


def test_members_are_grouped_by_header(tmp_path):
    """Members group by header in order of first appearance; empty members
    hold no rows and are left out; one read takes one header only."""
    from citibike_deep_dive_spark.sources.zips import group_by_header, read_staged_csvs

    files = {"a1": "x,y\n1,2\n", "b1": "y,x\n3,4\n", "empty": "", "a2": "x,y\n5,6\n"}
    for name, text in files.items():
        (tmp_path / f"{name}.csv").write_text(text)
    paths = [str(tmp_path / f"{name}.csv") for name in files]
    assert group_by_header(paths) == [[paths[0], paths[3]], [paths[1]]]
    with pytest.raises(ValueError, match="one header"):
        read_staged_csvs(None, paths[:2])
