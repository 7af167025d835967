"""Per-archive fixed cost paid once per session: generated code stays in
Spark's codegen cache, the operators' Column lists are built once and
reused, and tables are read with the schema from their Parquet footer."""

from __future__ import annotations

import os
import zipfile

import pytest

from citibike_deep_dive_spark import normalize
from citibike_deep_dive_spark.normalize import normalize_trips
from citibike_deep_dive_spark.pipeline import DERIVED_TABLES, read_table, run_pipeline
from citibike_deep_dive_spark.sources.zips import read_staged_csvs

from tests.trips_fixture import legacy_era_pdf, modern_era_pdf

pytestmark = pytest.mark.pipeline


def _write_month(inbox, month: int) -> None:
    name = f"2023{month:02d}-citibike-tripdata.csv"
    with zipfile.ZipFile(inbox / f"{name}.zip", "w") as z:
        z.writestr(name, modern_era_pdf().to_csv(index=False))


def _compilations(spark) -> int:
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def test_steady_state_archive_compiles_no_code(spark, tmp_path):
    """Once every plan shape of a same-era refresh has run, another archive
    compiles no class: the codegen cache holds the pipeline's working set.

    Three archives warm up: the first writes the tables, the second merges
    into them, and the trips merge of the third is the first to read a
    trips table that a merge wrote, whose columns come in merge order."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "warehouse")
    for month in (7, 8, 9):
        _write_month(inbox, month)
    assert len(run_pipeline(spark, str(inbox), wh, top_k=5).processed) == 3

    _write_month(inbox, 10)
    before = _compilations(spark)
    assert len(run_pipeline(spark, str(inbox), wh, top_k=5).processed) == 1
    assert _compilations(spark) - before == 0


def _raw(spark, tmp_path, name, pdf):
    path = tmp_path / f"{name}.csv"
    pdf.to_csv(path, index=False)
    return read_staged_csvs(spark, [str(path)])


def _rows(df):
    return df.schema, sorted(repr(r) for r in df.collect())


def _clear_builders():
    for fn in vars(normalize).values():
        if hasattr(fn, "cache_clear"):
            fn.cache_clear()


def test_normalize_builders_are_keyed_on_header_and_year(spark, tmp_path):
    """Archives of both eras and several years through one process give
    the same trips as a build with empty caches, for every (era, year)."""
    padded = modern_era_pdf().drop(columns=["rideable_type", "end_station_id"])
    inputs = [
        ("modern", modern_era_pdf(), "2023"),
        ("legacy", legacy_era_pdf(), "2019"),
        ("modern", modern_era_pdf(), "2022"),
        ("padded", padded, "2023"),
        ("modern", modern_era_pdf(), "2023"),
    ]
    raws = {name: _raw(spark, tmp_path, name, pdf) for name, pdf, _ in inputs}
    cached = [_rows(normalize_trips(raws[name], file_year=y)) for name, _, y in inputs]
    assert normalize._conform_columns.cache_info().hits >= 2  # modern reused

    for (name, _, year), got in zip(inputs, cached):
        _clear_builders()
        assert got == _rows(normalize_trips(raws[name], file_year=year)), (name, year)

    assert len(cached[2][1]) == 1  # the modern frame's one 2022 trip, not its 2023 ones
    out = normalize_trips(raws["padded"], file_year="2023")
    assert out.filter("rideable_type IS NOT NULL OR end_station_id IS NOT NULL").count() == 0
    assert out.count() == len(cached[0][1])


@pytest.fixture()
def warehouse(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    _write_month(inbox, 7)
    with zipfile.ZipFile(inbox / "2019-citibike-tripdata.zip", "w") as z:
        z.writestr("2019-citibike-tripdata.csv", legacy_era_pdf().to_csv(index=False))
    wh = str(tmp_path / "warehouse")
    assert len(run_pipeline(spark, str(inbox), wh, top_k=5).processed) == 2
    return wh


def test_footer_schema_equals_inferred_schema(spark, warehouse):
    """The footer schema is the schema Spark infers for every table. The
    tables are written by ``write_table``'s plain Parquet writer, the same
    writer earlier versions used, so their warehouses read the same way."""
    for name in DERIVED_TABLES:
        path = os.path.join(warehouse, name)
        assert read_table(spark, warehouse, name).schema == spark.read.parquet(path).schema
        assert sorted(read_table(spark, warehouse, name).toJSON().collect()) == sorted(
            spark.read.parquet(path).toJSON().collect()
        )


def test_read_table_launches_no_job(spark, warehouse):
    sc = spark.sparkContext
    sc.setJobGroup("read-table", "read_table launches no job")
    try:
        for name in DERIVED_TABLES:
            read_table(spark, warehouse, name)
        assert list(sc.statusTracker().getJobIdsForGroup("read-table")) == []
    finally:
        sc._jsc.clearJobGroup()
