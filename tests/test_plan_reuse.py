"""Per-archive fixed cost paid once per session, or not at all: generated
code stays in Spark's codegen cache and never runs interpreted, the
operators' Column lists are built once and reused, CSVs are read with the
header as their schema, the cache fills in one job, and tables are written
from Arrow and read with the schema from their Parquet footer."""

from __future__ import annotations

import json
import os
import shutil
import zipfile

import pyarrow.parquet as pq
import pytest

from citibike_deep_dive_spark import normalize, pipeline
from citibike_deep_dive_spark.normalize import normalize_trips
from citibike_deep_dive_spark.pipeline import (
    DERIVED_TABLES,
    SPARK_SCHEMA_KEY,
    SPARK_VERSION_KEY,
    read_table,
    run_pipeline,
)
from citibike_deep_dive_spark.sources.zips import read_staged_csvs

from tests.trips_fixture import legacy_era_pdf, modern_era_pdf

pytestmark = pytest.mark.pipeline


def _write_month(inbox, month: int, pdf=None) -> None:
    name = f"2023{month:02d}-citibike-tripdata.csv"
    with zipfile.ZipFile(inbox / f"{name}.zip", "w") as z:
        z.writestr(name, (modern_era_pdf() if pdf is None else pdf).to_csv(index=False))


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
    """The footer schema is the schema Spark infers for every table, and
    both reads give the same rows."""
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


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_cache_fill_is_one_job(spark, tmp_path, monkeypatch):
    """Before its four rewrites start, a refresh archive has run one job,
    the ``noop`` write that fills the cache (no CSV schema inference, no
    multi-job ``count``); the whole archive runs 5, one more per table.

    Each rewrite thread records the group's job count when it first reads
    its table, before it launches a job itself, so the smallest record
    is the count before any rewrite job."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "warehouse")
    _write_month(inbox, 7)
    assert len(run_pipeline(spark, str(inbox), wh, top_k=5).processed) == 1

    _write_month(inbox, 8)
    at_read = []
    read = pipeline.read_table

    def recording(spark_, warehouse_dir, name):
        at_read.append(_jobs(spark, "fill"))
        return read(spark_, warehouse_dir, name)

    monkeypatch.setattr(pipeline, "read_table", recording)
    spark.sparkContext.setJobGroup("fill", "cache fill test")
    try:
        assert len(run_pipeline(spark, str(inbox), wh, top_k=5).processed) == 1
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    assert min(at_read) == 1
    assert _jobs(spark, "fill") == 5


def test_no_rewrite_shuffles(spark, tmp_path, monkeypatch):
    """Every table rewrite, the first archive's and a merge's, reads the
    cached trips and its old table as one partition, so its executed plan
    holds no exchange."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "warehouse")
    plans = []
    write = pipeline.write_table

    def recording(df, warehouse_dir, name):
        write(df, warehouse_dir, name)
        plans.append((name, df._jdf.queryExecution().executedPlan().toString()))

    monkeypatch.setattr(pipeline, "write_table", recording)
    for month in (7, 8):
        _write_month(inbox, month)
        assert len(run_pipeline(spark, str(inbox), wh, top_k=5).processed) == 1
    assert sorted(name for name, _ in plans) == sorted(DERIVED_TABLES * 2)
    for name, plan in plans:
        assert "Exchange" not in plan, (name, plan)


def test_cache_fill_reads_members_in_parallel(spark, tmp_path):
    """The job that fills the cache parses an archive's two members in
    more than one task: the rewrites' single partition never reaches the
    per-row parse and normalize."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    with zipfile.ZipFile(inbox / "2023-citibike-tripdata.zip", "w") as z:
        for month in (7, 8):
            csv = modern_era_pdf().to_csv(index=False)
            z.writestr(f"2023{month:02d}-citibike-tripdata.csv", csv)
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("parallel-fill", "cache fill parallelism test")
    try:
        assert len(run_pipeline(spark, str(inbox), str(tmp_path / "wh"), top_k=5).processed) == 1
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    fill = tracker.getJobInfo(min(tracker.getJobIdsForGroup("parallel-fill")))
    assert sum(tracker.getStageInfo(s).numTasks for s in fill.stageIds) > 1


# HotSpot never JIT-compiles a method of more bytecode (-XX:HugeMethodLimit).
HOTSPOT_HUGE_METHOD_LIMIT = 8000


def _largest_methods(spark, df) -> list[int]:
    """The largest generated method of each whole-stage-codegen subtree of
    ``df``'s executed plan, compiled as Spark compiles it."""
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    sizes, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "WholeStageCodegenExec":
            sizes.append(codegen.compile(node.doCodeGen()._2())._2().maxMethodCodeSize())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return sizes


def test_normalize_runs_no_method_the_jit_refuses(spark, tmp_path):
    """Spark runs a whole-stage-codegen subtree as generated code only if
    its largest method is within ``spark.sql.codegen.hugeMethodLimit``, and
    falls back otherwise. Under ``get_spark`` no subtree that normalizes
    either era runs a method HotSpot would leave interpreted (before the
    limit was set, normalize ran methods of 8008 and 8058 bytes)."""
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    eras = (("legacy", legacy_era_pdf(), "2019"), ("modern", modern_era_pdf(), "2023"))
    for era, pdf, year in eras:
        df = normalize_trips(_raw(spark, tmp_path, era, pdf), file_year=year)
        df.collect()
        sizes = _largest_methods(spark, df)
        assert sizes, era
        assert [s for s in sizes if HOTSPOT_HUGE_METHOD_LIMIT < s <= limit] == [], era


def test_tables_are_one_part_file_with_sparks_footer(warehouse):
    """Each table is one pyarrow-written file carrying the footer keys
    Spark's writer stores, with timestamps as INT96 like Spark's."""
    for name in DERIVED_TABLES:
        assert os.listdir(os.path.join(warehouse, name)) == ["part-00000.parquet"], name
        part = pq.ParquetFile(os.path.join(warehouse, name, "part-00000.parquet"))
        assert {SPARK_SCHEMA_KEY, SPARK_VERSION_KEY} <= set(part.metadata.metadata), name
    trips = pq.ParquetFile(os.path.join(warehouse, "trips", "part-00000.parquet")).schema
    assert trips.column(trips.names.index("trip_time")).physical_type == "INT96"


def _tables(spark, wh):
    """Every table's fields and rows, the rows as JSON with sorted keys."""
    out = {}
    for t in DERIVED_TABLES:
        df = read_table(spark, wh, t)
        rows = sorted(json.dumps(json.loads(r), sort_keys=True) for r in df.toJSON().collect())
        out[t] = (sorted(df.schema.fields, key=lambda f: f.name), rows)
    return out


def _spark_write_table(df, warehouse_dir, name):
    """``write_table`` as earlier versions had it: Spark's Parquet writer,
    here with two part files per table."""
    final = os.path.join(warehouse_dir, name)
    df.repartition(2).write.mode("overwrite").parquet(final + "__tmp")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(final + "__tmp", final)


def test_warehouse_written_by_spark_merges_the_same(spark, warehouse, tmp_path, monkeypatch):
    """A warehouse whose tables Spark's writer left in several part files
    takes the next archive exactly as one written from Arrow does."""
    inbox = tmp_path / "inbox"
    old = str(tmp_path / "spark-written")
    monkeypatch.setattr(pipeline, "write_table", _spark_write_table)
    assert len(run_pipeline(spark, str(inbox), old, top_k=5).processed) == 2
    monkeypatch.undo()
    assert any(
        len([f for f in os.listdir(os.path.join(old, t)) if f.endswith(".parquet")]) > 1
        for t in DERIVED_TABLES
    )
    _write_month(inbox, 8)
    for wh in (old, warehouse):
        assert len(run_pipeline(spark, str(inbox), wh, top_k=5).processed) == 1
    assert _tables(spark, old) == _tables(spark, warehouse)


def test_archive_with_every_row_filtered_leaves_readable_tables(spark, tmp_path):
    """A first archive whose rows are all filtered out (here: all of
    another year) writes empty tables that the next archive merges into;
    the result equals a warehouse that never saw it."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "warehouse")
    _write_month(inbox, 6, modern_era_pdf().replace({r"^2023-": "2022-"}, regex=True))
    assert len(run_pipeline(spark, str(inbox), wh, top_k=5).processed) == 1
    for name in DERIVED_TABLES:
        assert read_table(spark, wh, name).count() == 0, name

    clean_inbox = tmp_path / "clean"
    clean_inbox.mkdir()
    clean = str(tmp_path / "clean-warehouse")
    for d, w in ((inbox, wh), (clean_inbox, clean)):
        _write_month(d, 7)
        assert len(run_pipeline(spark, str(d), w, top_k=5).processed) == 1
    assert _tables(spark, wh) == _tables(spark, clean)
