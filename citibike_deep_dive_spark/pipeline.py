"""The end-to-end incremental pipeline — the reference's main loop
(citibike_data_process/main.py:23-83) as one idempotent function.

Per new archive (state-gated, chronological):
  discover → extract → read CSVs → normalize_trips (cached once) →
  rewrite the derived tables (linegraph, heatmap, dock, trips) → advance
  and save the state table —
then optionally export the warehouse as a DuckDB file (the reference's
terminal artifact) and upload it to S3.

Differences from the reference, by design (SURVEY.md §7):
- tables are Parquet dirs updated by atomic rewrite, not in-place UPDATEs;
- a merged table is collected to the Spark driver as Arrow and written as
  one ``part-00000.parquet`` by pyarrow, in Spark's layout (INT96 timestamps,
  Spark's row-schema and version footer keys), so no Spark write job or
  file commit runs. The four tables are driver-sized by construction:
  their rows are bounded by stations × months and top-k routes, not by
  trips, and the DuckDB export already loads each of them whole on the
  driver. Everything that grows with trips (the CSV scan, normalize and
  the four delta aggregations) stays on Spark;
- archives are processed one at a time, in order, and the state is saved
  after each, so the StatusData gate stays correct across partial runs;
- within an archive the four table rewrites run concurrently, one driver
  thread each (none reads another's output), so Spark schedules their
  jobs side by side; the state is saved only once all four succeeded;
- the state table is read and written on the driver with pyarrow;
- a table is read with the Spark schema stored in its Parquet footer, so
  reading it plans without a schema-inference job;
- each archive is extracted into its own staging subdirectory, which is
  removed when the archive is done, whether it succeeded or failed;
- an archive's CSV members are read and normalized per distinct header,
  then unioned by name, so a yearly archive that spans the 2021 format
  change keeps both eras' rows;
- the trips table holds one row per (year, start, end, rideable_type):
  each archive's top-k routes are reduced to that identity before the
  merge, with a deterministic choice of coordinates, and the merge
  matches a null key to a null one, so a legacy route (no rideable_type)
  merges with itself (``operators/tripsmap.py``);
- route enrichment uses the injectable geometry provider (offline
  deterministic by default — no network in the data path).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from .normalize import normalize_trips
from .operators.dockmap import dock_aggregate, dock_merge
from .operators.heatmap import heatmap_update
from .operators.linegraph import linegraph_update
from .operators.tripsmap import (
    GeometryProvider,
    enrich_routes,
    reduce_to_identity,
    top_trips,
    trip_aggregate,
    tripsmap_update,
)
from .sources.discovery import CandidateFile, discover_local
from .sources.state import advance_state, load_state, new_files, save_state
from .sources.zips import extract_to_staging, group_by_header, read_staged_csvs

DERIVED_TABLES = ("linegraph", "heatmap", "dock", "trips")

# Footer keys Spark's Parquet writer stores: the row schema and its version.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
SPARK_VERSION_KEY = b"org.apache.spark.version"


@dataclass
class PipelineResult:
    processed: list[CandidateFile]
    skipped: int


def _table_path(warehouse_dir: str, name: str) -> str:
    return os.path.join(warehouse_dir, name)


def read_table(spark: SparkSession, warehouse_dir: str, name: str) -> DataFrame | None:
    """The table, or None if it does not exist. The schema comes from one
    part file's footer, so no inference job runs."""
    path = _table_path(warehouse_dir, name)
    if not os.path.exists(path):
        return None
    part = min(f for f in os.listdir(path) if f.endswith(".parquet"))
    meta = pq.read_schema(os.path.join(path, part)).metadata
    schema = StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(path)


def write_table(df: DataFrame, warehouse_dir: str, name: str) -> None:
    """Atomic-ish rewrite: write to a temp dir, swap into place (the
    plain-Parquet stand-in for DuckDB's transactional UPDATE).

    ``df`` is collected as Arrow and written as one part file with the
    physical layout and footer keys Spark's writer gives it, so Spark and
    DuckDB read it as before."""
    final = _table_path(warehouse_dir, name)
    tmp = final + "__tmp"
    table = df.toArrow().replace_schema_metadata(
        {SPARK_SCHEMA_KEY: df.schema.json(), SPARK_VERSION_KEY: df.sparkSession.version}
    )
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(
        table,
        os.path.join(tmp, "part-00000.parquet"),
        use_deprecated_int96_timestamps=True,  # Spark's default timestamp type
    )
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def process_archive(
    spark: SparkSession,
    cand: CandidateFile,
    staging_dir: str,
    warehouse_dir: str,
    top_k: int = 30,
    geometry_provider: GeometryProvider | None = None,
) -> None:
    """Ingest one archive and merge it into all derived tables (the body
    of the reference's per-file loop, main.py:62-76).

    The archive is extracted into its own staging subdirectory, removed
    at the end. Members are read and normalized per header, and the union
    is cached by one ``noop`` write job; then each table's read → build →
    write chain runs in its own thread. Every thread inherits the caller's
    local properties (job group, scheduler pool). The first failure is
    re-raised once all four threads have finished."""
    prefix = os.path.basename(cand.name) + "."
    with tempfile.TemporaryDirectory(prefix=prefix, dir=staging_dir) as stage:
        groups = group_by_header(extract_to_staging(cand.name, stage))
        if not groups:
            raise ValueError(f"{cand.name} holds no CSV member with a header")
        trips = functools.reduce(
            DataFrame.unionByName,
            [
                normalize_trips(read_staged_csvs(spark, paths), file_year=str(cand.year))
                for paths in groups
            ],
        ).cache()
        builders: dict[str, Callable[[DataFrame | None], DataFrame]] = {
            "linegraph": lambda old: linegraph_update(old, trips),
            "heatmap": lambda old: heatmap_update(old, trips),
            "dock": lambda old: dock_merge(old, dock_aggregate(trips)),
            "trips": lambda old: tripsmap_update(
                old,
                enrich_routes(
                    reduce_to_identity(top_trips(trip_aggregate(trips), k=top_k)),
                    geometry_provider,
                ),
            ),
        }

        def rewrite(name: str) -> None:
            old = read_table(spark, warehouse_dir, name)
            write_table(builders[name](old), warehouse_dir, name)

        try:
            trips.write.format("noop").mode("overwrite").save()
            with ThreadPoolExecutor(max_workers=len(DERIVED_TABLES)) as pool:
                # wrap once per thread: each gets its own copy of the properties
                futures = [
                    pool.submit(inheritable_thread_target(spark)(rewrite), name)
                    for name in DERIVED_TABLES
                ]
                for f in futures:
                    f.result()
        finally:
            trips.unpersist()


def ingest_new(
    spark: SparkSession,
    candidates: list[CandidateFile],
    warehouse_dir: str,
    state_path: str | None = None,
    staging_dir: str | None = None,
    top_k: int = 30,
    geometry_provider: GeometryProvider | None = None,
    fetch: Callable[[list[CandidateFile]], list[CandidateFile]] | None = None,
) -> PipelineResult:
    """Gate ``candidates`` on the state table and ingest the new ones in
    order, saving the state after each. ``fetch`` maps the gated work list
    to local archives (remote mode downloads them); by default the
    candidates are local files already."""
    os.makedirs(warehouse_dir, exist_ok=True)
    state_path = state_path or os.path.join(warehouse_dir, "_state")
    staging_dir = staging_dir or os.path.join(warehouse_dir, "_staging")
    os.makedirs(staging_dir, exist_ok=True)

    state = load_state(state_path)
    todo = new_files(candidates, state)
    for cand in fetch(todo) if fetch else todo:
        process_archive(
            spark,
            cand,
            staging_dir,
            warehouse_dir,
            top_k=top_k,
            geometry_provider=geometry_provider,
        )
        # advance + persist state after EVERY file (main.py:64-76 ordering)
        # so a crash mid-run never reprocesses completed archives
        state = advance_state(state, cand)
        save_state(state, state_path)
    return PipelineResult(processed=todo, skipped=len(candidates) - len(todo))


def run_pipeline(
    spark: SparkSession,
    input_dir: str,
    warehouse_dir: str,
    state_path: str | None = None,
    staging_dir: str | None = None,
    top_k: int = 30,
    geometry_provider: GeometryProvider | None = None,
) -> PipelineResult:
    """Discover archives in ``input_dir``, ingest only the state-gated new
    ones, maintain the derived tables under ``warehouse_dir``. Idempotent:
    a second run over the same inputs processes nothing."""
    return ingest_new(
        spark,
        discover_local(input_dir),
        warehouse_dir,
        state_path,
        staging_dir,
        top_k=top_k,
        geometry_provider=geometry_provider,
    )
