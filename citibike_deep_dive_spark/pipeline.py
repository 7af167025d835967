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
  jobs side by side; each thread plans its table's delta while the cache
  fills and reads its old table once the fill is done; the state is saved
  only once all four succeeded;
- each rewrite reads the cached trips and its old table through
  ``coalesce(1)``, so it runs as one job of one task with no shuffle: a
  single partition satisfies every distribution the aggregates, the
  year window and the merges require. That is safe because the tables
  and the aggregated rows are driver-sized (above), and a monthly or
  yearly archive holds one year, so the year window already ran in one
  partition. The cache fill still reads and normalizes the CSVs in
  parallel; the operators keep their distributed plans;
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
from concurrent.futures import Future, ThreadPoolExecutor
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


@dataclass
class _Staged:
    """An archive extracted into its own staging subdirectory, with its
    members read and normalized per header, unioned and cached."""

    stage: tempfile.TemporaryDirectory
    trips: DataFrame

    def fill(self) -> None:
        """Fill the cache: one ``noop`` write job over the CSV members."""
        self.trips.write.format("noop").mode("overwrite").save()

    def release(self) -> None:
        """Drop the cache and remove the staged CSVs."""
        self.trips.unpersist()
        self.stage.cleanup()


def _stage(
    spark: SparkSession, cand: CandidateFile, staging_dir: str, fill: bool = False
) -> _Staged:
    """Stage ``cand``, and with ``fill`` fill its cache too; if either
    fails, nothing is left staged or cached."""
    stage = tempfile.TemporaryDirectory(
        prefix=os.path.basename(cand.name) + ".", dir=staging_dir
    )
    trips = None
    try:
        groups = group_by_header(extract_to_staging(cand.name, stage.name))
        if not groups:
            raise ValueError(f"{cand.name} holds no CSV member with a header")
        trips = functools.reduce(
            DataFrame.unionByName,
            [
                normalize_trips(read_staged_csvs(spark, paths), file_year=str(cand.year))
                for paths in groups
            ],
        ).cache()
        staged = _Staged(stage, trips)
        if fill:
            staged.fill()
        return staged
    except BaseException:
        if trips is not None:
            trips.unpersist()
        stage.cleanup()
        raise


def process_archive(
    spark: SparkSession,
    cand: CandidateFile,
    staging_dir: str,
    warehouse_dir: str,
    top_k: int = 30,
    geometry_provider: GeometryProvider | None = None,
    staged: _Staged | None = None,
    following: CandidateFile | None = None,
) -> _Staged | None:
    """Ingest one archive and merge it into all derived tables (the body
    of the reference's per-file loop, main.py:62-76).

    The archive is extracted into its own staging subdirectory, removed
    at the end. Members are read and normalized per header, and the union
    is cached by one ``noop`` write job. Each table's chain runs in its own
    thread, over a single partition: it plans the delta while that job
    runs, then reads the old table, merges and writes. Every thread
    inherits the caller's local properties (job group, scheduler pool).
    The first failure, of the fill or of a rewrite, is re-raised once all
    threads have finished.

    ``staged`` is this archive as an earlier call returned it, staged with
    its cache filled. Given ``following``, the next archive, the call
    stages it and fills its cache once this archive's cache is filled, so
    that fill runs beside this archive's rewrites, and returns it; the
    caller passes it back with that archive or releases it. If staging it
    fails, the call returns None, and that archive is staged again, and
    fails, in its own call."""
    prefilled = staged is not None
    if staged is None:
        staged = _stage(spark, cand, staging_dir)
    one = staged.trips.coalesce(1)
    # what each table merges with its old rows: the trips themselves,
    # or an aggregate of them that is planned while the cache fills
    deltas: dict[str, Callable[[], DataFrame]] = {
        "linegraph": lambda: one,
        "heatmap": lambda: one,
        "dock": lambda: dock_aggregate(one),
        "trips": lambda: enrich_routes(
            reduce_to_identity(top_trips(trip_aggregate(one), k=top_k)),
            geometry_provider,
        ),
    }
    merges: dict[str, Callable[[DataFrame | None, DataFrame], DataFrame]] = {
        "linegraph": linegraph_update,
        "heatmap": heatmap_update,
        "dock": dock_merge,
        "trips": tripsmap_update,
    }

    def fill_cache() -> None:
        if not prefilled:
            staged.fill()

    def rewrite(name: str) -> None:
        delta = deltas[name]()
        fill.result()
        old = read_table(spark, warehouse_dir, name)
        old = None if old is None else old.coalesce(1)
        write_table(merges[name](old, delta), warehouse_dir, name)

    def stage_following() -> _Staged:
        fill.result()
        return _stage(spark, following, staging_dir, fill=True)

    ahead: Future | None = None
    try:
        with ThreadPoolExecutor(max_workers=2 + len(DERIVED_TABLES)) as pool:

            def submit(fn: Callable, *args) -> Future:
                # wrap per thread: each gets its own copy of the properties
                return pool.submit(inheritable_thread_target(spark)(fn), *args)

            fill = submit(fill_cache)
            if following is not None:
                ahead = submit(stage_following)
            futures = [submit(rewrite, name) for name in DERIVED_TABLES]
            for f in [fill, *futures]:
                f.result()
    except BaseException:
        if ahead is not None and ahead.exception() is None:
            ahead.result().release()
        raise
    finally:
        staged.release()
    return None if ahead is None or ahead.exception() else ahead.result()


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
    order, saving the state after each. Each archive is staged, and its
    cache filled, while the one before it rewrites the tables. ``fetch``
    maps the gated work list to local archives (remote mode downloads
    them); by default the candidates are local files already."""
    os.makedirs(warehouse_dir, exist_ok=True)
    state_path = state_path or os.path.join(warehouse_dir, "_state")
    staging_dir = staging_dir or os.path.join(warehouse_dir, "_staging")
    os.makedirs(staging_dir, exist_ok=True)

    state = load_state(state_path)
    todo = new_files(candidates, state)
    archives = fetch(todo) if fetch else todo
    staged = None
    try:
        for i, cand in enumerate(archives):
            current, staged = staged, None
            staged = process_archive(
                spark,
                cand,
                staging_dir,
                warehouse_dir,
                top_k=top_k,
                geometry_provider=geometry_provider,
                staged=current,
                following=archives[i + 1] if i + 1 < len(archives) else None,
            )
            # advance + persist state after EVERY file (main.py:64-76 ordering)
            # so a crash mid-run never reprocesses completed archives
            state = advance_state(state, cand)
            save_state(state, state_path)
    finally:
        if staged is not None:
            staged.release()
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
