"""SparkSession factory.

Mirrors the reference's engine bootstrap (``db_setup.py`` — PRAGMA threads /
memory_limit / enable_optimizer; reference:
citibike_data_process/data_processing/setup/db_setup.py:12-21) as Spark
session configuration.

Scale notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace the reference's hand-rolled
  per-year chunking (citibike_data_process/table_updating/update_dockmap.py:45-51).
- Timezone pinned UTC (ANSI stays at the Spark 4 default ON — strict on
  query paths; the ingest edge uses try_cast/try_to_timestamp so dirty
  rows quarantine instead of aborting) so timestamp semantics match the
  reference's naive ``pa.timestamp("ns")`` columns
  (citibike_data_process/data_processing/setup/clean_up.py:21-22) and the
  DuckDB oracle.
- ``spark.sql.session.timeZone=UTC`` + Arrow execution for the
  catalog's few pandas-UDF edges.

Per-archive fixed cost: a refresh repeats the same plan shapes for every
archive, so generated code and built expressions are kept for the life of
the process instead of being rebuilt per archive.
- ``spark.sql.codegen.cache.maxEntries=1000``: Spark keeps compiled
  whole-stage classes in an LRU of 100 by default. The pipeline's working
  set is about 150 classes and the query catalog's about 116, so the
  default evicts classes every archive and Janino recompiles about 100 of
  them (0.7-0.8 s) per refresh archive. With 1000 entries a steady-state
  pass compiles none. The conf is static: it applies to every session ``get_spark``
  builds.
- ``spark.sql.codegen.hugeMethodLimit=8000``: HotSpot does not JIT-compile
  a method whose bytecode exceeds 8000 bytes (``-XX:HugeMethodLimit``), so
  such a method runs interpreted for the life of the process. The
  normalize stage's largest generated method measured 8008 bytes for the
  legacy era and 8058 bytes for the modern one, and ran interpreted. With
  the limit at HotSpot's value, whole-stage codegen falls back for any
  subtree whose method the JIT would refuse (the value Spark's docs
  recommend on HotSpot). Normalizing 200k legacy plus 200k modern trips
  took 5.5-5.9 s with the method interpreted and 1.9-2.5 s with the
  fallback, on 4 vCPUs.
- ``spark.driver.defaultJavaOptions=-XX:+UseParallelGC``: the driver JVM
  (in local mode it runs the tasks too) collects with the throughput
  collector instead of G1. The work is short batches of allocation-heavy
  tasks, where G1's pauses, write barriers and concurrent marking cost
  more than they save; pause times do not matter here. After the
  benchmark's warm-up, the first 80k-trip backfill and three 5k-trip
  refreshes took 5.4-5.9 s with it and 5.9-7.6 s with G1 (three runs
  each, 4 vCPUs), and the spread between runs narrowed. It is the
  ``default`` option string, so ``spark.driver.extraJavaOptions`` still
  adds to it; it takes effect only when this call starts the JVM.
- The operators' Column lists are built once per process by small
  ``functools.cache`` builders (``normalize``, ``operators/dockmap``,
  ``operators/tripsmap``, ``operators/upsert``), keyed on everything the
  expressions depend on: the CSV header and ``file_year`` for normalize,
  the table's columns, keys and counters for the upsert, nothing for dock
  and trips. They hold only unresolved ``F.col`` expressions, never a
  DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "citibike-deep-dive-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    In production this is a cluster session; locally it defaults to
    ``local[$SPARK_GRAFT_CPUS]``, with as many shuffle partitions unless
    ``shuffle_partitions`` is given.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # AQE: runtime partition coalescing + skew handling (replaces the
        # reference's manual per-year chunking and its (year,month) index).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle. The
        # events TIMESTAMP_NANOS column needs no conf: Spark 4.1+ reads it
        # natively as TIMESTAMP_NTZ (naive wall clock, same as DuckDB),
        # and plans use functions/timeutil.ts_micros for epoch arithmetic
        # so they are immune to both the reader flavor and this timezone.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the catalog's pandas-UDF edges (multimodal) and for
        # toPandas; the pipeline itself runs no pandas UDF.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Hold every generated class of the pipeline (~150 measured) and the
        # query catalog (~116) at once; the default of 100 recompiles ~100
        # classes per refresh archive and ~470 per benchmark pass.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # HotSpot's HugeMethodLimit: a larger generated method is never
        # JIT-compiled (normalize's measured 8008 legacy / 8058 modern bytes),
        # so fall back from whole-stage codegen instead of running it interpreted.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # The throughput collector: short allocation-heavy batches, where
        # G1's barriers and concurrent marking cost more than its short
        # pauses save.
        .config("spark.driver.defaultJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
