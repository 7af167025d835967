"""Trip normalization: raw era-variant CSV frame → canonical clean trips.

One pure ``DataFrame -> DataFrame`` pipeline fusing the reference's two
ingestion stages (SURVEY.md §1.3, §2.2):

1. header/schema normalization — clean_up.py:44-74 (P1 rename, P2 null-pad,
   P3 project+cast),
2. load-time filters + repair — db_importing.py:42-89 (P6 predicates on the
   columns as loaded, then P4 bbox swap, F2/F3 user_type CASE, P5 year/month).

Everything is native Column expressions: Catalyst pushes the P6 filters into
the scan and the whole pipeline stays inside WholeStageCodegen — no Python
row path, so it scales to the 100 TB fact table unchanged.

The Column lists do not depend on the archive's rows, only on its header
and ``file_year``, so each is built once per process by a ``functools.cache``
builder keyed on exactly those inputs and applied per archive.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import (
    CANONICAL_COLUMNS,
    CLEAN_DICT,
    MONTH_ABBREV,
    NYC_LAT_MAX,
    NYC_LAT_MIN,
    NYC_LON_MAX,
    NYC_LON_MIN,
    STATION_BLACKLIST,
    TRIP_SCHEMA,
    TS_FORMATS,
    USER_TYPE_MAP,
)


def _clean_header(name: str) -> str:
    """whitespace→_ then lowercase then rename-map (clean_up.py:60-61,71-74)."""
    key = re.sub(r"\s", "_", name).lower()
    return CLEAN_DICT.get(key, key)


def normalize_headers(df: DataFrame) -> DataFrame:
    """P1: era-variant headers → canonical names."""
    return df.toDF(*[_clean_header(c) for c in df.columns])


def _parse_ts(col: Column) -> Column:
    """Multi-format timestamp parse (clean_up.py:47-50).

    A failed ``try_to_timestamp`` attempt is ~10× the cost of a successful
    one (exception-driven), so dispatch on a cheap structural predicate —
    era formats use '/' dates, ISO uses '-' — and only try the formats
    that can match. Same semantics as coalescing over all formats because
    the format families are mutually exclusive on the separator.
    """
    us = F.coalesce(
        *[F.try_to_timestamp(col, F.lit(f)) for f in TS_FORMATS if "/" in f]
    )
    iso = F.coalesce(
        *[F.try_to_timestamp(col, F.lit(f)) for f in TS_FORMATS if "/" not in f]
    )
    return F.when(col.contains("/"), us).otherwise(iso)


@functools.cache
def _conform_columns(
    columns: tuple[str, ...], string_cols: frozenset[str]
) -> tuple[Column, ...]:
    cols = []
    for field in TRIP_SCHEMA.fields:
        if field.name not in columns:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        elif field.dataType.typeName() == "timestamp" and field.name in string_cols:
            cols.append(_parse_ts(F.col(field.name)).alias(field.name))
        else:
            cols.append(
                F.col(field.name).try_cast(field.dataType).alias(field.name)
            )
    return tuple(cols)


def conform_schema(df: DataFrame) -> DataFrame:
    """P2+P3: null-pad missing canonical columns, project, cast to TRIP_SCHEMA.

    Casts are ``try_cast``: under Spark 4's default ANSI mode a plain
    cast ABORTS THE JOB on the first malformed value — at 100 TB one
    garbage CSV cell must quarantine one row (NULL → dropped by the P6
    gate, pinned in tests/test_normalize.py), never kill the ingest."""
    dtypes = df.dtypes
    return df.select(
        *_conform_columns(
            tuple(c for c, _ in dtypes),
            frozenset(c for c, t in dtypes if t == "string"),
        )
    )


def _in_bbox(lat: Column, lon: Column) -> Column:
    """NYC bounding-box membership (db_importing.py:49-50)."""
    return lat.between(NYC_LAT_MIN, NYC_LAT_MAX) & lon.between(NYC_LON_MIN, NYC_LON_MAX)


@functools.cache
def _repair_columns(side: str) -> dict[str, Column]:
    lat, lon = f"{side}_station_latitude", f"{side}_station_longitude"
    ok = _in_bbox(F.col(lat), F.col(lon))
    return {
        lat: F.when(ok, F.col(lat)).otherwise(F.col(lon)),
        lon: F.when(ok, F.col(lon)).otherwise(F.col(lat)),
    }


def repair_coordinates(df: DataFrame) -> DataFrame:
    """P4: conditional lat/lon un-swap (db_importing.py:45-71).

    If (lat, lon) is already inside the NYC bbox keep it, else swap the
    pair — this auto-repairs the deliberate CLEAN_DICT swap for modern-era
    files regardless of source-era column naming.
    """
    out = df
    for side in ("start", "end"):
        out = out.withColumns(_repair_columns(side))
    return out


@functools.cache
def _user_type_column() -> Column:
    col = F.lower(F.col("user_type"))
    expr = col
    for src, dst in USER_TYPE_MAP.items():
        expr = F.when(col == src, dst).otherwise(expr)
    return expr


def normalize_user_type(df: DataFrame) -> DataFrame:
    """F2+F3: lower() then member→subscriber / casual→customer CASE
    (db_importing.py:11-14,25-28,72)."""
    return df.withColumn("user_type", _user_type_column())


def month_abbrev(ts: Column) -> Column:
    """strftime('%b') parity, locale-proof: literal month-name lookup
    (SURVEY.md §4 determinism note) instead of date_format(ts,'MMM')."""
    return F.element_at(F.array(*[F.lit(m) for m in MONTH_ABBREV]), F.month(ts))


@functools.cache
def _partition_columns() -> dict[str, Column]:
    return {
        "year": F.date_format("start_time", "yyyy"),
        "month": month_abbrev(F.col("start_time")),
    }


def add_partition_columns(df: DataFrame) -> DataFrame:
    """P5: derived string year + %b month (db_importing.py:74-75,106-108)."""
    return df.withColumns(_partition_columns())


@functools.cache
def _filter_condition(file_year: str) -> Column:
    return (
        (F.col("start_station_name") != "")
        & (F.col("start_station_id") != "")
        & (F.col("start_station_latitude") != 0)
        & (F.col("end_station_latitude") != 0)
        & ~F.col("start_station_name").isin(STATION_BLACKLIST)
        & ~F.col("end_station_name").isin(STATION_BLACKLIST)
        & F.col("start_station_latitude").isNotNull()
        & F.col("start_station_longitude").isNotNull()
        & F.col("end_station_latitude").isNotNull()
        & F.col("end_station_longitude").isNotNull()
        & (F.date_format("start_time", "yyyy") == file_year)
    )


def clean_filters(df: DataFrame, file_year: str) -> DataFrame:
    """P6: multi-predicate load filter (db_importing.py:76-88), verbatim.

    - non-empty START station name/id (the reference does not require the
      end-side name/id to be non-empty), non-null coordinates,
    - non-zero latitudes, read before the P4 swap as the reference's WHERE
      reads ``temp_table``: a 0 longitude is kept and swapped into the
      latitude (a reference quirk),
    - neither station name in the depot/test blacklist,
    - rows whose start year matches the file's year.
    """
    return df.filter(_filter_condition(file_year))


def normalize_trips(df: DataFrame, file_year: str) -> DataFrame:
    """Full ingestion transform: raw era-variant frame → clean canonical
    trips with derived (year, month) partition columns.

    Equivalent to the reference's clean_up_data() + the ImportedTable
    INSERT…SELECT (clean_up.py:44-74 + db_importing.py:31-96) as one lazy
    plan. Write with ``.partitionBy("year", "month")`` — partition pruning
    replaces the reference's (year, month) secondary index
    (db_importing.py:93-96).
    """
    out = normalize_headers(df)
    out = conform_schema(out)
    out = clean_filters(out, file_year=file_year)
    out = repair_coordinates(out)
    out = normalize_user_type(out)
    return add_partition_columns(out)
