"""Zip-archive ingestion (S4/S5/S6).

Reference: citibike_data_process/data_processing/ingestion/zip_processing.py
:28-84 — open archive, skip ``__MACOSX``/dot members, read ``.csv``
members, recurse ONE level into nested ``.zip`` members; then Arrow CSV
parse + concat (:10-25).

Spark-first form: ``extract_to_staging`` streams each member on the
driver into a staging dir, then one ``spark.read.csv`` per distinct header
(``group_by_header``) runs, with the header, read by Python's ``csv``
module, as the schema, so no inference job runs — the cluster parses CSVs
in parallel with full pushdown. Right for the reference's actual scale
(one archive at a time, each holding a handful of CSVs).
"""

from __future__ import annotations

import csv
import os
import shutil
import tempfile
import zipfile
from collections.abc import Iterator
from typing import IO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _wanted(name: str) -> bool:
    base = os.path.basename(name)
    return (
        not name.startswith("__MACOSX")
        and not base.startswith(".")
        and base.lower().endswith(".csv")
    )


def iter_csv_members(
    archive: str | IO[bytes], spool_dir: str | None = None, _depth: int = 0
) -> Iterator[tuple[str, IO[bytes]]]:
    """Yield (member_name, open member) for each CSV member of ``archive``
    (a path or a seekable binary file), recursing one level into nested
    zips (zip_processing.py:48-84). A member stays open until the next one
    is yielded. A nested zip is spooled to a file in ``spool_dir`` and
    opened from there, so no member is ever held in memory whole."""
    with zipfile.ZipFile(archive) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            name = info.filename
            if name.startswith("__MACOSX") or os.path.basename(name).startswith("."):
                continue
            if _wanted(name):
                with zf.open(info) as member:
                    yield name, member
            elif name.lower().endswith(".zip") and _depth == 0:
                with tempfile.TemporaryFile(dir=spool_dir) as spool:
                    with zf.open(info) as member:
                        shutil.copyfileobj(member, spool)
                    spool.seek(0)
                    yield from iter_csv_members(spool, spool_dir, _depth=1)


def extract_to_staging(zip_path: str, staging_dir: str) -> list[str]:
    """S4: driver-side extraction of one archive into a staging
    directory; returns written CSV paths for ``spark.read.csv``. Members
    are numbered in archive order, since members in different folders
    (or nested zips) may share a basename. Each member is copied in
    chunks, so the driver's memory does not grow with the archive."""
    os.makedirs(staging_dir, exist_ok=True)
    out = []
    for i, (name, member) in enumerate(iter_csv_members(zip_path, staging_dir)):
        dest = os.path.join(staging_dir, f"{i:04d}-{os.path.basename(name)}")
        with open(dest, "wb") as fh:
            shutil.copyfileobj(member, fh)
        out.append(dest)
    return out


def csv_header(path: str) -> tuple[str, ...]:
    """The column names ``spark.read.csv(header=True)`` gives this file,
    read from its first line with Python's ``csv`` module: an empty name
    becomes ``_c<i>``, and a name that repeats (case-insensitively, Spark's
    default) gets its index appended. An empty file has no columns."""
    with open(path, newline="", encoding="utf-8-sig") as fh:
        row = next(csv.reader(fh), [])
    folded = [name.lower() for name in row if name]
    repeated = {name for name in folded if folded.count(name) > 1}
    return tuple(
        f"_c{i}" if not name else f"{name}{i}" if name.lower() in repeated else name
        for i, name in enumerate(row)
    )


def group_by_header(paths: list[str]) -> list[list[str]]:
    """Staged members grouped by header, in order of first appearance. A
    yearly archive that spans the February 2021 format change holds
    members of both eras; each group is read with its own header (the
    reference parses every member on its own, SURVEY.md S5/S6). Empty
    members hold no rows and are left out."""
    groups: dict[tuple[str, ...], list[str]] = {}
    for path in paths:
        header = csv_header(path)
        if header:
            groups.setdefault(header, []).append(path)
    return list(groups.values())


def read_staged_csvs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S5/S6: one multi-path CSV read of members that share one header.
    The header, read in Python, is passed as an all-string schema, so
    Spark launches no inference job; schema conformance happens downstream
    in normalize_trips (timestamps parsed there via try_to_timestamp)."""
    headers = {csv_header(p) for p in paths}
    if len(headers) != 1:
        raise ValueError(f"expected members with one header, got {len(headers)} headers")
    schema = T.StructType([T.StructField(c, T.StringType()) for c in headers.pop()])
    return spark.read.csv(paths, header=True, schema=schema)
