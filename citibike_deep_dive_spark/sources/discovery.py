"""File discovery + filename parsing (S1/S2, P10, F8, O5).

Reference: citibike_data_process/data_processing/ingestion/ingestion.py:37-90
(S3 XML listing + local dir scan), shared_util/parser.py:4-43 (regex
parsers). Work-list construction is inherently driver-side — a few
thousand file names — so it stays plain Python here too; everything after
(extraction, parsing, aggregation) is cluster-side.

Reference bugs fixed, not replicated (SURVEY.md §7):
- create_table_name crashed with AttributeError on non-matching names
  (:5-6); here parse_file_name returns None.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

FILE_RE = re.compile(r"^(\d{4})(\d{2})?-citibike-tripdata(\.csv)?\.zip$")
MIN_YEAR = 2013


@dataclass(frozen=True)
class CandidateFile:
    """A discovered trip-data archive with parsed (year, month).

    month is None for yearly archives (the reference's complete=true
    granularity, update_status_data.py:30-41).
    """

    name: str
    year: int
    month: int | None

    @property
    def sort_key(self) -> int:
        """O5 chronological ordering: year*100 + month (missing month → 0,
        matching ingestion.py:105-109)."""
        return self.year * 100 + (self.month or 0)


def parse_file_name(name: str) -> tuple[int, int | None] | None:
    """F8: ``YYYY[MM]-citibike-tripdata[.csv].zip`` → (year, month)."""
    m = FILE_RE.match(os.path.basename(name))
    if not m:
        return None
    year = int(m.group(1))
    month = int(m.group(2)) if m.group(2) else None
    return year, month


def is_candidate(name: str) -> bool:
    """P10 listing filters: tripdata zips only, no Jersey City ('JC-'),
    no html, year >= 2013 (ingestion.py:71-76)."""
    base = os.path.basename(name)
    if "JC-" in base or base.endswith(".html"):
        return False
    parsed = parse_file_name(base)
    return parsed is not None and parsed[0] >= MIN_YEAR


def discover_local(directory: str) -> list[CandidateFile]:
    """S2: local directory scan, filtered + chronologically sorted."""
    out = []
    for name in os.listdir(directory):
        if name.endswith(".zip") and is_candidate(name):
            year, month = parse_file_name(name)  # type: ignore[misc]
            out.append(CandidateFile(os.path.join(directory, name), year, month))
    return sorted(out, key=lambda f: f.sort_key)


def discover_listing(keys: list[str]) -> list[CandidateFile]:
    """S1: filter an S3 bucket-listing key list (already fetched
    driver-side, e.g. boto3 list_objects_v2 pages) into the work list."""
    out = []
    for key in keys:
        if is_candidate(key):
            year, month = parse_file_name(key)  # type: ignore[misc]
            out.append(CandidateFile(key, year, month))
    return sorted(out, key=lambda f: f.sort_key)
