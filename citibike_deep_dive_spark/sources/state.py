"""StatusData ingestion state machine (I1/I2, J7, S12).

Reference: citibike_data_process/data_processing/ingestion/new_file_check.py
+ table_updating/update_status_data.py. State rows are
(year INT, month INT|NULL, complete BOOL): one row per ingested monthly
file (year, month, complete=false) plus at most one completion row per
year (year, NULL, complete=true) once a yearly archive lands.

Gate semantics follow the reference's exact-match rule
(new_file_check.py:27-43): a candidate is covered iff
- yearly candidate: the year has a complete row,
- monthly candidate: that exact (year, month) was ingested (or the year
  is complete).
Unlike a max-month watermark, an out-of-order month (month 3 published
after month 5 was ingested) is still detected as NEW — the reference
reprocesses it and so do we (ADVICE r1: the watermark variant silently
dropped it).

This is the batch analog of Structured Streaming's file-source seen-files
log (SURVEY.md §2.10 I1). The state table is tiny (≤ years × 13 rows), so
both the diff and the persistence are driver-side: one Parquet file read
and written with pyarrow, with no Spark job.

Reference bugs fixed, not replicated (SURVEY.md §7): the walrus-shadowing
listcomp and the ``False``-instead-of-empty-list return
(new_file_check.py:15-20,45).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from .discovery import CandidateFile

# the column types Spark wrote for this table, so old warehouses still load
STATE_SCHEMA = pa.schema(
    [
        pa.field("year", pa.int32(), nullable=False),
        pa.field("month", pa.int32(), nullable=True),
        pa.field("complete", pa.bool_(), nullable=False),
    ]
)


@dataclass(frozen=True)
class YearState:
    """Ingestion state for one year: the exact set of monthly files seen,
    plus whether a yearly (complete) archive was ingested."""

    year: int
    months: frozenset[int] = field(default_factory=frozenset)
    complete: bool = False


def load_state(path: str) -> dict[int, YearState]:
    """Empty dict if the table doesn't exist yet; an unreadable table
    raises, because treating it as empty would re-ingest every archive.
    Files starting with ``_`` or ``.`` (Spark's ``_SUCCESS`` and CRCs)
    are skipped."""
    if not os.path.exists(path):
        return {}
    rows = pq.read_table(path, columns=STATE_SCHEMA.names).to_pylist()
    state: dict[int, YearState] = {}
    for r in rows:
        st = state.get(r["year"], YearState(r["year"]))
        if r["month"] is None:
            st = YearState(st.year, st.months, True)
        else:
            st = YearState(st.year, st.months | {r["month"]}, st.complete)
        state[r["year"]] = st
    return state


def save_state(state: dict[int, YearState], path: str) -> None:
    """Write the state to a temp dir and swap it into place."""
    rows = []
    for s in state.values():
        rows.extend(
            {"year": s.year, "month": m, "complete": False} for m in sorted(s.months)
        )
        if s.complete:
            rows.append({"year": s.year, "month": None, "complete": True})
    tmp = path + "__tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=STATE_SCHEMA),
        os.path.join(tmp, "part-00000.parquet"),
    )
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def new_files(
    candidates: list[CandidateFile], state: dict[int, YearState]
) -> list[CandidateFile]:
    """I1 diff: candidates not yet covered by state, chronological order.

    Exact-match gate (new_file_check.py:27-43): a monthly candidate is
    covered only by its own (year, month) row or a complete year; a yearly
    candidate only by a complete row. Returns an empty list (never
    ``False``) when everything is covered.
    """
    out = []
    for cand in candidates:
        st = state.get(cand.year)
        if st is None:
            out.append(cand)
        elif st.complete:
            continue  # year fully ingested (yearly archive seen)
        elif cand.month is None or cand.month not in st.months:
            out.append(cand)
    return sorted(out, key=lambda f: f.sort_key)


def advance_state(
    state: dict[int, YearState], processed: CandidateFile
) -> dict[int, YearState]:
    """I2 upsert: yearly file → complete=true; monthly file → add the exact
    month to the year's ingested set (update_status_data.py:26-50, with the
    month-set refinement the reference's one-row UPDATE loses)."""
    new = dict(state)
    prev = state.get(processed.year, YearState(processed.year))
    if processed.month is None:
        new[processed.year] = YearState(processed.year, prev.months, True)
    else:
        new[processed.year] = YearState(
            processed.year, prev.months | {processed.month}, prev.complete
        )
    return new
