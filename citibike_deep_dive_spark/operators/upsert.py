"""Merge primitives: the reference's in-place UPDATE+INSERT pairs as
single declarative join-merges.

The reference maintains derived tables with a two-statement idiom:
``UPDATE main SET cnt = main.cnt + temp.cnt FROM temp WHERE keys match``
followed by ``INSERT ... LEFT JOIN ... WHERE main.key IS NULL``
(reference: citibike_data_process/table_updating/update_heatmap.py:17-35,
update_tripsmap.py:37-55 — SURVEY.md J2/J4/I3). Spark has no in-place
update; the idiomatic rewrite is ONE full-outer join producing the new
table contents, then an atomic overwrite.

Scale notes:
- The delta side (one month of aggregates) is small → broadcast it; the
  merge then never shuffles the main table.
- With a lakehouse format (Delta/Iceberg) this same function's plan maps
  to MERGE INTO; on plain Parquet the caller rewrites the table
  (write temp dir + swap).
- The select list is built once per (columns, keys, counters,
  delta_wins) and reused; the join itself is rebuilt per call.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@functools.cache
def _upsert_select(
    columns: tuple[str, ...],
    keys: tuple[str, ...],
    counters: tuple[str, ...],
    delta_wins: bool,
) -> tuple[Column, ...]:
    others = [c for c in columns if c not in keys and c not in counters]
    first, second = ("d", "m") if delta_wins else ("m", "d")
    cols = [F.col(k) for k in keys]
    cols += [
        (
            F.coalesce(F.col(f"m.{c}"), F.lit(0)) + F.coalesce(F.col(f"d.{c}"), F.lit(0))
        ).alias(c)
        for c in counters
    ]
    cols += [
        F.coalesce(F.col(f"{first}.{c}"), F.col(f"{second}.{c}")).alias(c)
        for c in others
    ]
    return tuple(cols)


def additive_upsert(
    main: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    counters: Sequence[str],
    broadcast_delta: bool = True,
    delta_wins: bool = False,
) -> DataFrame:
    """UPDATE-add + INSERT-missing as one full-outer merge (J4+J2 / I3).

    Rows matching on ``keys`` get ``main.counter + delta.counter``; rows
    only in one side pass through (coalesce with 0). Non-key non-counter
    columns resolve main-first by default — the reference's UPDATE touches
    only the counter, so an already-present row KEEPS its other columns
    (e.g. waypoints, update_tripsmap.py:38-44) and only unseen rows take
    the delta's values via the INSERT. Pass ``delta_wins=True`` for
    newest-data-wins merges.
    """
    d = F.broadcast(delta) if broadcast_delta else delta
    joined = main.alias("m").join(d.alias("d"), list(keys), "full_outer")
    return joined.select(
        *_upsert_select(tuple(main.columns), tuple(keys), tuple(counters), delta_wins)
    )
