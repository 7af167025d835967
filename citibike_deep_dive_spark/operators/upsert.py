"""Merge primitives: the reference's in-place UPDATE+INSERT pairs as
single declarative merges.

The reference maintains derived tables with a two-statement idiom:
``UPDATE main SET cnt = main.cnt + temp.cnt FROM temp WHERE keys match``
followed by ``INSERT ... LEFT JOIN ... WHERE main.key IS NULL``
(reference: citibike_data_process/table_updating/update_heatmap.py:17-35,
update_tripsmap.py:37-55 — SURVEY.md J2/J4/I3). Spark has no in-place
update; the rewrite is ONE aggregation over both sides producing the new
table contents, then an atomic overwrite.

Scale notes:
- The merge is a union and an aggregation on the keys, not a join.
  Grouping matches a null key to a null key. When both sides arrive
  partitioned on the keys (two aggregates), the union keeps that
  partitioning and nothing shuffles; otherwise one exchange moves both
  sides at once. A full outer join on null-safe (``<=>``) keys would
  shuffle even a side already partitioned on them, since Spark joins
  such keys on ``(coalesce(k), isnull(k))``. In the pipeline both sides
  are one partition, which satisfies the grouping, so nothing shuffles.
- With a lakehouse format (Delta/Iceberg) this same function's plan maps
  to MERGE INTO; on plain Parquet the caller rewrites the table
  (write temp dir + swap).
- The aggregate list is built once per (columns, keys, counters) and
  reused; the union itself is rebuilt per call.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_IN_MAIN = "__in_main"


@functools.cache
def _upsert_aggs(
    columns: tuple[str, ...],
    keys: tuple[str, ...],
    counters: tuple[str, ...],
) -> tuple[Column, ...]:
    in_main = F.col(_IN_MAIN)
    others = [c for c in columns if c not in keys and c not in counters]
    aggs = [F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in counters]
    aggs += [
        F.coalesce(F.max(F.when(in_main, F.col(c))), F.max(F.when(~in_main, F.col(c)))).alias(c)
        for c in others
    ]
    return tuple(aggs)


def additive_upsert(
    main: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    counters: Sequence[str],
) -> DataFrame:
    """UPDATE-add + INSERT-missing as one merge (J4+J2 / I3). Each side
    holds at most one row per key, ``delta`` has the same columns as
    ``main``, and the non-key non-counter columns are of orderable types.

    Rows matching on ``keys`` get ``main.counter + delta.counter``; rows
    only in one side pass through (a missing counter counts 0). Keys match
    null-safely: a null key matches a null key. Non-key non-counter
    columns resolve main-first — the reference's UPDATE touches only the
    counter, so an already-present row KEEPS its other columns (e.g.
    waypoints, update_tripsmap.py:38-44) and only unseen rows take the
    delta's values via the INSERT. Columns come out as keys, counters,
    then the rest in ``main``'s order.
    """
    aggs = _upsert_aggs(tuple(main.columns), tuple(keys), tuple(counters))
    both = main.withColumn(_IN_MAIN, F.lit(True)).unionByName(
        delta.withColumn(_IN_MAIN, F.lit(False))
    )
    return both.groupBy(*keys).agg(*aggs)
