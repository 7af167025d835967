"""Top-k per group (W1) — the reference's only window function.

Reference: ROW_NUMBER() OVER (PARTITION BY year ORDER BY trip_count DESC)
… WHERE rn <= 30 (citibike_data_process/table_updating/update_tripsmap.py:86-95).

The reference's ORDER BY has no tiebreaker, so ties at rank k are dropped
nondeterministically; we require explicit tiebreak columns so results are
stable under the DuckDB-oracle hash check (SURVEY.md §4).

Scale note: row_number over PARTITION BY year shuffles once on the group
key; with thousands of groups this is the right plan. For tiny k and very
hot groups, AQE's skew-join splitting plus the pre-aggregation (counts are
already one row per group-key combo) keep partitions bounded. The
pipeline's trips rewrite runs it over one partition, which already holds
its single year, so there it shuffles nothing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Keep the top ``k`` rows of each group under a deterministic order."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return top_k_by_rank(df, F.row_number().over(w), k, rank_col)


def top_k_by_rank(df: DataFrame, rank: Column, k: int, rank_col: str = "rn") -> DataFrame:
    """``top_k_per_group`` with the ranking Column built by the caller, so
    a caller that ranks the same way every time can build it once."""
    return df.withColumn(rank_col, rank).filter(F.col(rank_col) <= k)
