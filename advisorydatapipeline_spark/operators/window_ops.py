"""Windowed dedup / top-k operators.

Generalizes the reference's single window pattern — ``ROW_NUMBER()
OVER (PARTITION BY cve_id, package ORDER BY priority DESC,
enrichment_timestamp DESC) ... WHERE rn = 1``
(state_machine/queries/map_new_info_with_udf.py:41-50) — into reusable
top-1/top-k operators.

Scale notes (100 TB): row_number over a window is a single shuffle on
the partition keys with in-partition sort — the minimal plan for exact
top-1-per-key. For top-1 specifically, ``groupBy().agg(max_by(...))``
gives Catalyst a partial-aggregation (map-side combine) plan that
shuffles only one row per key per mapper — strictly less shuffle IO on
high-cardinality keys; we use it when the caller needs only the
winning row's payload as a struct. Ordering must always end in a
unique tiebreaker column so results are deterministic across engines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
    *,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Keep the top-``k`` rows per key group under ``order_by``.

    ``order_by`` must be deterministic (end with a unique tiebreaker).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def max_by_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """Shuffle-light top-1: pack (order_cols..., payload...) into a
    struct and take ``max`` — partial aggregation reduces each mapper's
    contribution to one row per key before the shuffle.

    Returns keys + payload columns of the winning row. ``order_cols``
    are compared in struct order (lexicographic), descending-by-max.
    """
    packed = F.struct(
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
        *[F.col(c).alias(f"_p{i}") for i, c in enumerate(payload_cols)],
    ).alias("_packed")
    agg = df.select(*keys, packed).groupBy(*keys).agg(F.max("_packed").alias("_w"))
    return agg.select(
        *keys,
        *[F.col(f"_w._p{i}").alias(c) for i, c in enumerate(payload_cols)],
    )
