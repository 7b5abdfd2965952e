"""TTL-based incremental-work cache.

Re-expresses the reference's enrichment cache
(enrichment/cache.py:15-165): skip keys enriched within the TTL
window, evict + merge after each batch. The reference's wall-clock
``datetime.now()`` (cache.py:69) is replaced by explicit cutoff/now
parameters — deterministic under test, injectable from
``PipelineConfig.clock`` in production. A cache row carries its keys
plus ``source_name`` and ``last_accessed``, the columns of
``schemas.ENRICHMENT_CACHE_SCHEMA``.

This is batch-incremental computation (SURVEY.md §2.9): the engine's
analogue of event-time state expiry. At scale the cache is a compact
keys-only table: the anti-join broadcasts it when small, and the
merge is one partial-aggregated shuffle on the key.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from advisorydatapipeline_spark.operators.upsert import upsert


def recent_entries(
    cache_df: DataFrame,
    source_name: str,
    cutoff: datetime,
) -> DataFrame:
    """Cache rows for ``source_name`` still inside the TTL window
    (reference: cache.py:68-75)."""
    return cache_df.filter(
        (F.col("source_name") == source_name)
        & (F.col("last_accessed") >= F.lit(cutoff))
    )


def pending_work(
    work_df: DataFrame,
    cache_df: DataFrame,
    keys: Sequence[str],
    source_name: str,
    cutoff: datetime,
) -> DataFrame:
    """Work items whose key is NOT freshly cached — distinct cached
    keys, then a left-anti join (reference: cache.py:85-95)."""
    cached_keys = (
        recent_entries(cache_df, source_name, cutoff).select(*keys).distinct()
    )
    return work_df.join(cached_keys, on=list(keys), how="left_anti")


def update_cache(
    cache_df: DataFrame,
    done_keys: DataFrame,
    keys: Sequence[str],
    source_name: str,
    now: datetime,
) -> DataFrame:
    """Merge freshly-processed keys into the cache: an upsert on
    (keys, source) whose new rows carry ``last_accessed = now``
    (reference: cache.py:109-165 — evict, unionByName, overwrite)."""
    new_entries = (
        done_keys.select(*keys)
        .distinct()
        .withColumn("source_name", F.lit(source_name))
        .withColumn("last_accessed", F.lit(now))
    )
    return upsert(new_entries, cache_df, [*keys, "source_name"])
