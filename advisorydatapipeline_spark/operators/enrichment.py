"""Distributed external-API enrichment (reference F6, Spark-native).

The reference enriches by ``collect()``-ing the whole worklist to the
driver and fanning out over a thread pool
(enrichment/apis/nvd/nvd_client.py:209-284: ThreadPoolExecutor,
lock-based global rate limiter, retries) — the one place it abandons
dataflow. Here the same contract runs *on the executors*:

- :func:`enrich_map_in_pandas` wraps a per-row fetch function in an
  Arrow-batched ``mapInPandas`` pass with a **per-partition token
  bucket** (global rate = per_partition_rps x partitions, the honest
  distributed analogue of the reference's global lock) and per-row
  retry/backoff.
- The fetch function is injected (``UpstreamSource.enrichment_fn``),
  so tests run a deterministic fake and production plugs a real HTTP
  client — mirroring the reference's pluggable upstream-source
  dataclass (enrichment function, normalization function, priority;
  enrichment/definitions.py:25-37).

Scale notes: the worklist is repartitioned to the context's default
parallelism before the UDF, so the rate limit and the HTTP concurrency
are both set by the cluster's core count, not file layout; results
stay distributed end-to-end (no driver round-trip, unlike the
reference). ``UpstreamSource.priority`` mirrors the reference's field
and is read by no operator here.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


@dataclass(frozen=True)
class UpstreamSource:
    """Pluggable enrichment source (reference definitions.py:25-37)."""

    name: str
    enrichment_fn: Callable[[str, str], dict]
    result_schema: T.StructType
    priority: int = 0
    per_partition_rps: float | None = None
    max_retries: int = 3
    backoff_s: float = 0.2


class _TokenBucket:
    """Minimal monotonic-clock rate limiter, one per partition task."""

    def __init__(self, rps: float | None):
        self.interval = 1.0 / rps if rps else 0.0
        self.next_t = 0.0

    def wait(self) -> None:
        if not self.interval:
            return
        now = time.monotonic()
        if now < self.next_t:
            time.sleep(self.next_t - now)
        self.next_t = max(now, self.next_t) + self.interval


def enrich_map_in_pandas(
    worklist: DataFrame,
    source: UpstreamSource,
    key_cols: tuple[str, str] = ("cve_id", "package"),
) -> DataFrame:
    """Run ``source.enrichment_fn(key1, key2) -> dict`` for every
    worklist row, on the executors, rate-limited per partition.

    Output schema: key columns + ``source.result_schema`` fields.
    Rows whose fetch exhausts retries surface with all-null result
    fields rather than failing the job (the reference logs-and-drops;
    null-surface keeps the failure observable downstream).
    """
    k1, k2 = key_cols
    out_schema = T.StructType(
        [worklist.schema[k1], worklist.schema[k2], *source.result_schema]
    )
    res_fields = [f.name for f in source.result_schema]
    fn, retries, backoff = (
        source.enrichment_fn, source.max_retries, source.backoff_s,
    )
    rps = source.per_partition_rps

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = _TokenBucket(rps)
        for pdf in batches:
            out_rows = []
            for key1, key2 in zip(pdf[k1], pdf[k2]):
                result: dict = {}
                for attempt in range(retries):
                    bucket.wait()
                    try:
                        result = fn(key1, key2) or {}
                        break
                    except Exception:
                        if attempt + 1 < retries:
                            time.sleep(backoff * (attempt + 1))
                out_rows.append(
                    {k1: key1, k2: key2}
                    | {f: result.get(f) for f in res_fields}
                )
            yield pd.DataFrame(
                out_rows, columns=[k1, k2, *res_fields]
            )

    n = worklist.sparkSession.sparkContext.defaultParallelism
    work = worklist.select(k1, k2).distinct().repartition(n, k1, k2)
    return work.mapInPandas(run, out_schema)

