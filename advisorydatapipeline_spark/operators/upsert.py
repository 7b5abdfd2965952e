"""Upsert (merge) as anti-join + union.

Re-expresses the reference's upsert query — ``processed UNION ALL
(prod LEFT JOIN processed ... WHERE processed.key IS NULL)``
(state_machine/queries/upsert_data.py:56-68) — as a reusable operator
using a real ``left_anti`` join (same physical plan, clearer intent).

The reference reads prod and overwrites prod *in the same query*
(state_machine/pipeline.py:72-95), dodging the
lazy-plan-over-deleted-files hazard only by accident (SURVEY.md §3.3).
:func:`upsert_to_path` fixes that with ``sources.io.replace_table``:
one write of the merge to a temp path, then a rename onto prod. A
table format with native MERGE (Delta/Iceberg) is the real fix at
scale; jars are not in this image, so that connector is stubbed
behind an import-try in sources/.

Scale notes: the anti-join shuffles both sides on the key unless the
new side is small — at 100 TB prod with a small daily delta,
Catalyst/AQE broadcasts the *new* side under the threshold.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from advisorydatapipeline_spark.sources.io import read_table, replace_table


def upsert(new_df: DataFrame, old_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """New rows win per key; old rows survive only where the key is
    absent from ``new_df``. Columns are aligned by name."""
    probe = new_df.select(*keys).dropDuplicates(list(keys))
    survivors = old_df.join(probe, on=list(keys), how="left_anti")
    return new_df.unionByName(survivors.select(*new_df.columns))


def upsert_to_path(
    spark,
    new_df: DataFrame,
    prod_path: str,
    keys: Sequence[str],
    schema,
) -> None:
    """Read-merge-overwrite against one prod path: the merge is written
    once and swapped in by rename (``replace_table``), so no plan ever
    reads files being deleted."""
    old_df = read_table(spark, prod_path, schema)
    replace_table(spark, upsert(new_df, old_df, keys), prod_path, schema)
