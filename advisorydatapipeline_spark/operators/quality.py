"""Declarative data-quality checks.

The reference leaves validation as a TODO
(ingest/ingestion_pipeline.py:71 "Add data quality checks"); this is
that feature, engine-native:

- row rules are Column predicates evaluated in ONE aggregate pass
  (sum-of-violations per rule — no per-rule jobs, no collect);
- :func:`violating_rows` tags each failing row with the names of the
  rules it fails (audit output, the shape a quarantine sink wants);
- key-uniqueness and referential-integrity checks are the standard
  groupBy/anti-join plans.

Scale notes: ``quality_report`` is a single partial-aggregated scan —
at 100 TB it costs one pass regardless of rule count. Attached with
``DataFrame.observe`` it can ride an existing write instead of its
own action.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named pass-predicate: rows where ``predicate`` is false (or
    NULL) count as violations."""

    name: str
    predicate: Column


def not_null(col: str) -> Rule:
    return Rule(f"{col}_not_null", F.col(col).isNotNull())


def non_empty(col: str) -> Rule:
    return Rule(
        f"{col}_non_empty",
        F.col(col).isNotNull() & (F.trim(F.col(col)) != ""),
    )


def in_range(col: str, lo, hi) -> Rule:
    return Rule(f"{col}_in_range", F.col(col).between(lo, hi))


def matches(col: str, pattern: str) -> Rule:
    return Rule(f"{col}_matches", F.col(col).rlike(pattern))


def quality_report(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """One row per rule: (rule, n_rows, n_violations, violation_rate).
    Single aggregate pass over the input."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for r in rules:
        aggs.append(
            F.sum(
                F.when(F.coalesce(r.predicate, F.lit(False)), 0).otherwise(1)
            ).alias(f"_v_{r.name}")
        )
    wide = df.agg(*aggs)
    per_rule = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r.name).alias("rule"),
                    F.col(f"_v_{r.name}").alias("n_violations"),
                )
                for r in rules
            ]
        )
    ).alias("r")
    return wide.select(F.col("_n").alias("n_rows"), per_rule).select(
        F.col("r.rule").alias("rule"),
        "n_rows",
        F.col("r.n_violations").alias("n_violations"),
        (F.col("r.n_violations") / F.col("n_rows")).alias("violation_rate"),
    )


def violating_rows(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Rows failing >= 1 rule, with ``failed_rules`` (sorted array of
    rule names) appended — quarantine-sink shape."""
    failed = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(
                        F.coalesce(r.predicate, F.lit(False)), None
                    ).otherwise(F.lit(r.name))
                    for r in rules
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return df.withColumn("failed_rules", failed).filter(
        F.size("failed_rules") > 0
    )


def duplicate_key_rows(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys appearing more than once, with their multiplicity."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def referential_violations(
    child: DataFrame, parent: DataFrame, on: Sequence[str]
) -> DataFrame:
    """Child rows whose key has no parent (FK breakage) — left-anti."""
    return child.join(
        parent.select(*on).dropDuplicates(list(on)), on=list(on), how="left_anti"
    )
