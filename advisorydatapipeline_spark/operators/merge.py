"""MERGE INTO semantics as a Spark-first composition (no table format).

The reference aspires to Iceberg and its MERGE (README.md:64) but
ships only a read-prod-overwrite-prod upsert
(state_machine/pipeline.py:72-95); :mod:`operators.upsert` already
re-expresses that safely. This module generalizes it to the full ANSI
MERGE clause matrix

    WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE
    WHEN NOT MATCHED [AND cond] THEN INSERT ...
    WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE

with first-matching-clause-wins ordering, computed as ONE outer join
plus row-local conditional projection — the same logical plan a
Delta/Iceberg MERGE compiles to before its file-rewrite step. The
result is the post-merge state of the target; persist it on plain
parquet with ``sources.io.replace_table`` (one write to a temp path,
then a rename onto the target), or write it through a MERGE-native
table format when one is attached.

Scale design: the single shuffle is the key-equi outer join. Spark
cannot broadcast a FULL outer join, so with insert clauses present
the plan is a sort-merge join on the key; without insert clauses the
join degrades to LEFT OUTER, which CAN broadcast a small source
batch (the common 100 TB prod + small daily delta shape). All clause
evaluation is null-safe presence-flag CASE logic inside the
projection — row-local, codegen-friendly, no second pass. Optional
``validate_unique_match`` enforces ANSI MERGE's at-most-one-source-
row-per-target-row rule in-plan via a windowed count + raise_error
in the matched branch (no extra driver action).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class MergeClause:
    """One WHEN clause.

    ``action``: ``update`` | ``delete`` | ``insert``.
    ``condition``: SQL over ``t.*`` / ``s.*`` (None = unconditional).
    ``assignments``: column -> SQL expr over ``t.*`` / ``s.*``.
      - update default (None): set every target column that also
        exists in the source to ``s.<col>``.
      - insert default (None): source value for shared columns, NULL
        for target-only columns.
    """

    action: str
    condition: str | None = None
    assignments: dict[str, str] | None = field(default=None)

    def __post_init__(self):
        if self.action not in ("update", "delete", "insert"):
            raise ValueError(f"unknown merge action: {self.action}")
        if self.action == "delete" and self.assignments:
            raise ValueError("DELETE clause takes no assignments")


def _first_match_tag(clauses, prefix: str, default: str) -> Column:
    """CASE chain: tag of the first clause whose condition holds."""
    chain = None
    for i, cl in enumerate(clauses):
        cond = F.expr(cl.condition) if cl.condition else F.lit(True)
        chain = (chain.when if chain is not None else F.when)(
            cond, F.lit(f"{prefix}{i}")
        )
    return chain.otherwise(F.lit(default)) if chain is not None else F.lit(default)


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    *,
    when_matched: Sequence[MergeClause] = (),
    when_not_matched: Sequence[MergeClause] = (),
    when_not_matched_by_source: Sequence[MergeClause] = (),
    validate_unique_match: bool = False,
) -> DataFrame:
    """Post-merge state of ``target`` (same schema, types preserved).

    ``on`` is the equi-join key column list (present in both sides).
    Clause conditions/assignments are SQL strings referencing the
    aliases ``t`` (target) and ``s`` (source), e.g.
    ``MergeClause("update", "s.n >= 20", {"bal": "t.bal + s.spend"})``.
    """
    if not on:
        raise ValueError("merge_into needs at least one key column")
    for cl in [*when_matched, *when_not_matched_by_source]:
        if cl.action == "insert":
            raise ValueError("INSERT is only valid in when_not_matched")
    for cl in when_not_matched_by_source:
        # ANSI: BY SOURCE clauses may reference only the target; the
        # source side is all-NULL there, so defaulting assignments to
        # s.<col> would silently null shared columns
        if cl.action == "update" and not cl.assignments:
            raise ValueError(
                "when_not_matched_by_source UPDATE requires explicit "
                "assignments (source columns are NULL in that branch)"
            )
    for cl in when_not_matched:
        if cl.action != "insert":
            raise ValueError("when_not_matched supports only INSERT")

    reserved = {"_t_ex", "_s_ex", "_s_dup", "__action"}
    clash = reserved & (set(target.columns) | set(source.columns))
    if clash:
        raise ValueError(f"merge_into reserves column names {sorted(clash)}")

    scols = set(source.columns)
    t = target.withColumn("_t_ex", F.lit(True)).alias("t")
    s = source.withColumn("_s_ex", F.lit(True))
    if validate_unique_match:
        s = s.withColumn(
            "_s_dup",
            F.count(F.lit(1)).over(Window.partitionBy(*[F.col(k) for k in on])),
        )
    s = s.alias("s")

    # FULL outer only when inserts need source-only rows; otherwise
    # LEFT keeps the plan broadcast-able for a small source batch
    how = "full_outer" if when_not_matched else "left_outer"
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on],
    )
    j = t.join(s, cond, how)

    matched = F.col("t._t_ex").isNotNull() & F.col("s._s_ex").isNotNull()
    t_only = F.col("t._t_ex").isNotNull() & F.col("s._s_ex").isNull()

    action = (
        F.when(matched, _first_match_tag(when_matched, "m", "keep"))
        .when(t_only, _first_match_tag(when_not_matched_by_source, "b", "keep"))
        .otherwise(_first_match_tag(when_not_matched, "i", "drop"))
    )
    if validate_unique_match:
        action = F.when(
            matched & (F.col("s._s_dup") > F.lit(1)),
            F.raise_error(
                F.concat(
                    F.lit("MERGE: more than one source row matches target key ("),
                    *[F.concat(F.col(f"t.{k}").cast("string"), F.lit(" ")) for k in on],
                    F.lit(")"),
                )
            ).cast("string"),
        ).otherwise(action)

    drop_tags = {"drop"}
    for prefix, clauses in (
        ("m", when_matched),
        ("b", when_not_matched_by_source),
    ):
        drop_tags.update(
            f"{prefix}{i}" for i, cl in enumerate(clauses) if cl.action == "delete"
        )

    j = j.withColumn("__action", action).filter(
        ~F.col("__action").isin(*drop_tags)
    )

    def assignment(cl: MergeClause, col: str, prefix: str) -> Column:
        if cl.assignments is not None and col in cl.assignments:
            return F.expr(cl.assignments[col])
        if cl.action == "insert":
            return F.col(f"s.{col}") if col in scols else F.lit(None)
        if prefix == "b":
            # BY SOURCE branch: the source side is all-NULL — columns
            # without an explicit assignment keep their target value
            return F.col(f"t.{col}")
        return F.col(f"s.{col}") if col in scols else F.col(f"t.{col}")

    out = []
    for fld in target.schema.fields:
        col = fld.name
        chain = None
        for prefix, clauses in (
            ("m", when_matched),
            ("b", when_not_matched_by_source),
            ("i", when_not_matched),
        ):
            for i, cl in enumerate(clauses):
                if cl.action not in ("update", "insert"):
                    continue
                chain = (chain.when if chain is not None else F.when)(
                    F.col("__action") == f"{prefix}{i}",
                    assignment(cl, col, prefix),
                )
        expr = (
            chain.otherwise(F.col(f"t.{col}"))
            if chain is not None
            else F.col(f"t.{col}")
        )
        out.append(expr.cast(fld.dataType).alias(col))
    return j.select(*out)
