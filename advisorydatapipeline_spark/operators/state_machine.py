"""Finite-state-machine transition operator.

Re-expresses the reference's advisory state machine
(state_machine/state_transitions.py:17-179 — transition table,
``is_valid_transition``, ``apply_transition``,
``get_transition_explanation``) in four sections, one definition of
the transition table behind all of them:

1. **Pure-Python core** — the reference functions themselves; the UDF
   surface and the unit tests call them.
2. **Portable SQL text** generators — the same CASE logic as ANSI SQL
   strings, identical in Spark SQL and DuckDB, so Spark and the oracle
   share one definition by construction. The resolution chain
   (``plans/advisory_resolution.resolution_sql``) embeds them.
3. **Native** columns: ``with_transition`` evaluates that SQL text
   through ``F.expr`` — the hot path, inside whole-stage codegen with
   no Python-worker serialization.
4. **Python UDF parity** (plain + struct-returning) mirroring the
   reference's UDF surface (state_machine/udf.py) —
   kept to prove the UDF surface and as an equivalence oracle for (3).

Semantics pinned by the reference's test suite
(test/test_state_transitions.py, see SURVEY.md §5):
- states: unknown, pending_upstream, fixed, not_applicable, will_not_fix
- valid transitions: unknown->{pending_upstream, fixed},
  pending_upstream->{fixed, not_applicable, will_not_fix}
- same-state is always valid; terminal states (fixed, not_applicable,
  will_not_fix) are sticky
- inputs are case/whitespace-normalized; NULL/'' from-state -> 'unknown';
  NULL/unrecognized to-state -> invalid (state kept)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VALID_STATES = (
    "unknown",
    "pending_upstream",
    "fixed",
    "not_applicable",
    "will_not_fix",
)

TERMINAL_STATES = frozenset({"fixed", "not_applicable", "will_not_fix"})

# (from_state -> allowed target states), excluding the always-valid self loop
TRANSITIONS: dict[str, frozenset[str]] = {
    "unknown": frozenset({"pending_upstream", "fixed"}),
    "pending_upstream": frozenset({"fixed", "not_applicable", "will_not_fix"}),
    "fixed": frozenset(),
    "not_applicable": frozenset(),
    "will_not_fix": frozenset(),
}

# customer-facing explanations for the named transitions; anything else
# falls back to the generic template (reference: state_transitions.py:147-179)
EXPLANATIONS: dict[tuple[str, str], str] = {
    ("unknown", "pending_upstream"): "CVE identified. Awaiting upstream analysis.",
    ("unknown", "fixed"): "CVE identified and already fixed upstream.",
    ("pending_upstream", "fixed"): "Fix released upstream.",
    ("pending_upstream", "not_applicable"): "Determined not applicable to this distribution.",
    ("pending_upstream", "will_not_fix"): "Upstream has declined to fix this CVE.",
}


def _norm_py(value: str | None) -> str:
    if value is None:
        return "unknown"
    v = value.strip().lower()
    return v if v else "unknown"


# --- 1. pure-Python core (shared by the UDF surface and unit tests) ---------


def is_valid_transition(from_state: str | None, to_state: str | None) -> bool:
    f = _norm_py(from_state)
    if to_state is None:
        return False
    t = _norm_py(to_state)
    if t not in VALID_STATES:
        return False
    if f not in VALID_STATES:
        return False
    if f == t:
        return True
    return t in TRANSITIONS[f]


def apply_transition(from_state: str | None, to_state: str | None) -> str:
    f = _norm_py(from_state)
    if is_valid_transition(from_state, to_state):
        return _norm_py(to_state)
    return f


def transition_explanation(from_state: str | None, to_state: str | None) -> str:
    f, t = _norm_py(from_state), _norm_py(to_state)
    return EXPLANATIONS.get((f, t), f"State changed from {f} to {t}")


# --- 2. portable SQL text (identical in Spark SQL and DuckDB) ---------------


def norm_sql(expr: str) -> str:
    """SQL for state normalization: NULL/'' -> 'unknown', lower+trim."""
    return (
        f"CASE WHEN {expr} IS NULL OR trim({expr}) = '' THEN 'unknown' "
        f"ELSE lower(trim({expr})) END"
    )


def _in_list(expr: str, values) -> str:
    quoted = ", ".join(f"'{v}'" for v in sorted(values))
    return f"{expr} IN ({quoted})"


def valid_sql(from_expr: str, to_expr: str) -> str:
    """SQL boolean: is the transition valid? Shares the FSM table with
    the Python core via string generation."""
    f, t = norm_sql(from_expr), norm_sql(to_expr)
    arms = []
    for state in VALID_STATES:
        allowed = TRANSITIONS[state] | {state}
        arms.append(f"WHEN {f} = '{state}' THEN {_in_list(t, allowed)}")
    return (
        f"CASE WHEN {to_expr} IS NULL THEN FALSE "
        f"WHEN NOT {_in_list(t, VALID_STATES)} THEN FALSE "
        + " ".join(arms)
        + " ELSE FALSE END"
    )


def apply_sql(from_expr: str, to_expr: str) -> str:
    """SQL string: resulting state (target if valid, else kept)."""
    return f"CASE WHEN {valid_sql(from_expr, to_expr)} THEN {norm_sql(to_expr)} ELSE {norm_sql(from_expr)} END"


def explanation_sql(from_expr: str, to_expr: str) -> str:
    f, t = norm_sql(from_expr), norm_sql(to_expr)
    arms = [
        f"WHEN {f} = '{ff}' AND {t} = '{tt}' THEN '{text}'"
        for (ff, tt), text in EXPLANATIONS.items()
    ]
    fallback = f"concat('State changed from ', {f}, ' to ', {t})"
    return "CASE " + " ".join(arms) + f" ELSE {fallback} END"


# --- 3. native column expressions (F.expr over the portable SQL) ------------


def with_transition(df: DataFrame, from_col: str, to_col: str) -> DataFrame:
    """Add transition_valid / new_state / transition_reason columns.

    Pure CASE expressions -> whole-stage codegen; no UDF in the hot
    path (the reference evaluated this via Python UDFs,
    state_machine/udf.py:77-81, paying per-row serialization).
    """
    return (
        df.withColumn("transition_valid", F.expr(valid_sql(from_col, to_col)))
        .withColumn("new_state", F.expr(apply_sql(from_col, to_col)))
        .withColumn("transition_reason", F.expr(explanation_sql(from_col, to_col)))
    )


# --- 4. UDF parity surface (reference: state_machine/udf.py) ----------------

TRANSITION_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("success", T.BooleanType(), False),
        T.StructField("old_state", T.StringType(), True),
        T.StructField("new_state", T.StringType(), True),
        T.StructField("reason", T.StringType(), True),
    ]
)


def full_transition(from_state: str | None, to_state: str | None):
    ok = is_valid_transition(from_state, to_state)
    return (
        ok,
        _norm_py(from_state),
        apply_transition(from_state, to_state),
        transition_explanation(from_state, to_state),
    )


def transition_udf() -> Column:
    """DataFrame-API struct-returning UDF factory (reference:
    state_transitions.py:187-213). ``useArrow=False`` pins the plain
    pickled Python UDF: left unset, PySpark tries to infer an eval
    type from type hints and warns on every call, and a tuple return
    hint is rejected outright."""
    return F.udf(full_transition, TRANSITION_RESULT_SCHEMA, useArrow=False)


def with_transition_udf(df: DataFrame, from_col: str, to_col: str) -> DataFrame:
    """UDF-evaluated twin of :func:`with_transition` — used by the
    equivalence tests, not the hot path."""
    valid = F.udf(is_valid_transition, T.BooleanType(), useArrow=False)
    apply_ = F.udf(apply_transition, T.StringType(), useArrow=False)
    reason = F.udf(transition_explanation, T.StringType(), useArrow=False)
    return (
        df.withColumn("transition_valid", valid(F.col(from_col), F.col(to_col)))
        .withColumn("new_state", apply_(F.col(from_col), F.col(to_col)))
        .withColumn("transition_reason", reason(F.col(from_col), F.col(to_col)))
    )
