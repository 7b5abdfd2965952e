"""Advisory state resolution: the paper's state-machine chain as one SQL text.

:func:`resolution_sql` is the reference's single state-machine
statement (map_new_info_with_udf.py:16-179, SURVEY.md §3.3) over four
relation placeholders:

  {master}      keys, match columns, advisory_version   (reference: raw_data)
  {overrides}   match columns, ov_state, ov_text, ov_version
                                                        (raw_not_applicable_cves)
  {enrichment}  keys, enrich_state, enrich_text, enrich_version,
                enrich_priority, enrich_ts, enrich_tiebreak, enrich_source
                                                        (normalized_enrichment)
  {prior}       keys, prod_state                        (prod_cve_state_machine)

Chain: W1 top-1 of the enrichment per key by (priority, ts, tiebreak)
DESC [:41-50] -> case-insensitive compound-key override join on the
match columns [packages_to_enrich.py:34] -> double left join merge
[:110-114] -> COALESCE source precedence (manual > enrichment > prior)
[:70-104] -> native FSM transition [state_transitions.py] ->
change-type classification [:160-166].

Spark runs the text as ``spark.sql(text, master=df, ...)``; DuckDB runs
the same text formatted with CTE names. Its two callers only map
columns onto the four relations: ``pipeline.run_state_machine_phase``
(staged advisories, overrides, normalized enrichment, prod snapshot)
and the flagship entry below, which maps the synthetic star schema
(FIXTURES.md) in CTEs of one text that both engines run:

  customers                      -> master
  customers with negative balance -> overrides (upper-cased, to exercise
                                    the case-insensitive join)
  events                         -> enrichment
  latest order per customer      -> prior

Scale notes (100 TB): the only wide shuffles are the window dedup
(one shuffle on the key) and the two fact-side left joins (shuffled
on the same key; AQE coalesces). The override dimension is
broadcast-sized in any realistic advisory workload; the text hints
``BROADCAST`` for it (a comment to DuckDB).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from advisorydatapipeline_spark.operators.state_machine import (
    apply_sql,
    explanation_sql,
    norm_sql,
    valid_sql,
)

# event_type -> (priority, candidate state): the enrichment feed's
# normalization table (plays the role of nvd_normalization.py:18-57)
EVENT_NORMALIZATION: dict[str, tuple[int, str]] = {
    "purchase": (3, "fixed"),
    "signup": (2, "pending_upstream"),
    "click": (1, "not_applicable"),
    "view": (1, "pending_upstream"),
    "error": (0, "will_not_fix"),
}

ORDERSTATUS_STATE: dict[str, str] = {
    "O": "pending_upstream",
    "F": "fixed",
    "P": "unknown",
}

CHANGE_RANK: dict[str, int] = {
    "new": 1,
    "status_changed": 2,
    "blocked": 3,
    "enriched_unchanged": 4,
}


def _case_map_sql(expr: str, mapping: dict[str, str | int], else_sql: str) -> str:
    arms = " ".join(
        f"WHEN {expr} = '{k}' THEN "
        + (f"'{v}'" if isinstance(v, str) else str(v))
        for k, v in mapping.items()
    )
    return f"CASE {arms} ELSE {else_sql} END"


def resolution_sql(keys: Sequence[str], match: Sequence[str]) -> str:
    """The resolution chain over ``{master}``, ``{overrides}``,
    ``{enrichment}`` and ``{prior}``, joined on ``keys`` (overrides on
    ``match``, case-insensitively). Returns every master column plus
    the ``STATE_MACHINE_SCHEMA`` columns, ``from_state`` and
    ``candidate_state``.

    A manual override is authoritative: a non-NULL ``ov_state`` sets
    the state (the reference feeds internal_status in as the current
    state, packages_to_enrich.py:25-32) and is never ``blocked``; an
    enrichment candidate must pass the FSM.
    """
    from_state = "coalesce(prod_state, 'unknown')"
    candidate = "coalesce(ov_state, enrich_state)"
    eff = "coalesce(ov_state, enrich_state, prod_state, 'unknown')"
    valid = valid_sql(from_state, eff)
    ov_on = " AND ".join(f"lower(m.{c}) = lower(o.{c})" for c in match)

    def key_on(r: str) -> str:
        return " AND ".join(f"m.{k} = {r}.{k}" for k in keys)

    new_state = (
        f"CASE WHEN ov_state IS NOT NULL THEN {norm_sql('ov_state')} "
        f"ELSE {apply_sql(from_state, eff)} END"
    )
    change = (
        f"CASE WHEN prod_state IS NULL THEN 'new' "
        f"WHEN {candidate} IS NULL THEN 'unchanged' "
        f"WHEN ov_state IS NULL AND NOT ({valid}) THEN 'blocked' "
        f"WHEN ({new_state}) <> {from_state} THEN 'status_changed' "
        f"ELSE 'enriched_unchanged' END"
    )
    return f"""
SELECT /*+ BROADCAST(o) */ m.*,
       prod_state AS previous_status,
       {from_state} AS from_state,
       {candidate} AS candidate_state,
       {new_state} AS status,
       coalesce(ov_version, enrich_version, advisory_version) AS fixed_version,
       coalesce(ov_text, enrich_text) AS customer_text,
       CASE WHEN ov_state IS NOT NULL THEN 'manual'
            WHEN enrich_state IS NOT NULL THEN enrich_source
            ELSE 'production' END AS data_source,
       CAST(CASE WHEN ov_state IS NOT NULL THEN 100
                 ELSE enrich_priority END AS INT) AS priority,
       enrich_ts AS enrichment_timestamp,
       {valid} AS transition_valid,
       {explanation_sql(from_state, eff)} AS transition_reason,
       {change} AS change_type
FROM {{master}} m
LEFT JOIN {{overrides}} o ON {ov_on}
LEFT JOIN (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY {", ".join(keys)}
      ORDER BY enrich_priority DESC, enrich_ts DESC, enrich_tiebreak DESC
    ) AS _rn
    FROM {{enrichment}}
  ) ranked WHERE _rn = 1
) e ON {key_on("e")}
LEFT JOIN {{prior}} p ON {key_on("p")}
"""


def _flagship_sql() -> str:
    """The flagship as one text over ``{customer}``, ``{orders}`` and
    ``{events}``: CTEs map the star schema onto the chain's relations."""
    core = resolution_sql(("cust_key",), ("cust_name", "package")).format(
        master="master", overrides="overrides", enrichment="enrichment", prior="prior"
    )
    priority = _case_map_sql(
        "event_type", {k: v[0] for k, v in EVENT_NORMALIZATION.items()}, "0"
    )
    cand = _case_map_sql(
        "event_type", {k: v[1] for k, v in EVENT_NORMALIZATION.items()}, "'unknown'"
    )
    return f"""
WITH master AS (
  SELECT c_custkey AS cust_key, c_name AS cust_name,
         lower(c_mktsegment) AS package,
         CAST(NULL AS STRING) AS advisory_version
  FROM {{customer}}
), overrides AS (
  SELECT upper(c_name) AS cust_name, upper(c_mktsegment) AS package,
         'not_applicable' AS ov_state,
         CAST(NULL AS STRING) AS ov_text, CAST(NULL AS STRING) AS ov_version
  FROM {{customer}} WHERE c_acctbal < 0
), enrichment AS (
  SELECT user_id AS cust_key,
         {priority} AS enrich_priority, {cand} AS enrich_state,
         CAST(NULL AS STRING) AS enrich_text,
         CAST(NULL AS STRING) AS enrich_version,
         ts AS enrich_ts, event_id AS enrich_tiebreak,
         'enrichment' AS enrich_source
  FROM {{events}}
), prior AS (
  SELECT o_custkey AS cust_key,
         {_case_map_sql("o_orderstatus", ORDERSTATUS_STATE, "'unknown'")} AS prod_state
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
    ) AS rn
    FROM {{orders}}
  ) ranked WHERE rn = 1
), resolved AS ({core})
SELECT cust_key, package, previous_status, from_state, candidate_state,
       status AS new_state, transition_valid, transition_reason,
       change_type, data_source, priority,
       CAST({_case_map_sql("change_type", CHANGE_RANK, "5")} AS INT) AS sort_rank
FROM resolved
ORDER BY sort_rank, cust_key
"""


def advisory_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship entry: :func:`_flagship_sql` on Spark."""
    # local import: queries/__init__ imports this module via registry
    from advisorydatapipeline_spark.queries.helpers import load

    return spark.sql(
        _flagship_sql(),
        **{t: load(spark, sf_dir, t) for t in ("customer", "orders", "events")},
    )


def advisory_resolution_oracle() -> str:
    """The same text for DuckDB, over the fixture's table names."""
    return _flagship_sql().format(customer="customer", orders="orders", events="events")
