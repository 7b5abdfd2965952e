"""End-to-end advisory pipeline driver: ingest -> enrich -> state machine.

The run.py analogue (reference: run.py:57-59) composed from this
engine's operators, over the reference's actual data model
(schemas.py). A user of the reference runs the same three phases with
the same guarantees:

- **run-id staging isolation** (SURVEY.md §1.4): every intermediate
  lands under ``staging/run_id=<id>/...``; only the final upsert
  touches prod, so failed runs never corrupt production state.
- **TTL-cached incremental enrichment** (enrichment/cache.py
  semantics, deterministic injected clock).
- **priority conflict resolution** across sources (W1 window), COALESCE
  precedence manual > enrichment > prior state, native FSM transition
  validation and change-type classification: one SQL text,
  ``plans/advisory_resolution.resolution_sql``, which the flagship
  entry and its DuckDB oracle run too. The state-machine phase only
  maps its staged inputs onto that text's four relations.

Differences from the reference, by design (SURVEY.md §7):
- enrichment runs on the executors (operators/enrichment.py
  mapInPandas) instead of driver collect() + thread pool;
- the prod upsert and the cache persist write once to a temp path,
  then rename it onto the target (sources/io.replace_table) instead
  of reading and overwriting the same files in one query.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advisorydatapipeline_spark import schemas
from advisorydatapipeline_spark.config import PipelineConfig
from advisorydatapipeline_spark.operators.enrichment import UpstreamSource, enrich_map_in_pandas
from advisorydatapipeline_spark.operators.ttl_cache import pending_work
from advisorydatapipeline_spark.operators.upsert import upsert, upsert_to_path
from advisorydatapipeline_spark.plans.advisory_resolution import resolution_sql
from advisorydatapipeline_spark.sources.io import (
    read_table,
    register_view,
    replace_table,
    write_table,
)

KEYS = ("cve_id", "package")


@dataclass(frozen=True)
class NormalizedSource:
    """An enrichment source whose raw fetch + normalization are both
    pluggable (reference enrichment/definitions.py:25-37)."""

    upstream: UpstreamSource
    # raw enrichment df -> NORMALIZED_ENRICHMENT_SCHEMA df
    normalize: Callable[[DataFrame], DataFrame]


def default_normalize(source_name: str, priority: int, now: datetime):
    """Reference nvd_normalization.py:18-57 semantics on our raw
    schema: found+version -> fixed; found w/o version ->
    pending_upstream; not found -> will_not_fix."""

    def _norm(raw: DataFrame) -> DataFrame:
        state = (
            F.when(
                F.col("found") & F.col("upstream_fixed_version").isNotNull(),
                "fixed",
            )
            .when(F.col("found"), "pending_upstream")
            .otherwise("will_not_fix")
        )
        text = F.when(
            F.col("found") & F.col("upstream_fixed_version").isNotNull(),
            F.concat(F.lit("Fixed upstream in "), F.col("upstream_fixed_version")),
        ).otherwise(F.lit("Awaiting upstream fix"))
        return raw.select(
            "cve_id",
            "package",
            text.alias("customer_text"),
            F.col("upstream_fixed_version").alias("fixed_version"),
            F.lit(priority).cast("int").alias("priority"),
            state.alias("state"),
            F.lit(now).alias("enrichment_timestamp"),
            F.lit(source_name).alias("enrichment_source"),
        )

    return _norm


def run_ingest_phase(
    spark: SparkSession,
    config: PipelineConfig,
    run_id: str,
    advisories: DataFrame,
    overrides: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Stage both raw inputs under the run prefix and read back."""
    adv_path = f"{config.run_path(run_id)}/sources/data"
    ov_path = f"{config.run_path(run_id)}/sources/not_applicable_cves"
    write_table(advisories, adv_path, schema=schemas.ADVISORY_SCHEMA)
    write_table(overrides, ov_path, schema=schemas.NOT_APPLICABLE_SCHEMA)
    adv = read_table(spark, adv_path, schemas.ADVISORY_SCHEMA)
    ov = read_table(spark, ov_path, schemas.NOT_APPLICABLE_SCHEMA)
    register_view(adv, "raw_data")
    register_view(ov, "raw_not_applicable_cves")
    return adv, ov


def run_enrich_phase(
    spark: SparkSession,
    config: PipelineConfig,
    run_id: str,
    advisories: DataFrame,
    overrides: DataFrame,
    sources: list[NormalizedSource],
) -> DataFrame:
    """TTL-cache-gated enrichment per source; returns the union of all
    normalized enrichment staged this run. Staging paths and cache rows
    are keyed by source name, so names must be unique."""
    if not sources:
        raise ValueError("no enrichment sources")
    dupes = [n for n, c in Counter(s.upstream.name for s in sources).items() if c > 1]
    if dupes:
        raise ValueError(f"duplicate enrichment source name {dupes[0]!r}")
    now = config.clock()
    cutoff = now - timedelta(hours=config.cache_ttl_hours)

    # worklist: advisory keys not manually overridden (reference
    # packages_to_enrich.py: case-insensitive compound-key left anti)
    adv_keys = advisories.select(
        F.col("cve_id"), F.col("package_name").alias("package")
    )
    ov_keys = overrides.select(
        F.lower("cve_id").alias("_ck"), F.lower("package").alias("_pk")
    ).distinct()
    worklist = (
        adv_keys.join(
            F.broadcast(ov_keys),
            (F.lower(adv_keys.cve_id) == ov_keys._ck)
            & (F.lower(adv_keys.package) == ov_keys._pk),
            "left_anti",
        )
        .distinct()
    )

    # cache stores the key as package_name (reference cache_schema);
    # in-flight we align it to the worklist's `package`
    cache = read_table(
        spark, config.cache_path, schemas.ENRICHMENT_CACHE_SCHEMA
    ).withColumnRenamed("package_name", "package")
    normalized_parts: list[DataFrame] = []
    answered_parts: list[DataFrame] = []
    for src in sources:
        name = src.upstream.name
        todo = pending_work(worklist, cache, KEYS, name, cutoff)

        raw = enrich_map_in_pandas(todo, src.upstream, KEYS)
        raw_path = f"{config.run_path(run_id)}/enrichment/raw/{name}"
        write_table(raw, raw_path, schema=schemas.RAW_ENRICHMENT_SCHEMA)
        raw_staged = read_table(spark, raw_path, schemas.RAW_ENRICHMENT_SCHEMA)
        # only answered rows (found IS NOT NULL, see schemas) are
        # normalized and cached; a key whose fetch failed keeps its
        # prod state and stays pending for the next run
        answered = raw_staged.filter(F.col("found").isNotNull())

        normalized = src.normalize(answered)
        norm_path = (
            f"{config.run_path(run_id)}/enrichment/normalized/"
            f"enrichment_source={name}"
        )
        write_table(
            normalized, norm_path, schema=schemas.NORMALIZED_ENRICHMENT_SCHEMA
        )
        normalized_parts.append(
            read_table(spark, norm_path, schemas.NORMALIZED_ENRICHMENT_SCHEMA)
        )
        answered_parts.append(
            answered.select(*KEYS, F.lit(name).alias("source_name"))
        )

    # cache merge AFTER successful staging (reference cache.py:109):
    # one upsert of every source's answered keys. Each source reads and
    # writes only its own source_name rows, so this equals one
    # ttl_cache.update_cache per source. The merge reads the cache
    # files it replaces, hence replace_table.
    fresh = (
        reduce(DataFrame.unionByName, answered_parts)
        .distinct()
        .withColumn("last_accessed", F.lit(now))
    )
    replace_table(
        spark,
        upsert(fresh, cache, [*KEYS, "source_name"]).withColumnRenamed(
            "package", "package_name"
        ),
        config.cache_path,
        schemas.ENRICHMENT_CACHE_SCHEMA,
    )

    merged = reduce(DataFrame.unionByName, normalized_parts)
    register_view(merged, "normalized_enrichment")
    return merged


def _one_per_key(df: DataFrame) -> DataFrame:
    """One row per ``KEYS`` value: the row whose other columns, as a
    tuple compared left to right with NULL lowest, are greatest."""
    rest = [c for c in df.columns if c not in KEYS]
    return df.groupBy(*KEYS).agg(F.max(F.struct(*rest)).alias("_r")).select(
        *KEYS, "_r.*"
    )


def run_state_machine_phase(
    spark: SparkSession,
    config: PipelineConfig,
    run_id: str,
    advisories: DataFrame,
    overrides: DataFrame,
    normalized: DataFrame,
) -> DataFrame:
    """Map the staged inputs and the prod snapshot onto the
    resolution text's four relations, stage its result and upsert it
    into prod.

    A key given twice resolves the same way whatever the row order:
    the advisories keep the greatest ``fixed_version`` per
    ``(cve_id, package)``, and the overrides, matched case-insensitively,
    keep the greatest ``(internal_status, status, fixed_version)``
    tuple per lower-cased key, compared left to right with NULL
    lowest."""
    prod_path = f"{config.prod_path}/state_machine/cve_state_machine"
    prod = read_table(spark, prod_path, schemas.STATE_MACHINE_SCHEMA)
    processed = spark.sql(
        resolution_sql(KEYS, KEYS),
        master=_one_per_key(
            advisories.select(
                "cve_id",
                F.col("package_name").alias("package"),
                F.col("fixed_version").alias("advisory_version"),
            )
        ),
        overrides=_one_per_key(
            overrides.select(
                F.lower("cve_id").alias("cve_id"),
                F.lower("package").alias("package"),
                F.col("internal_status").alias("ov_state"),
                F.col("status").alias("ov_text"),
                F.col("fixed_version").alias("ov_version"),
            )
        ),
        enrichment=normalized.select(
            "cve_id",
            "package",
            F.col("state").alias("enrich_state"),
            F.col("customer_text").alias("enrich_text"),
            F.col("fixed_version").alias("enrich_version"),
            F.col("priority").alias("enrich_priority"),
            F.col("enrichment_timestamp").alias("enrich_ts"),
            F.col("enrichment_source").alias("enrich_tiebreak"),
            F.col("enrichment_source").alias("enrich_source"),
        ),
        prior=prod.select("cve_id", "package", F.col("status").alias("prod_state")),
    )

    staged_path = f"{config.run_path(run_id)}/state_machine/processed"
    write_table(processed, staged_path, schema=schemas.STATE_MACHINE_SCHEMA)
    staged = read_table(spark, staged_path, schemas.STATE_MACHINE_SCHEMA)
    register_view(staged, "processed_cve_state_machine")

    upsert_to_path(spark, staged, prod_path, list(KEYS), schemas.STATE_MACHINE_SCHEMA)
    return read_table(spark, prod_path, schemas.STATE_MACHINE_SCHEMA)


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    run_id: str,
    *,
    advisories: DataFrame,
    overrides: DataFrame,
    sources: list[NormalizedSource],
) -> DataFrame:
    """The full three-phase run. Returns the post-upsert prod state."""
    adv, ov = run_ingest_phase(spark, config, run_id, advisories, overrides)
    normalized = run_enrich_phase(spark, config, run_id, adv, ov, sources)
    return run_state_machine_phase(
        spark, config, run_id, adv, ov, normalized
    )
