"""SparkSession factory.

Mirrors the role of the reference's ``dependencies.py:19-50`` (session
construction + conf) without its hardcoded developer paths. Every conf
default here is chosen for the dual target: correct on ``local[N]``,
sane on a large cluster (AQE owns runtime re-planning; shuffle
partition count is a starting hint that AQE coalesces/splits).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "advisorydatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-minded defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switches replace any hand-tuning.
    - Session timezone pinned to UTC so timestamp semantics match the
      ANSI/DuckDB oracle exactly.
    - Arrow on: vectorized pandas interchange for the Pandas-UDF path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r15 NOTE: spark.sql.optimizer.canChangeCachedPlanOutput-
        # Partitioning=true was A/B-measured here and REJECTED: it
        # fixed the tiny-cached-frame scheduler tax (dbscan 8.7 ->
        # 5.0 s) but AQE coalesces cached frames by BYTES, so
        # byte-light CPU-heavy cached graphs collapsed to 1-3
        # partitions and serialized every downstream round
        # (canonical_corpus 2.5 -> 5.7 s, dedup_clusters 2.9 -> 4.7 s
        # same box). Connected components no longer caches a loop
        # frame: its star-contraction rounds rewrite the edge list
        # (operators/graph.py).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # custom Python DataSources (sources/advisory_source.py)
        # implement pushFilters; reads fail without this conf
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as epoch-nanos long (ordering
        # is identical; convert with F.timestamp_micros(ns div 1000))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # no [Stage N:> bars on stderr: they bury bench/gate output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # saveAsTable target for bucketed tables (operators/bucketing):
        # keep it out of the repo/cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/adp_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_benign_warnings(spark)
    return spark


# Loggers whose WARNs are known-benign here and only add noise to
# bench/gate tails (r13 verdict item 7): every partition-less window
# in the repo carries a machine-checked row-count bound enforced by
# tools/plan_audit.py (GLOBAL_WINDOW_OK), so WindowExec's "No
# Partition Defined" warning carries no information a reader of
# BENCH_r*.json can act on.
_NOISY_BENIGN_LOGGERS = (
    "org.apache.spark.sql.execution.window.WindowExec",
    "org.apache.spark.sql.execution.window.WindowGroupLimitExec",
)


def _quiet_benign_warnings(spark: SparkSession) -> None:
    try:
        jvm = spark.sparkContext._jvm
        for name in _NOISY_BENIGN_LOGGERS:
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                name, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:  # pragma: no cover — log cosmetics only
        pass
