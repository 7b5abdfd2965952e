"""Schema-enforced table IO.

Re-expresses the reference's ``read_table`` / ``write_table``
(pipeline_libs/spark/spark_utils.py:17-215) Spark-first:

- Schema is mandatory and enforced by **cast-projection** (select +
  cast per declared column), which doubles as column pruning
  (reference :49-50, :114-116).
- **Missing path => empty DataFrame with the declared schema** — this
  "absent = empty relation" contract is load-bearing: it is how the
  first run bootstraps prod state (reference :158-161,
  state_machine/pipeline.py:37-47).
- ``base_path`` support so Hive partition directories become columns
  (reference :134-141).
- Writes go through ``partitionBy`` proper instead of hand-built
  ``key=value`` path strings; output sizing is left to AQE coalescing
  instead of the reference's unconditional ``repartition(1)``
  (spark_utils.py:52-53 — an anti-pattern at scale, SURVEY.md §4).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast-project ``df`` through ``schema``.

    Missing columns become typed NULLs; extra columns are pruned;
    mismatched types are cast. This is schema *enforcement by
    projection*, the reference's house contract.
    """
    cols = []
    present = set(df.columns)
    for field in schema.fields:
        if field.name in present:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(cols)


def empty_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    return spark.createDataFrame([], schema)


def _path_exists(spark: SparkSession, path: str) -> bool:
    # local + hadoop-fs aware existence probe; local fast-path avoids JVM hop
    if "://" not in path or path.startswith("file:"):
        return os.path.exists(path.removeprefix("file:"))
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def read_table(
    spark: SparkSession,
    path: str | None,
    schema: T.StructType,
    *,
    paths: Sequence[str] | None = None,
    fmt: str = "parquet",
    base_path: str | None = None,
    header: bool = True,
) -> DataFrame:
    """Read ``path`` (or ``paths``) as ``fmt``, conformed to ``schema``.

    Any path that does not exist degrades to an empty relation with the
    declared schema rather than an error.
    """
    if schema is None:
        raise ValueError("schema is mandatory for read_table")
    targets = list(paths) if paths is not None else ([path] if path else [])
    targets = [p for p in targets if p and _path_exists(spark, p)]
    if not targets:
        return empty_df(spark, schema)

    # Session-proof: caller-provided sessions (the external driver's)
    # don't carry session.py's confs; TIMESTAMP(NANOS) parquet needs this.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", base_path)
    if fmt == "parquet":
        df = reader.parquet(*targets)
    elif fmt == "json":
        df = reader.schema(schema).json(targets)
    elif fmt == "csv":
        df = reader.schema(schema).option("header", str(header).lower()).csv(targets)
    elif fmt == "orc":
        df = reader.orc(*targets)
    else:
        # generic DataSourceV2 passthrough (e.g. "avro" when its
        # external module jar is deployed)
        df = reader.schema(schema).format(fmt).load(targets)
    return conform(df, schema)


def write_table(
    df: DataFrame,
    path: str,
    *,
    schema: T.StructType | None = None,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    target_partitions: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` to ``path``, optionally conformed to ``schema``.

    ``target_partitions`` is an explicit override only; by default AQE
    sizes output files. Hive-style layout comes from ``partitionBy``.
    """
    out = conform(df, schema) if schema is not None else df
    if target_partitions:
        out = out.coalesce(target_partitions)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "orc":
        writer.orc(path)
    else:
        writer.format(fmt).save(path)


def replace_table(
    spark: SparkSession, df: DataFrame, path: str, schema: T.StructType
) -> None:
    """Replace the parquet table at ``path`` with ``df``, safely even
    when ``df`` reads ``path`` itself (a read-merge-overwrite).

    ``df`` is written once, in full, to the sibling ``<path>__tmp``;
    only then is ``path`` deleted and the temp dir renamed onto it
    through the session's Hadoop FileSystem (one code path for local
    and remote paths). A run that dies between the delete and the
    rename leaves the complete new table in ``<path>__tmp``. A failed
    rename raises.
    """
    path = path.rstrip("/")
    tmp = f"{path}__tmp"
    write_table(df, tmp, schema=schema)
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(hpath(path), True)
    if not fs.rename(hpath(tmp), hpath(path)):
        raise OSError(f"could not rename {tmp} onto {path}")


def write_raw(
    spark: SparkSession,
    content: str | bytes,
    path: str,
    *,
    fmt: str = "text",
) -> None:
    """Write one small raw artifact (manifest, report, config dump) to
    ``path`` atomically.

    Re-expresses the reference's ``write_raw_file`` /
    ``write_raw_json/csv/text``
    (pipeline_libs/local/__init__.py:10-135, S3 twin aws/__init__.py:10)
    — the one un-surveyed utility in the reference, and dead code
    there (zero callers), ported for surface completeness.

    Design notes vs the reference:

    - The reference routes text content through a 1-element
      ``parallelize(...).saveAsTextFile`` and then moves
      ``part-00000`` by hand — a full Spark job plus a brittle
      filename dance to write what is driver-local data. A raw
      artifact is by definition small and already on the driver, so
      the right tool is the filesystem API, not an RDD job.
    - Atomicity: write to ``<path>.tmp-<pid>`` then rename, so a
      concurrent reader never sees a half-written file (the
      reference's move gives the same guarantee for text but its
      binary arm writes in place).
    - Remote paths (hdfs://, s3a://) go through the Hadoop FileSystem
      API of the live session — same code path the reference's AWS
      twin hand-rolls with boto3.

    ``fmt`` mirrors the reference surface: ``text``/``json``/``csv``
    (str, utf-8-encoded) or ``binary`` (bytes passthrough).
    """
    if fmt in ("text", "json", "csv"):
        data = content.encode("utf-8") if isinstance(content, str) else content
    elif fmt == "binary":
        data = content if isinstance(content, bytes) else content.encode("utf-8")
    else:
        raise ValueError(f"unsupported raw format: {fmt}")

    if "://" not in path or path.startswith("file:"):
        local = path.removeprefix("file:")
        tmp = f"{local}.tmp-{os.getpid()}"
        parent = os.path.dirname(local)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, local)
        return

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    dst = jvm.org.apache.hadoop.fs.Path(path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.tmp-{os.getpid()}")
    fs = dst.getFileSystem(conf)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    fs.rename(tmp, dst)


def write_raw_json(spark: SparkSession, json_content: str, path: str) -> None:
    """Reference parity: pipeline_libs/local/__init__.py:84-99."""
    write_raw(spark, json_content, path, fmt="json")


def write_raw_csv(spark: SparkSession, csv_content: str, path: str) -> None:
    """Reference parity: pipeline_libs/local/__init__.py:102-117."""
    write_raw(spark, csv_content, path, fmt="csv")


def write_raw_text(spark: SparkSession, text_content: str, path: str) -> None:
    """Reference parity: pipeline_libs/local/__init__.py:120-135."""
    write_raw(spark, text_content, path, fmt="text")


def register_view(df: DataFrame, name: str, *, global_view: bool = False) -> None:
    """Tables-as-views handoff (reference: createGlobalTempView sites,
    SURVEY.md §1.1). Global temp views live in ``global_temp``."""
    if global_view:
        df.createOrReplaceGlobalTempView(name)
    else:
        df.createOrReplaceTempView(name)


def observed(df: DataFrame, name: str, *metrics):
    """Attach lazy metrics to a plan (SURVEY.md §4's fix for the
    reference's >=15 eager logging ``count()`` calls, each of which
    triggers a full extra job). The metrics ride the NEXT action on
    ``df`` — e.g. the parquet write that was happening anyway — at
    zero additional passes.

    Returns ``(df, observation)``; read ``observation.get`` after an
    action has run. Default metric: row count.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("n_rows"),)
    return df.observe(obs, *metrics), obs


_scratch_root: str | None = None


def scratch_dir(tag: str) -> str:
    """A directory for ``tag``'s scratch files, the same one for every
    call in this process. All tags share one per-process root under
    the temp dir (``adp_scratch_*``), which is removed at interpreter
    exit, so no run leaves files behind and no process can read
    another's stale files."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="adp_scratch_")
        atexit.register(shutil.rmtree, _scratch_root, True)
    d = os.path.join(_scratch_root, tag)
    os.makedirs(d, exist_ok=True)
    return d
