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
- Reads take parquet, ORC, JSON or CSV; writes are parquet overwrites
  with neither partition keys nor a partition count, which every
  reference caller passes empty (SURVEY.md §1.4). Output sizing is
  left to AQE coalescing instead of the reference's unconditional
  ``repartition(1)`` (spark_utils.py:52-53 — an anti-pattern at scale,
  SURVEY.md §4). The reference's raw-file sinks (S12) have no caller
  and are not ported.
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
) -> DataFrame:
    """Read ``path`` (or ``paths``) as ``fmt``, conformed to ``schema``.

    ``fmt`` is one of ``parquet``, ``orc``, ``json`` or ``csv`` (with a
    header row); any other value raises ``ValueError``. Any path that
    does not exist degrades to an empty relation with the declared
    schema rather than an error.
    """
    if schema is None:
        raise ValueError("schema is mandatory for read_table")
    if fmt not in ("parquet", "orc", "json", "csv"):
        raise ValueError(f"unsupported table format: {fmt}")
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
        df = reader.schema(schema).option("header", "true").csv(targets)
    else:
        df = reader.orc(*targets)
    return conform(df, schema)


def write_table(df: DataFrame, path: str, schema: T.StructType) -> None:
    """Overwrite the parquet table at ``path`` with ``df`` conformed to
    ``schema``. AQE sizes the output files."""
    conform(df, schema).write.mode("overwrite").parquet(path)


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


def register_view(df: DataFrame, name: str) -> None:
    """Tables-as-views handoff (reference: createGlobalTempView sites,
    SURVEY.md §1.1), as a session temp view."""
    df.createOrReplaceTempView(name)


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
