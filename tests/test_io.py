"""Schema-enforced IO contract tests (reference spark_utils semantics)."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from advisorydatapipeline_spark.schemas import STATE_MACHINE_SCHEMA
from advisorydatapipeline_spark.sources.io import (
    conform,
    empty_df,
    read_table,
    write_table,
)

SIMPLE = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
    ]
)


def test_missing_path_is_empty_relation(spark, tmp_path):
    df = read_table(spark, str(tmp_path / "nope"), STATE_MACHINE_SCHEMA)
    assert df.count() == 0
    assert df.schema == STATE_MACHINE_SCHEMA


def test_conform_casts_prunes_and_fills(spark):
    src = spark.createDataFrame(
        [(1, "7", "extra")], "k int, v string, junk string"
    )
    out = conform(src, SIMPLE)
    assert out.columns == ["k", "v"]
    row = out.collect()[0]
    assert row.k == "1" and row.v == 7  # cast both directions


def test_conform_missing_column_becomes_null(spark):
    src = spark.createDataFrame([("a",)], "k string")
    out = conform(src, SIMPLE)
    assert out.collect()[0].v is None


def test_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([("a", 1), ("b", None)], SIMPLE)
    write_table(df, path, schema=SIMPLE)
    back = read_table(spark, path, SIMPLE)
    assert sorted((r.k, r.v) for r in back.collect()) == [("a", 1), ("b", None)]


def test_csv_and_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], SIMPLE)
    df.write.option("header", True).csv(str(tmp_path / "csv"))
    df.write.json(str(tmp_path / "json"))
    for fmt in ("csv", "json"):
        back = read_table(spark, str(tmp_path / fmt), SIMPLE, fmt=fmt)
        assert sorted((r.k, r.v) for r in back.collect()) == [("a", 1), ("b", 2)]


def test_partitioned_write_with_base_path(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")], "k string, v int, src string"
    )
    schema = T.StructType(
        SIMPLE.fields + [T.StructField("src", T.StringType(), True)]
    )
    df.write.partitionBy("src").parquet(path)
    # read one partition dir with basePath: partition column survives
    back = read_table(
        spark, f"{path}/src=x", schema, base_path=path
    )
    rows = back.collect()
    assert len(rows) == 1 and rows[0].src == "x"


def test_empty_df_has_schema(spark):
    assert empty_df(spark, SIMPLE).schema == SIMPLE


def test_unsupported_format_raises(spark, tmp_path):
    """Only parquet, ORC, JSON and CSV are read; another format is a
    ValueError before any Spark reader is built, even on a path that
    exists."""
    path = str(tmp_path / "t")
    write_table(spark.createDataFrame([("a", 1)], SIMPLE), path, SIMPLE)
    with pytest.raises(ValueError, match="avro"):
        read_table(spark, path, SIMPLE, fmt="avro")


@pytest.mark.parametrize("scheme", ["", "file:"])
def test_replace_table_over_its_own_input(spark, tmp_path, scheme):
    from advisorydatapipeline_spark.sources.io import replace_table

    path = scheme + str(tmp_path / "t")
    write_table(spark.createDataFrame([("a", 1)], SIMPLE), path, schema=SIMPLE)
    # the new table is derived from the files it replaces
    grown = read_table(spark, path, SIMPLE).unionByName(
        spark.createDataFrame([("b", 2)], SIMPLE)
    )
    replace_table(spark, grown, path, SIMPLE)
    back = read_table(spark, path, SIMPLE)
    assert sorted((r.k, r.v) for r in back.collect()) == [("a", 1), ("b", 2)]
    assert not (tmp_path / "t__tmp").exists()
