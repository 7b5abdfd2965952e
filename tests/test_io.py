"""Schema-enforced IO contract tests (reference spark_utils semantics)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
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
    for fmt in ("csv", "json"):
        path = str(tmp_path / fmt)
        write_table(df, path, schema=SIMPLE, fmt=fmt)
        back = read_table(spark, path, SIMPLE, fmt=fmt)
        assert sorted((r.k, r.v) for r in back.collect()) == [("a", 1), ("b", 2)]


def test_partitioned_write_with_base_path(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")], "k string, v int, src string"
    )
    schema = T.StructType(
        SIMPLE.fields + [T.StructField("src", T.StringType(), True)]
    )
    write_table(df, path, schema=schema, partition_by=["src"])
    # read one partition dir with basePath: partition column survives
    back = read_table(
        spark, f"{path}/src=x", schema, base_path=path
    )
    rows = back.collect()
    assert len(rows) == 1 and rows[0].src == "x"


def test_empty_df_has_schema(spark):
    assert empty_df(spark, SIMPLE).schema == SIMPLE


def test_write_respects_target_partitions(spark, tmp_path):
    path = str(tmp_path / "sized")
    df = spark.range(1000).select(
        F.col("id").cast("string").alias("k"), F.col("id").cast("int").alias("v")
    )
    write_table(df, path, schema=SIMPLE, target_partitions=2)
    import glob

    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == 2


def test_observed_counts_ride_the_write(spark, tmp_path):
    from advisorydatapipeline_spark.sources.io import observed

    df = spark.range(100).selectExpr("id", "id % 7 AS g")
    df2, obs = observed(df, "write_metrics")
    df2.write.mode("overwrite").parquet(str(tmp_path / "obs_out"))
    assert obs.get["n_rows"] == 100


def test_write_raw_text_and_atomic_replace(spark, tmp_path):
    from advisorydatapipeline_spark.sources.io import write_raw_text

    path = str(tmp_path / "nested" / "report.txt")
    write_raw_text(spark, "hello\nworld\n", path)
    assert open(path).read() == "hello\nworld\n"
    # overwrite is atomic replace, not append
    write_raw_text(spark, "v2", path)
    assert open(path).read() == "v2"
    import glob

    assert not glob.glob(path + ".tmp-*")  # no temp litter


def test_write_raw_json_csv_binary(spark, tmp_path):
    from advisorydatapipeline_spark.sources.io import (
        write_raw,
        write_raw_csv,
        write_raw_json,
    )

    jp = str(tmp_path / "m.json")
    write_raw_json(spark, '{"a": 1}', jp)
    import json

    assert json.load(open(jp)) == {"a": 1}

    cp = str(tmp_path / "m.csv")
    write_raw_csv(spark, "a,b\n1,2\n", cp)
    assert open(cp).read().startswith("a,b")

    bp = str(tmp_path / "m.bin")
    write_raw(spark, b"\x00\x01\xff", bp, fmt="binary")
    assert open(bp, "rb").read() == b"\x00\x01\xff"
    # str content to binary arm round-trips via utf-8 like the reference
    write_raw(spark, "text-as-bytes", bp, fmt="binary")
    assert open(bp, "rb").read() == b"text-as-bytes"


def test_write_raw_rejects_unknown_format(spark, tmp_path):
    from advisorydatapipeline_spark.sources.io import write_raw

    with pytest.raises(ValueError):
        write_raw(spark, "x", str(tmp_path / "f"), fmt="avro")


def test_write_raw_file_uri_scheme(spark, tmp_path):
    from advisorydatapipeline_spark.sources.io import write_raw

    path = str(tmp_path / "uri.txt")
    write_raw(spark, "via-uri", "file:" + path)
    assert open(path).read() == "via-uri"


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
