"""Source tests: HTTP-JSON flatten, JDBC contract, advisory DataSource."""

from __future__ import annotations

from pyspark.sql import types as T

from advisorydatapipeline_spark.sources.http_json import (
    advisories_from_json,
    ingest_advisory_source,
)
from advisorydatapipeline_spark.sources.jdbc import read_jdbc_table

ADVISORY_PAYLOAD = {
    "glibc": {
        "CVE-1999-0199": {"fixed_version": None},
        "CVE-2010-3192": {"fixed_version": "2.2-1"},
        "not-a-cve": {"fixed_version": "x"},
    },
    "zlib": {"CVE-2018-25032": {"fixed_version": "1:1.2.11"}},
}


def test_advisory_flatten_engine_side(spark):
    df = ingest_advisory_source(spark, payload=ADVISORY_PAYLOAD)
    rows = {(r.package_name, r.cve_id, r.fixed_version) for r in df.collect()}
    assert rows == {
        ("glibc", "CVE-1999-0199", None),
        ("glibc", "CVE-2010-3192", "2.2-1"),
        ("zlib", "CVE-2018-25032", "1:1.2.11"),
    }  # non-CVE key dropped


def test_advisory_flatten_multiple_payloads(spark):
    import json

    df = advisories_from_json(
        spark,
        [json.dumps({"a": {"CVE-1-1": {"fixed_version": "1"}}}),
         json.dumps({"b": {"CVE-2-2": {"fixed_version": None}}})],
    )
    assert df.count() == 2


def test_jdbc_unavailable_degrades_to_empty(spark):
    schema = T.StructType([T.StructField("x", T.StringType(), True)])
    df = read_jdbc_table(
        spark, "jdbc:postgresql://nohost:5432/nodb", "t", schema
    )
    assert df.count() == 0 and df.schema == schema


def test_advisory_datasource_pushdown(spark, tmp_path):
    import json

    from advisorydatapipeline_spark.sources.advisory_source import register

    payload = {
        f"pkg{i}": {
            f"CVE-2024-{i}": {"fixed_version": f"1.{i}"},
            f"GHSA-{i}": {"fixed_version": "9.9"},
        }
        for i in range(20)
    }
    p = tmp_path / "adv.json"
    p.write_text(json.dumps(payload))
    register(spark)
    df = (
        spark.read.format("advisory")
        .option("path", str(p))
        .option("numPartitions", "4")
        .load()
    )
    # full scan: GHSA keys dropped at the source
    assert df.count() == 20
    assert df.rdd.getNumPartitions() == 4
    # package equality pushes into partition planning: 1 bucket read
    one = df.filter(df.package_name == "pkg7")
    assert [r.cve_id for r in one.collect()] == ["CVE-2024-7"]
    assert one.rdd.getNumPartitions() == 1
