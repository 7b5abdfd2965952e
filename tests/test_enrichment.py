"""Tests for the distributed mapInPandas enrichment operator (F6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from advisorydatapipeline_spark.operators.enrichment import (
    UpstreamSource,
    enrich_map_in_pandas,
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("found", T.BooleanType(), True),
        T.StructField("fixed_version", T.StringType(), True),
    ]
)


def make_fake_fetch():
    # returned as a closure so cloudpickle ships it BY VALUE — test
    # modules are not importable on executor python workers
    def fake_fetch(cve_id, package):
        if package == "missing":
            return {"found": False, "fixed_version": None}
        return {"found": True, "fixed_version": f"{package}-1.{len(cve_id)}"}

    return fake_fetch


def make_flaky_fetch():
    inner = make_fake_fetch()

    def flaky_fetch(cve_id, package):
        if package == "bad":
            raise ConnectionError("always down")
        return inner(cve_id, package)

    return flaky_fetch


@pytest.fixture
def worklist(spark):
    return spark.createDataFrame(
        [("CVE-1", "alpha"), ("CVE-22", "beta"), ("CVE-1", "missing"),
         ("CVE-1", "alpha")],  # duplicate collapses
        "cve_id string, package string",
    )


def test_enrich_runs_on_executors_with_results(spark, worklist):
    src = UpstreamSource("fake", make_fake_fetch(), RESULT_SCHEMA, priority=5)
    out = enrich_map_in_pandas(worklist, src).collect()
    rows = {(r.cve_id, r.package): (r.found, r.fixed_version) for r in out}
    assert len(rows) == 3  # distinct keys only
    assert rows[("CVE-1", "alpha")] == (True, "alpha-1.5")
    assert rows[("CVE-22", "beta")] == (True, "beta-1.6")
    assert rows[("CVE-1", "missing")] == (False, None)


def test_enrich_failed_rows_surface_as_nulls(spark):
    wl = spark.createDataFrame(
        [("CVE-1", "ok"), ("CVE-2", "bad")], "cve_id string, package string"
    )
    src = UpstreamSource(
        "flaky", make_flaky_fetch(), RESULT_SCHEMA, max_retries=2, backoff_s=0.0
    )
    rows = {r.package: r for r in enrich_map_in_pandas(wl, src).collect()}
    assert rows["ok"].found is True
    assert rows["bad"].found is None and rows["bad"].fixed_version is None

