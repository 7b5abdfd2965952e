"""End-to-end pipeline integration: two consecutive runs over the
reference's data model — bootstrap from empty prod, TTL-cache skip,
terminal-state stickiness, change-type classification, run isolation.
"""

from __future__ import annotations

import shutil
from datetime import datetime, timedelta, timezone
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import types as T

from advisorydatapipeline_spark.config import PipelineConfig
from advisorydatapipeline_spark.operators.enrichment import UpstreamSource
from advisorydatapipeline_spark.pipeline import (
    KEYS,
    NormalizedSource,
    default_normalize,
    run_pipeline,
)
from advisorydatapipeline_spark.plans.advisory_resolution import resolution_sql

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("found", T.BooleanType(), True),
        T.StructField("upstream_fixed_version", T.StringType(), True),
        T.StructField("upstream_status", T.StringType(), True),
        T.StructField("query_timestamp", T.TimestampType(), True),
    ]
)


def make_fetch(version_map):
    ts = T0

    def fetch(cve_id, package):
        v = version_map.get((cve_id, package))
        if v is None:
            return {"found": False, "query_timestamp": ts}
        return {
            "found": True,
            "upstream_fixed_version": v,
            "upstream_status": "analyzed",
            "query_timestamp": ts,
        }

    return fetch


def adv_df(spark, rows):
    return spark.createDataFrame(
        rows, "package_name string, cve_id string, fixed_version string"
    )


def ov_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "cve_id string, package string, status string, "
        "fixed_version string, internal_status string",
    )


def source(name, fetch, priority, now):
    return NormalizedSource(
        upstream=UpstreamSource(name, fetch, RESULT_SCHEMA, priority=priority),
        normalize=default_normalize(name, priority, now),
    )


@pytest.fixture
def cfg_base(tmp_path):
    return str(tmp_path / "pipeline")


def test_two_runs_full_lifecycle(spark, cfg_base):
    advisories = adv_df(
        spark,
        [
            ("alpha", "CVE-1", None),
            ("beta", "CVE-2", None),
            ("gamma", "CVE-3", None),
        ],
    )
    overrides = ov_df(
        spark,
        [("cve-3", "GAMMA", "Not applicable here", None, "not_applicable")],
    )

    # ---- run 1: bootstrap (prod does not exist yet) ----
    cfg1 = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda: T0)
    fetch1 = make_fetch({("CVE-1", "alpha"): "1.2.3"})  # CVE-2 not found
    prod1 = run_pipeline(
        spark, cfg1, "r1",
        advisories=advisories, overrides=overrides,
        sources=[source("nvd", fetch1, 5, T0)],
    )
    rows1 = {(r.cve_id, r.package): r for r in prod1.collect()}
    assert len(rows1) == 3
    r1_a = rows1[("CVE-1", "alpha")]
    assert r1_a.status == "fixed" and r1_a.change_type == "new"
    assert r1_a.fixed_version == "1.2.3" and r1_a.data_source == "nvd"
    r1_b = rows1[("CVE-2", "beta")]
    # not found -> will_not_fix candidate; unknown->will_not_fix is
    # INVALID so the state stays unknown and the row is new+invalid
    assert r1_b.status == "unknown" and r1_b.transition_valid is False
    r1_c = rows1[("CVE-3", "gamma")]
    assert r1_c.status == "not_applicable" and r1_c.data_source == "manual"
    assert r1_c.priority == 100

    # ---- run 2: an hour later (inside TTL) ----
    t1 = T0 + timedelta(hours=1)
    cfg2 = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda: t1)
    # upstream now claims CVE-1 lost its fix and CVE-2 got one — but
    # CVE-1/CVE-2 are fresh in the cache, so NOTHING is re-fetched;
    # a new advisory CVE-4 is fetched and enriched
    advisories2 = adv_df(
        spark,
        [
            ("alpha", "CVE-1", None),
            ("beta", "CVE-2", None),
            ("gamma", "CVE-3", None),
            ("delta", "CVE-4", None),
        ],
    )
    # capture the inner closure (pickled by value); referencing the
    # module-global make_fetch from inside the shipped function would
    # pickle by reference to this unimportable test module
    inner2 = make_fetch({("CVE-4", "delta"): "9.9"})

    def spying_fetch(cve_id, package):
        return inner2(cve_id, package)

    prod2 = run_pipeline(
        spark, cfg2, "r2",
        advisories=advisories2, overrides=overrides,
        sources=[source("nvd", spying_fetch, 5, t1)],
    )
    rows2 = {(r.cve_id, r.package): r for r in prod2.collect()}
    assert len(rows2) == 4
    assert rows2[("CVE-4", "delta")].status == "fixed"
    assert rows2[("CVE-4", "delta")].change_type == "new"
    # fixed is terminal -> sticky even with no fresh enrichment
    assert rows2[("CVE-1", "alpha")].status == "fixed"

    # ---- run 3: past the TTL; CVE-2 now has an upstream fix ----
    t2 = T0 + timedelta(hours=25)
    cfg3 = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda: t2)
    fetch3 = make_fetch(
        {("CVE-2", "beta"): "2.0", ("CVE-1", "alpha"): "1.2.3"}
    )
    prod3 = run_pipeline(
        spark, cfg3, "r3",
        advisories=advisories2, overrides=overrides,
        sources=[source("nvd", fetch3, 5, t2)],
    )
    rows3 = {(r.cve_id, r.package): r for r in prod3.collect()}
    r3_b = rows3[("CVE-2", "beta")]
    # unknown -> fixed is valid: status change recorded
    assert r3_b.status == "fixed" and r3_b.change_type == "status_changed"
    assert r3_b.previous_status == "unknown"
    # terminal stickiness again for CVE-1 (fixed -> fixed, unchanged)
    assert rows3[("CVE-1", "alpha")].status == "fixed"
    assert rows3[("CVE-1", "alpha")].change_type == "enriched_unchanged"

    # ---- structural guarantees ----
    base = Path(cfg_base)
    # every run staged under its own prefix (run isolation)
    for rid in ("r1", "r2", "r3"):
        assert (base / "staging" / f"run_id={rid}" / "sources" / "data").exists()
    # exactly one prod table, no leftover temp swap dir
    assert (base / "prod" / "state_machine" / "cve_state_machine").exists()
    assert not (
        base / "prod" / "state_machine" / "cve_state_machine__tmp"
    ).exists()
    assert (base / "enrichment_cache").exists()
    assert not (base / "enrichment_cache__tmp").exists()


def test_ttl_cache_skips_fresh_keys(spark, cfg_base):
    advisories = adv_df(spark, [("alpha", "CVE-1", None)])
    overrides = ov_df(spark, [])
    calls = []

    def counting_fetch(cve_id, package):
        calls.append((cve_id, package))
        return {"found": True, "upstream_fixed_version": "1.0",
                "upstream_status": "analyzed", "query_timestamp": T0}

    cfg = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda: T0)
    src = [source("nvd", counting_fetch, 5, T0)]
    run_pipeline(spark, cfg, "a", advisories=advisories,
                 overrides=overrides, sources=src)
    run_pipeline(spark, cfg, "b", advisories=advisories,
                 overrides=overrides, sources=src)
    # the fetch function runs on executors; len(calls) is only visible
    # driver-side in local mode, where the closure is shared — the
    # robust signal is the staged raw table: run b stages an EMPTY raw
    # enrichment because the only key was cache-fresh
    import pyarrow.parquet as pq
    from pathlib import Path

    raw_b = Path(cfg_base) / "staging" / "run_id=b" / "enrichment" / "raw" / "nvd"
    files = list(raw_b.glob("*.parquet"))
    n = sum(pq.read_metadata(f).num_rows for f in files)
    assert n == 0


def test_two_sources_priority_wins_and_views_registered(spark, cfg_base):
    advisories = adv_df(spark, [("alpha", "CVE-1", None), ("beta", "CVE-2", None)])
    overrides = ov_df(spark, [])
    cfg = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda: T0)
    low = make_fetch({("CVE-1", "alpha"): "1.0"})
    high = make_fetch({("CVE-1", "alpha"): "2.0"})
    prod = run_pipeline(
        spark, cfg, "two",
        advisories=advisories, overrides=overrides,
        sources=[source("nvd", low, 5, T0), source("ghsa", high, 9, T0)],
    )
    row = {(r.cve_id, r.package): r for r in prod.collect()}[("CVE-1", "alpha")]
    assert row.status == "fixed" and row.fixed_version == "2.0"
    assert row.data_source == "ghsa" and row.priority == 9

    # each phase hands its staged output on as a temp view
    assert spark.table("raw_data").count() == 2
    assert spark.table("raw_not_applicable_cves").count() == 0
    norm = spark.table("normalized_enrichment")
    assert sorted(r.enrichment_source for r in norm.collect()) == [
        "ghsa", "ghsa", "nvd", "nvd",
    ]
    assert spark.table("processed_cve_state_machine").count() == 2


def test_duplicate_source_names_rejected_before_any_write(spark, cfg_base):
    fetch = make_fetch({("CVE-1", "alpha"): "1.0"})
    cfg = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda: T0)
    base = Path(cfg_base)
    for run_id, sources, match in [
        ("dup", [source("nvd", fetch, 5, T0), source("nvd", fetch, 3, T0)], "'nvd'"),
        ("none", [], "no enrichment sources"),
    ]:
        with pytest.raises(ValueError, match=match):
            run_pipeline(
                spark, cfg, run_id,
                advisories=adv_df(spark, [("alpha", "CVE-1", None)]),
                overrides=ov_df(spark, []),
                sources=sources,
            )
        assert not (base / "staging" / f"run_id={run_id}" / "enrichment").exists()
        assert not (base / "enrichment_cache").exists()
        assert not (base / "prod").exists()


def _staged_raw_rows(cfg_base, run_id, source_name):
    import pyarrow.parquet as pq

    raw = (
        Path(cfg_base) / "staging" / f"run_id={run_id}" / "enrichment"
        / "raw" / source_name
    )
    return sum(pq.read_metadata(f).num_rows for f in raw.glob("*.parquet"))


def test_upstream_outage_is_not_cached(spark, cfg_base):
    """A fetch that exhausts its retries is not an answer: the key
    keeps its prod state, its cache entry is not refreshed, and the
    next run fetches it again."""
    advisories = adv_df(spark, [("alpha", "CVE-1", None)])
    overrides = ov_df(spark, [])

    def cached_at():
        rows = spark.read.parquet(str(Path(cfg_base) / "enrichment_cache"))
        return [r.last_accessed for r in rows.collect()]

    def run(run_id, at, fetch):
        cfg = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda: at)
        src = NormalizedSource(
            upstream=UpstreamSource(
                "nvd", fetch, RESULT_SCHEMA, priority=5, backoff_s=0.0
            ),
            normalize=default_normalize("nvd", 5, at),
        )
        prod = run_pipeline(
            spark, cfg, run_id,
            advisories=advisories, overrides=overrides, sources=[src],
        )
        return {(r.cve_id, r.package): r for r in prod.collect()}[
            ("CVE-1", "alpha")
        ]

    inner = make_fetch({})

    def found_without_fix(cve_id, package):
        return inner(cve_id, package) | {"found": True}

    def outage(cve_id, package):
        raise ConnectionError("upstream unavailable")

    row = run("r1", T0, found_without_fix)
    assert row.status == "pending_upstream"
    first_fetch = cached_at()

    # past the TTL, the upstream is down for every retry
    row = run("r2", T0 + timedelta(hours=25), outage)
    assert _staged_raw_rows(cfg_base, "r2", "nvd") == 1
    assert row.status == "pending_upstream"
    assert row.change_type == "unchanged"
    assert row.data_source == "production"
    assert cached_at() == first_fetch

    # the upstream is back: the key is fetched again, not cache-skipped
    fixed = make_fetch({("CVE-1", "alpha"): "1.0"})

    def recovered(cve_id, package):
        return fixed(cve_id, package)

    row = run("r3", T0 + timedelta(hours=26), recovered)
    assert _staged_raw_rows(cfg_base, "r3", "nvd") == 1
    assert row.status == "fixed"
    assert row.change_type == "status_changed"


# --- the resolution text, run by DuckDB over the pipeline's relations -------

PROCESSED_COLS = (
    "cve_id, package, status, previous_status, fixed_version, customer_text, "
    "data_source, priority, enrichment_timestamp, transition_valid, "
    "transition_reason, change_type"
)


def duckdb_resolve(master, overrides, enrichment, prior):
    """``resolution_sql`` in DuckDB, with the state-machine phase's
    column mapping written as CTEs over four SELECTs that return the
    phase's inputs: staged advisories, overrides, normalized
    enrichment and the prod snapshot."""
    text = resolution_sql(KEYS, KEYS).format(
        master="master", overrides="overrides", enrichment="enrichment",
        prior="prior",
    )
    return duckdb.sql(f"""
WITH master AS (
  SELECT DISTINCT cve_id, package_name AS package,
         fixed_version AS advisory_version FROM ({master})
), overrides AS (
  SELECT DISTINCT lower(cve_id) AS cve_id, lower(package) AS package,
         internal_status AS ov_state, status AS ov_text,
         fixed_version AS ov_version FROM ({overrides})
), enrichment AS (
  SELECT cve_id, package, state AS enrich_state,
         customer_text AS enrich_text, fixed_version AS enrich_version,
         priority AS enrich_priority, enrichment_timestamp AS enrich_ts,
         enrichment_source AS enrich_tiebreak,
         enrichment_source AS enrich_source FROM ({enrichment})
), prior AS (
  SELECT cve_id, package, status AS prod_state FROM ({prior})
)
SELECT {PROCESSED_COLS} FROM ({text}) resolved""").fetchall()


def test_manual_override_sets_prod_state(spark, cfg_base):
    """A manual override sets the state even where the FSM forbids the
    transition from prod (fixed -> not_applicable, will_not_fix ->
    pending_upstream): the row reads status_changed, never blocked."""
    advisories = adv_df(spark, [("alpha", "CVE-1", None), ("beta", "CVE-2", None)])
    fetch = make_fetch({("CVE-1", "alpha"): "1.0"})
    runs = [
        (T0, [("CVE-2", "beta", "Declined", None, "will_not_fix")]),
        (T0 + timedelta(hours=1), [
            ("cve-1", "ALPHA", "Not shipped", None, "not_applicable"),
            ("CVE-2", "beta", "Reopened", None, "pending_upstream"),
        ]),
    ]
    for i, (at, ov_rows) in enumerate(runs):
        cfg = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda at=at: at)
        prod = run_pipeline(
            spark, cfg, f"r{i + 1}",
            advisories=advisories, overrides=ov_df(spark, ov_rows),
            sources=[source("nvd", fetch, 5, at)],
        )
        rows = {(r.cve_id, r.package): r for r in prod.collect()}
        if i == 0:
            assert rows[("CVE-1", "alpha")].status == "fixed"
            assert rows[("CVE-2", "beta")].status == "will_not_fix"
    got = {
        k: (r.previous_status, r.status, r.change_type, r.data_source)
        for k, r in rows.items()
    }
    assert got == {
        ("CVE-1", "alpha"): ("fixed", "not_applicable", "status_changed", "manual"),
        ("CVE-2", "beta"): (
            "will_not_fix", "pending_upstream", "status_changed", "manual",
        ),
    }

    # the same two rows through the resolution text in DuckDB
    no_rows = (
        "SELECT 'x' AS cve_id, 'x' AS package, 'x' AS state, "
        "'x' AS customer_text, 'x' AS fixed_version, 1 AS priority, "
        "TIMESTAMP '2026-01-01' AS enrichment_timestamp, "
        "'x' AS enrichment_source WHERE FALSE"
    )
    resolved = duckdb_resolve(
        "SELECT * FROM (VALUES ('alpha', 'CVE-1', NULL), ('beta', 'CVE-2', NULL)) "
        "t(package_name, cve_id, fixed_version)",
        "SELECT * FROM (VALUES "
        "('cve-1', 'ALPHA', 'Not shipped', NULL, 'not_applicable'), "
        "('CVE-2', 'beta', 'Reopened', NULL, 'pending_upstream')) "
        "t(cve_id, package, status, fixed_version, internal_status)",
        no_rows,
        "SELECT * FROM (VALUES ('CVE-1', 'alpha', 'fixed'), "
        "('CVE-2', 'beta', 'will_not_fix')) t(cve_id, package, status)",
    )
    assert {
        (r[0], r[1]): (r[3], r[2], r[11], r[6]) for r in resolved
    } == got


def test_state_machine_phase_matches_duckdb_text(spark, cfg_base, tmp_path):
    """Run 2 of a two-run fixture, so prod is not empty: the phase's
    staged ``processed`` rows equal DuckDB running the same resolution
    text over the same staged inputs and the pre-run prod snapshot."""
    base = Path(cfg_base)
    advisories = [("alpha", "CVE-1", "0.1"), ("beta", "CVE-2", None),
                  ("gamma", "CVE-3", None), ("delta", "CVE-4", None)]
    runs = [
        (T0, advisories,
         [("cve-3", "GAMMA", "Not applicable here", None, "not_applicable")],
         {"CVE-1": "1.0"}, {"CVE-1": "0.9", "CVE-2": "2.0"}),
        # past the TTL: every key not overridden is fetched again
        (T0 + timedelta(hours=25), advisories + [("epsilon", "CVE-5", "5.0")],
         [("cve-3", "GAMMA", "Not applicable here", None, "not_applicable"),
          ("CVE-1", "Alpha", "Withdrawn", "1.1", "will_not_fix")],
         {"CVE-4": "4.0"}, {"CVE-2": "2.1", "CVE-5": "5.1"}),
    ]
    for i, (at, adv_rows, ov_rows, nvd, osv) in enumerate(runs):
        if i == 1:
            shutil.copytree(
                base / "prod" / "state_machine" / "cve_state_machine",
                tmp_path / "prior",
            )
        pkg = {cve: p for p, cve, _ in adv_rows}
        cfg = PipelineConfig(cfg_base, cache_ttl_hours=24.0, clock=lambda at=at: at)
        run_pipeline(
            spark, cfg, f"r{i + 1}",
            advisories=adv_df(spark, adv_rows), overrides=ov_df(spark, ov_rows),
            sources=[
                source("nvd", make_fetch({(c, pkg[c]): v for c, v in nvd.items()}), 5, at),
                source("osv", make_fetch({(c, pkg[c]): v for c, v in osv.items()}), 3, at),
            ],
        )

    r2 = base / "staging" / "run_id=r2"

    def scan(path):
        return f"SELECT * FROM read_parquet('{path}/*.parquet')"

    want = duckdb_resolve(
        scan(r2 / "sources" / "data"),
        scan(r2 / "sources" / "not_applicable_cves"),
        "SELECT * FROM read_parquet("
        f"'{r2}/enrichment/normalized/*/*.parquet', hive_partitioning = false)",
        scan(tmp_path / "prior"),
    )
    got = duckdb.sql(
        f"SELECT {PROCESSED_COLS} FROM "
        f"read_parquet('{r2}/state_machine/processed/*.parquet')"
    ).fetchall()
    assert len(got) == 5
    assert sorted(got, key=repr) == sorted(want, key=repr)
    changes = {r[0]: r[11] for r in got}
    assert changes == {
        "CVE-1": "status_changed", "CVE-2": "blocked",
        "CVE-3": "enriched_unchanged", "CVE-4": "status_changed",
        "CVE-5": "new",
    }


def test_duplicate_keys_resolve_the_same_in_any_row_order(spark, cfg_base):
    """Two advisories for one key with different ``fixed_version``s,
    and two overrides whose keys differ only in case: the staged rows
    do not depend on which row comes first."""
    adv_rows = [("alpha", "CVE-1", "1.0"), ("alpha", "CVE-1", "2.0"),
                ("beta", "CVE-2", None)]
    ov_rows = [("CVE-2", "BETA", "Not shipped", None, "not_applicable"),
               ("cve-2", "beta", "Declined", "3.0", "will_not_fix")]
    staged = []
    for k, order in enumerate((lambda r: r, lambda r: r[::-1])):
        cfg = PipelineConfig(f"{cfg_base}_{k}", cache_ttl_hours=24.0, clock=lambda: T0)
        run_pipeline(
            spark, cfg, "r1",
            # one partition, so the first row read is the first row given
            advisories=adv_df(spark, order(adv_rows)).coalesce(1),
            overrides=ov_df(spark, order(ov_rows)).coalesce(1),
            sources=[source("nvd", make_fetch({}), 5, T0)],
        )
        staged.append(sorted(duckdb.sql(
            f"SELECT {PROCESSED_COLS} FROM read_parquet("
            f"'{cfg_base}_{k}/staging/run_id=r1/state_machine/processed/*.parquet')"
        ).fetchall(), key=repr))
    assert staged[0] == staged[1]
    got = {r[0]: (r[2], r[4], r[5]) for r in staged[0]}
    # the greatest fixed_version; the greatest (internal_status, ...)
    assert got == {
        "CVE-1": ("unknown", "2.0", "Awaiting upstream fix"),
        "CVE-2": ("will_not_fix", "3.0", "Declined"),
    }
