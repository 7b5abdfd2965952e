#!/usr/bin/env python
"""Single-command pipeline driver: ingest -> enrich -> state machine.

The literal CLI twin of the reference's ``run.py`` (reference
run.py:57-59 runs its ingestion, enrichment and state-machine
pipelines back to back with a timestamp run id); here the
same three phases are ``pipeline.run_pipeline`` over this engine's
operators, with the same guarantees (run-id staging isolation,
TTL-cached enrichment, upsert-to-prod last).

Inputs: ``--advisories`` / ``--overrides`` point at parquet, JSON
or CSV files with the reference's data model
(advisories: package_name, cve_id, fixed_version;
overrides: cve_id, package, status, fixed_version, internal_status).
Without them, a small deterministic demo dataset runs end to end —
useful as a smoke and as the executable documentation of the data
contract. Enrichment uses the offline demo resolver unless the caller
wires a real fetch in code (network calls are a policy decision, not
a CLI default).

Usage:
    python run.py [--base /tmp/adp_pipeline] [--run-id ID]
                  [--ttl-hours 24] [--advisories F] [--overrides F]
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timezone

sys.path.insert(0, ".")


def _fmt(path: str) -> str:
    if path.endswith((".json", ".jsonl")):
        return "json"
    return "csv" if path.endswith(".csv") else "parquet"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="/tmp/adp_pipeline")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--ttl-hours", type=float, default=24.0)
    ap.add_argument("--advisories", default=None)
    ap.add_argument("--overrides", default=None)
    args = ap.parse_args()

    from advisorydatapipeline_spark import schemas
    from advisorydatapipeline_spark.config import PipelineConfig
    from advisorydatapipeline_spark.operators.enrichment import (
        UpstreamSource,
    )
    from advisorydatapipeline_spark.pipeline import (
        NormalizedSource,
        default_normalize,
        run_pipeline,
    )
    from advisorydatapipeline_spark.session import get_spark
    from advisorydatapipeline_spark.sources.io import read_table
    from pyspark.sql import types as T

    now = datetime.now(timezone.utc)
    run_id = args.run_id or now.strftime("%Y%m%d_%H%M%S")
    spark = get_spark(f"advisory_pipeline_{run_id}")

    adv_schema = schemas.ADVISORY_SCHEMA
    ov_schema = schemas.NOT_APPLICABLE_SCHEMA
    if args.advisories:
        advisories = read_table(
            spark, args.advisories, adv_schema, fmt=_fmt(args.advisories)
        )
    else:
        advisories = spark.createDataFrame(
            [
                ("alpha", "CVE-1", None),
                ("beta", "CVE-2", None),
                ("gamma", "CVE-3", None),
            ],
            adv_schema,
        )
    if args.overrides:
        overrides = read_table(
            spark, args.overrides, ov_schema, fmt=_fmt(args.overrides)
        )
    else:
        overrides = spark.createDataFrame(
            [("cve-3", "GAMMA", "Not applicable here", None,
              "not_applicable")],
            ov_schema,
        )

    result_schema = T.StructType(
        [
            T.StructField("found", T.BooleanType(), True),
            T.StructField("upstream_fixed_version", T.StringType(), True),
            T.StructField("upstream_status", T.StringType(), True),
            T.StructField("query_timestamp", T.TimestampType(), True),
        ]
    )

    def demo_fetch(cve_id: str, package: str) -> dict:
        # offline deterministic resolver: CVE-1 has a fix upstream
        if cve_id == "CVE-1":
            return {
                "found": True,
                "upstream_fixed_version": "1.2.3",
                "upstream_status": "analyzed",
                "query_timestamp": now,
            }
        return {"found": False, "query_timestamp": now}

    sources = [
        NormalizedSource(
            upstream=UpstreamSource(
                "nvd", demo_fetch, result_schema, priority=5
            ),
            normalize=default_normalize("nvd", 5, now),
        )
    ]
    cfg = PipelineConfig(
        args.base, cache_ttl_hours=args.ttl_hours, clock=lambda: now
    )
    print(f"run_id={run_id} base={args.base}")
    prod = run_pipeline(
        spark, cfg, run_id,
        advisories=advisories, overrides=overrides, sources=sources,
    )
    prod.show(50, truncate=False)
    print(f"prod rows: {prod.count()}  (prod path: {cfg.prod_path})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
