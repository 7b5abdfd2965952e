#!/usr/bin/env python
"""Dump .explain('formatted') for named registry entries into
DIR/<name>_<tag>.txt (before/after plan evidence for an optimization;
plan claims are checked against these files).

Usage: python tools/plan_dump.py --out DIR <tag> <query> [<query> ...]
Reads ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, ".")

from advisorydatapipeline_spark.registry import QUERIES  # noqa: E402
from advisorydatapipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("tag")
    ap.add_argument("names", nargs="+", metavar="query")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-dump")
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
