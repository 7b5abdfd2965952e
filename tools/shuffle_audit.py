"""Shuffle-volume audit: quantify bytes moved per registry entry.

The plan audit (tools/plan_audit.py) proves plan SHAPE (pushdown,
join strategies, codegen); this tool measures the actual shuffle
read/write and input bytes per query via the Spark UI REST API,
attributing stages to queries with job groups. Shuffle bytes are the
scale currency — a query that reads 200 MB but shuffles 2 MB is
design-right; one that shuffles what it reads will melt a 1000-node
cluster's network at 100 TB.

Writes SHUFFLE.md. Usage: python tools/shuffle_audit.py [sf_dir]
"""

from __future__ import annotations

import gc
import json
import sys
import urllib.request

sys.path.insert(0, ".")

from advisorydatapipeline_spark.session import get_spark  # noqa: E402
from advisorydatapipeline_spark.registry import QUERIES  # noqa: E402


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # session.py disables the UI for bench hygiene; the REST metrics
    # endpoint needs it
    spark = get_spark(
        "shuffle-audit", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    if not ui:
        print("Spark UI disabled; cannot audit")
        return 1
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # warm (JVM + Arrow) outside any audited group
    QUERIES["flagship_advisory_resolution"](
        spark, "/root/testdata/sf0.001"
    ).write.format("noop").mode("overwrite").save()

    rows = []
    for name in QUERIES:
        sc.setJobGroup(name, name)
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()
        gc.collect()

        jobs = _get(f"{base}/jobs?status=succeeded")
        stage_ids = set()
        for j in jobs:
            if j.get("jobGroup") == name:
                stage_ids.update(j.get("stageIds", []))
        inp = srd = swr = 0
        for st in _get(f"{base}/stages?status=COMPLETE"):
            if st["stageId"] in stage_ids:
                inp += st.get("inputBytes", 0)
                srd += st.get("shuffleReadBytes", 0)
                swr += st.get("shuffleWriteBytes", 0)
        mb = 1024 * 1024
        rows.append((name, inp / mb, swr / mb, srd / mb))
        print(
            f"  {name}: input {inp/mb:.1f} MB, shuffle write "
            f"{swr/mb:.2f} MB, shuffle read {srd/mb:.2f} MB"
        )

    with open("SHUFFLE.md", "w") as f:
        f.write("# SHUFFLE — data-movement audit\n\n")
        f.write(
            f"Per-query bytes at `{sf_dir}` (REST /stages, stages "
            "attributed via job groups; noop sink so no result-size "
            "bias). Absolute shuffle-write MB is the scale currency — "
            "it is what the cluster network carries. Caveats: "
            "inputBytes undercounts short-circuit local/cached reads, "
            "and repeated small-file scans overcount footers, so "
            "compare shuffle columns, not ratios. Reference table "
            "sizes at sf0.1: lineitem 10.8 MB, orders 2.7 MB, events "
            "2.0 MB, documents 0.6 MB, embeddings 0.8 MB.\n\n"
        )
        f.write("| query | input MB | shuffle write MB | shuffle read MB |\n")
        f.write("|---|---|---|---|\n")
        for name, i, w, r in rows:
            f.write(f"| `{name}` | {i:.1f} | {w:.2f} | {r:.2f} |\n")
    print("SHUFFLE.md written")
    return 0


if __name__ == "__main__":
    sys.exit(main())
