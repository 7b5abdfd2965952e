#!/usr/bin/env python
"""Benchmark harness: every registry entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "sf": ...,
   "core_total": sec, "extended_total": sec, "n_extended": N,
   "queries": {core_name: sec, ...}}

Two tiers (round-5 restructure — the driver's artifact keeps only a
bounded tail of this line, so the old single 131-query dict lost its
head and rounds could not be compared per-query):

- CORE: a stable literal set of 51 queries, one per subsystem,
  reported in the stdout ``queries`` dict EVERY round in full — the
  longitudinal comparison set. Kept small enough that the whole JSON
  line survives a reader that keeps only its tail.
- EXTENDED: every other registry entry, in registry order (derived
  from ``QUERIES``; there is no second list to keep in sync). Timed
  in the same run and summarized on stdout (``extended_total``).

``--out FILE`` writes the full per-query record for BOTH tiers (plus
the [min, max] spread when ``--reps`` > 1 and the solo/load
disclosure) to FILE; ``full_timings`` on stdout is its basename. Without
``--out`` the run writes no file.

Each query is fully materialized via the `noop` sink (forces the
whole plan, no driver collect, no result-size bias).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from advisorydatapipeline_spark.registry import QUERIES  # noqa: E402
from advisorydatapipeline_spark.session import get_spark  # noqa: E402

# Stable longitudinal tier — do NOT reorder or remove entries; append
# only with a round note. One representative per subsystem plus the
# historically watched queries.
CORE = [
    "flagship_advisory_resolution",
    "pricing_summary",
    "revenue_topn",
    "local_supplier_revenue",
    "sessionization",
    "window_top1_per_key",
    "upsert_anti_union",
    "state_machine_native",
    "jdbc_live_scan",
    "advisory_datasource_scan",
    "media_metadata",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_simhash64",
    "dedup_clusters",
    "dedup_containment",
    "dedup_jaccard_prefix",
    "duplicate_passages",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "dedup_embedding_rhp",
    "text_quality",
    "text_lang_id",
    "tfidf_top_terms",
    "bm25_doc_ranking",
    "doc_chunks",
    "sample_stratified",
    "pii_scrub",
    "sequence_packing",
    "curation_pipeline",
    "hll_shard_union",
    "theta_set_overlap",
    "freq_sketch_merge",
    "bitmap_exact_distinct",
    "countmin_estimates",
    "kmv_distinct_sketch",
    "modern_sql_aggregates",
    "pagerank_suppliers",
    "bfs_reachable_hops",
    "neardup_triangles",
    "syndicated_families",
    "asof_join_last_view",
    "range_join_views_before_purchase",
    "window_analytics",
    "skew_salted_agg",
    "streaming_hourly_counts",
    "streaming_dedup_pairs",
    "bpe_pair_ranks",
]

# Labeled-quadratic baseline entries (r12 verdict item 1): kept
# registry-green as recall/completeness oracles, but EXCLUDED from the
# default bench tiers so no round's timing artifact silently executes
# an O(n^2) plan. Still measurable explicitly via --only. The
# operators behind them additionally carry input-size guards
# (operators/dedup.QUADRATIC_GUARD_DOCS,
# operators/similarity.QUADRATIC_GUARD_PAIRS).
QUADRATIC_BASELINE = [
    "dedup_jaccard_prefix",
    "bitext_margin_mining",
]

# Everything else in the registry, in registry order.
EXTENDED = [n for n in QUERIES if n not in CORE]


def _spark_pids() -> dict[int, int]:
    """pid -> ppid for every OTHER process on the box that looks like
    a Spark JVM or a pyspark worker/daemon. Pollution disclosure
    (r10 verdict item 8): local mode shares all 32 cores, so a
    concurrent Spark process inflates individual queries 3-8x — the
    committed artifact must make that machine-detectable, not a
    narrative claim in the round notes."""
    me = os.getpid()
    out: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) == me:
            continue
        pid = int(p)
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\x00", b" ").decode(
                    "utf-8", "replace"
                )
            with open(f"/proc/{p}/stat") as f:
                # field 4 (after the parenthesized comm) is ppid
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if (
            "org.apache.spark" in cmd
            or "pyspark.daemon" in cmd
            or "pyspark.worker" in cmd
        ):
            out[pid] = ppid
    return out


def _foreign_spark_pids() -> list[int]:
    """Spark-ish pids that are NOT descendants of this process (our
    own py4j JVM and its pyspark daemons are expected)."""
    me = os.getpid()
    tree = _spark_pids()
    # complete the ancestor walk through non-Spark intermediaries
    all_ppid: dict[int, int] = dict(tree)

    def _ppid(pid: int) -> int:
        if pid in all_ppid:
            return all_ppid[pid]
        try:
            with open(f"/proc/{pid}/stat") as f:
                pp = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            pp = 0
        all_ppid[pid] = pp
        return pp

    foreign = []
    for pid in tree:
        cur, hops = pid, 0
        while cur not in (0, 1, me) and hops < 64:
            cur = _ppid(cur)
            hops += 1
        if cur != me:
            foreign.append(pid)
    return sorted(foreign)


def main() -> None:
    import argparse
    import statistics

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--reps",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_REPS", "1")),
        help="back-to-back reps per query; each entry reports the "
        "MEDIAN of its reps, and the --out artifact adds the "
        "[min, max] spread",
    )
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated query names: run ONLY these "
        "(targeted solo re-measure; tools/ab.py drives it)",
    )
    ap.add_argument(
        "--out",
        default="",
        help="write the full per-query artifact to this path; "
        "without it the run writes no file",
    )
    args = ap.parse_args()
    reps = max(1, args.reps)
    only = [n for n in args.only.split(",") if n]
    unknown = [n for n in only if n not in QUERIES]
    if unknown:
        raise SystemExit(f"--only names not in registry: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # pollution disclosure, sampled BEFORE our own session exists
    loadavg_start = [round(v, 2) for v in os.getloadavg()]
    foreign_start = _foreign_spark_pids()
    spark = get_spark("bench")

    # warm the session outside the timed region: JVM/codegen init,
    # shuffle service, and Python-worker (Arrow) startup
    warm_dir = "/root/testdata/sf0.001"
    # flagship/media warm the JVM + Arrow paths; the advisory read
    # warms Python DataSource worker spinup (one-time per process)
    for warm_name in (
        "flagship_advisory_resolution",
        "media_metadata",
        "advisory_datasource_scan",
    ):
        QUERIES[warm_name](spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    spark.catalog.clearCache()

    import gc

    # Default tiers exclude the labeled-quadratic baselines — logged,
    # not silent; an explicit --only still measures them.
    skipped_quadratic = (
        []
        if only  # targeted runs name their scope explicitly
        else [n for n in QUADRATIC_BASELINE if n in CORE + EXTENDED]
    )
    run_list = [
        n
        for n in CORE + EXTENDED
        if (n in only if only else n not in QUADRATIC_BASELINE)
    ]
    if skipped_quadratic:
        print(
            "bench: excluding labeled-quadratic baselines "
            f"{skipped_quadratic} from the default tier "
            "(r12 verdict item 1; measure explicitly with --only)",
            file=sys.stderr,
        )
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in run_list:
        fn = QUERIES[name]
        samples: list[float] = []
        for _rep in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            # per-query isolation: unpersist caches AND release dropped
            # localCheckpoint/persisted RDDs (driver gc ->
            # ContextCleaner) + JVM old-gen, so one query's garbage
            # isn't billed to the next query's (or rep's) timing
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        timings[name] = round(statistics.median(samples), 3)
        spread[name] = [min(samples), max(samples)]

    loadavg_end = [round(v, 2) for v in os.getloadavg()]
    foreign_end = _foreign_spark_pids()
    solo = not foreign_start and not foreign_end

    core_total = round(sum(timings[n] for n in CORE if n in timings), 3)
    ext_total = round(
        sum(timings[n] for n in EXTENDED if n in timings), 3
    )

    # Full per-query record (both tiers) -> the --out artifact, immune
    # to a reader that keeps only the tail of the stdout line.
    local = {
        "sf": float(sf),
        "reps": reps,
        "core_total": core_total,
        "extended_total": ext_total,
        "total": round(core_total + ext_total, 3),
        "core": {n: timings[n] for n in CORE if n in timings},
        "extended": {n: timings[n] for n in EXTENDED if n in timings},
        # machine-detectable pollution disclosure (r10 verdict item 8)
        "solo": solo,
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "concurrent_spark_pids_start": foreign_start,
        "concurrent_spark_pids_end": foreign_end,
        "excluded_quadratic": skipped_quadratic,
    }
    if only:
        local["only"] = only
    if reps > 1:
        # per-query [min, max] across reps — the noise envelope
        local["spread"] = spread
    if args.out:
        with open(args.out, "w") as f:
            json.dump(local, f, indent=1, sort_keys=False)
            f.write("\n")

    # Key order matters: a reader that keeps only the LAST ~2000 chars
    # of this line loses the head of the core timings (all preserved
    # in the --out artifact), never the headline totals, which go last.
    print(
        json.dumps(
            {
                "queries": {
                    n: timings[n] for n in CORE if n in timings
                },
                "full_timings": os.path.basename(args.out),
                "n_core": len(CORE),
                "n_extended": len(EXTENDED),
                "excluded_quadratic": skipped_quadratic,
                "reps": reps,
                "core_total": core_total,
                "extended_total": ext_total,
                "sf": float(sf),
                "unit": "sec",
                "value": round(core_total + ext_total, 3),
                "metric": "query wall time, local[*] at sf=" + sf,
            }
        )
    )


if __name__ == "__main__":
    main()
