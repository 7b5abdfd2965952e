"""Physical-plan audit: evidence that every registry entry compiles
to the plan you'd want at 100 TB.

For each entry of ``registry.QUERIES`` this explains the plan before
execution (AQE's initial plan) and after ``collect()`` (the executed
plan). PLANS.md's columns and join/pushdown lines come from the
initial plan, with node numbers stripped, so two runs of the same code
write the same file; the executed plan re-picks joins and codegen
spans from run to run. Red flags are checked on the executed plan:
CartesianProduct or BroadcastNestedLoopJoin in an entry not in
NESTED_LOOP_OK, or a partition-less window in an entry not in
GLOBAL_WINDOW_OK. Both allowlists give each entry's reason; any red
flag makes the tool exit nonzero.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from advisorydatapipeline_spark.session import get_spark  # noqa: E402
from advisorydatapipeline_spark.registry import QUERIES
import advisorydatapipeline_spark.queries  # noqa: F401  (registers)

# documented exceptions: broadcast-side cross joins in the ANN
# exact/assignment plans (operators/similarity.py), and the 1-row
# broadcast global-scalar cross joins (corpus size / global total)
# in tfidf and the Q11 shape
NESTED_LOOP_OK = {
    # 1-row broadcast total_pairs scalar join
    "join_cardinality_whatif",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "tfidf_top_terms",
    "supplier_value_share",
    # 1-row broadcast global-scalar cross joins (stage-count scalars /
    # corpus totals) — single-row build side, not a data-scale loop
    "funnel_analysis",
    "training_mix_plan",
    # Spark's NOT IN = null-aware anti join is planned as a broadcast
    # nested loop with a single-column build side by design
    "not_in_antijoin",
    # 1-row broadcast scalars (balance mean + recency cutoff)
    "idle_customer_balance",
    # broadcast anchor set scored against the corpus scan — the same
    # exact-scoring plan as ann_cosine_topk
    "contrastive_triplets",
    # broadcast-centroid assignment cross join (the IVF assign plan)
    "kmeans_lloyd_step",
    # 1-row broadcast corpus-total scalar
    "pmi_collocations",
    # 1-row broadcast token-budget scalar (B = total DIV 2)
    "corpus_mixture_waterfill",
    # same 1-row budget scalar, capacities instead of sizes
    "unimax_epoch_mix",
    # 1-row broadcast (min, width) bin-edge scalar + 3-row quantile
    # literals — single/constant-row build sides, not data-scale loops
    "histogram_quantile_estimate",
    # 1-row broadcast (N, sum dl) corpus-stats scalar
    "bm25_doc_ranking",
    # 1-row broadcast corpus-count scalar (candidate map modulus,
    # the clip_pair_gate precedent)
    "tracin_influence_topk",
    # broadcast query-sample cross joins (brute gauge arms, the
    # ann_cosine_topk precedent) + 1-row doc-count broadcast (rrf idf)
    "matryoshka_recall_eval",
    "rrf_fusion_topk",
    # broadcast centroid/probe-list cross joins (the IVF assign plan,
    # kmeans/ann_ivf precedent) + the 1-row doc-count idf broadcast
    "rrf_fusion_ivf",
    # both fusion arms above + 1-row count scalars (recall-ppm)
    "rrf_ivf_recall_eval",
    # 1-row broadcast count scalars (recall-ppm assembly) + the
    # labeled brute-force truth side
    "rhp_recall_eval",
    "ivf_recall_eval",
    # 1-row broadcast overall-mean scalar
    "seasonal_dow_indices",
    # 1-row broadcast corpus-doc-count scalar (df band bounds)
    "inverted_index_postings",
    # 1-row broadcast (min ts, max ts) bounds scalar (midpoint split)
    "ks_value_drift",
    # same 1-row bounds scalar as ks_value_drift (shared split trick)
    "mannwhitney_value_drift",
    # 4-row broadcast global band-distribution table (grid densify)
    "t_closeness_audit",
    # 2-row broadcast lag-list constant (lags 1 and 7)
    "daily_autocorr_moments",
    # 1-row broadcast basket-total scalar
    "basket_pair_lift",
    # 1-row broadcast corpus-token-total scalar (interpolation p1 arm)
    "lm_perplexity_scores",
    # 1-row broadcast corpus-token-total scalar (word-unigram model)
    "mink_prob_membership",
    # 1-row broadcast token-count scalar (per-expert fractions)
    "moe_router_load",
    # 1-row broadcast lower-median estimator scalar beside the exact
    # F2 aggregate
    "ams_f2_moment",
    # 1-row broadcast train-token-total scalar (unigram denominator)
    "jm_lambda_em_step",
    # Kneser-Ney orders 2, 3 and 5 (operators/lm.kneser_ney_plan):
    # one 1-row broadcast count-of-counts model row per discounted
    # level (order - 1 rows, each carrying its level's max_t bound),
    # audited on the lazy seam instead of the checkpointed Scan
    # ExistingRDD
    "kn_bigram_scores",
    "kn_trigram_scores",
    "kn_5gram_scores",
    # 1-row broadcast (Nt, Ns) smoothing-denominator scalar
    "dsir_importance_weights",
    # broadcast-centroid assignment cross joins (seed + refined) —
    # the same IVF-assign plan shape as kmeans_lloyd_step
    "semantic_dedup",
    # 1-row broadcast corpus-mean-surprisal threshold scalar
    "quality_gate_pipeline",
    # 4-row broadcast banding-config constant x 19-row grid (the
    # whole query is constant-size; no data-scale side exists)
    "lsh_s_curve",
    # pairwise-slope self-join runs on the ~30-row daily rollup —
    # quadratic in DAYS by design, never in events
    "theil_sen_trend",
    # 1-row broadcast true-distinct scalar beside the 1-row kth-hash
    "kmv_distinct_sketch",
    # 1-row broadcast (min, max) order-date bounds scalar
    "decile_migration_matrix",
    # broadcast codebook-row / query-table cross joins (the PQ
    # encode + ADC plans) — build sides are 1 row and |queries| rows
    "pq_adc_topk",
    "pq_recall_eval",
    # 1-row broadcast horizon/total scalars on the user-lifetime rollup
    "kaplan_meier_retention",
    # 1-row broadcast (n_baskets, minsup) stats scalar
    "basket_brand_triples",
    # 1-row broadcast k-threshold / alphabet-total scalars
    "k_core_suppliers",
    "char_unigram_surprisal",
    # 1-row broadcast theta / audit-count scalars (MaxScore pruning)
    "bm25_maxscore_topk",
    # broadcast centroid/codebook-row cross joins (coarse assign +
    # residual encode + per-(query,cell) tables) — constant-size
    # build sides; the candidate join itself is an equi-join
    "ivf_pq_topk",
    # 1-row broadcast (n, total) scalar onto the ~30-row daily rollup
    "cusum_changepoint_revenue",
    # 1-row broadcast audit-count scalars beside the pruned join
    "bloom_join_prune",
    # 1-row broadcast leak-count / global-mean scalars
    "temporal_split_leakage",
    "target_encode_segment",
    # tiny variant-expansion cross join (5 constant rows) + 1-row
    # base/total scalars around the ~30-row chain model
    "markov_attribution_removal",
    # broadcast query set scored against the corpus scan (the
    # ann_cosine_topk ground-truth plan) + tiny label joins
    "knn_label_eval",
    # same brute-scoring plan + 1-row histogram-total scalar
    "ann_hubness_audit",
    # brute k-th-neighbor plan (the labeled ground-truth ceiling)
    "knn_distance_outliers",
    # 1-row broadcast last-doc scalar closing the growth curve
    "heaps_vocab_growth",
    # 1-row broadcast corpus-sized grid/minpts scalars
    "dbscan_grid_clusters",
    # 1-row broadcast embedding-count scalar (modular pair map)
    "clip_pair_gate",
    "clip_source_retention",
    # 5-row broadcast rules table theta-joined on a prefix compare —
    # RFC longest-match cannot be an equi-join; build side is the
    # (tiny, constant) robots ruleset
    "robots_txt_gate",
    # exact brute baseline / recall truth for bitext mining; pair
    # scoring is the block-replicated cogroup matmul (no pair-row
    # shuffle); production is bitext_margin_mining_ivf
    "bitext_margin_mining",
    # broadcast centroid cross-joins (8 constant rows) feeding the
    # probe/assign argmins; the candidate generation itself is a
    # cogrouped bucket matmul, pair rows never carry vectors
    "bitext_margin_mining_ivf",
    # both arms above + 1-row accepted-count scalars for the ppm math
    "bitext_ivf_recall",
    # 1-row broadcast normalization-total scalar over the 8-row
    # strength table (both MM-step denominators are equi-joins)
    "bradley_terry_mm_step",
    # 1-row broadcast AUC scalar beside the 10-row bucket table
    "roc_pr_calibration",
    # 1-row broadcast global/base/decomposition scalars (10-bin agg)
    "brier_decomposition_eval",
    # 1-row broadcast corpus-mean / normalization scalars over the
    # k-domain table
    "doremi_domain_reweight",
    # 1-row broadcast instruction-count scalar (df threshold)
    "template_slot_fingerprint",
    # 1-row broadcast (total, sumsq) corpus scalar over the k-source
    # table (the LOO decomposition)
    "source_diversity_loo",
    # inherits robots_txt_gate's tiny-ruleset prefix theta join (its
    # member subtree; see that entry's note)
    "web_corpus_pipeline",
    # two 1-row broadcast count scalars (n_candidates, n_verified)
    # beside the 1-row n_true aggregate (the recall-ppm assembly)
    "lsh_recall_eval",
    # 1-row broadcast (n_rows, n_keys) totals onto the top-N
    # TakeOrdered rows
    "key_skew_profile",
    # broadcast N_CENTROIDS-row (8) centroid set x the embeddings scan:
    # the nearest-centroid assignment, same IVF-assign plan as
    # kmeans_lloyd_step; pairs are then an equi-join per centroid
    "dedup_embedding_cosine",
}

# Global (partition-less) window allowlist: every surviving
# single-partition WindowExec must carry a machine-checkable
# boundedness argument here (r11 verdict item 3). The audit FAILS on
# a global window in any plan whose query is not listed; PLANS.md
# prints the argument next to each detection.
GLOBAL_WINDOW_OK = {
    # --- bounded by a limit in the plan itself -----------------------
    "bm25_maxscore_topk": (
        "rank window input is TakeOrderedAndProject output — at most"
        " k rows by the limit itself, not by a data argument"
    ),
    "bpe_pair_ranks": (
        "rank window over the TakeOrdered top-10 pair rows — bounded"
        " by the limit, never the pair table"
    ),
    # --- windows over per-group / per-bucket aggregate tables --------
    "unimax_epoch_mix": (
        "same per-SOURCE waterfill windows as corpus_mixture_waterfill"
        " (capacities instead of sizes)"
    ),
    "corpus_mixture_waterfill": (
        "water-fill level windows over the per-SOURCE token table"
        " (k sources), documents partial-agg away first"
    ),
    "temperature_mix_rates": (
        "rate windows over the per-source table (k rows)"
    ),
    "temperature_mix_apply": (
        "same per-source table as temperature_mix_rates"
    ),
    "ks_value_drift": (
        "cumulative CDF windows over the fixed cent-bucket table"
        " (value-range / bucket-width rows)"
    ),
    "emd_value_distributions": (
        "same bucket-table CDF windows as ks_value_drift"
    ),
    "mannwhitney_value_drift": (
        "cumulative windows over the distinct-cent-value table;"
        " beyond ~3e9 rows/side the docstring's bucket trick applies"
    ),
    "t_closeness_audit": (
        "EMD windows over the sensitive-value bucket table"
    ),
    "chi2_independence_scan": (
        "windows over the k x m contingency-cell table"
    ),
    "benford_screen": ("windows over the 9-row leading-digit table"),
    "roc_pr_calibration": (
        "cumulative windows over the fixed score-bucket table"
    ),
    "bradley_terry_mm_step": (
        "rank over the k-model strength table (k^2 pair collapse"
        " happens before any window)"
    ),
    "cusum_changepoint_revenue": (
        "cumulative windows over the per-day revenue rollup"
        " (calendar-bounded)"
    ),
    "forecast_backtest_mae": (
        "windows over the per-day series (calendar-bounded)"
    ),
    "interval_concurrency_curve": (
        "running sum over the distinct-boundary-day curve table;"
        " range-partitioned prefix-sum at scale (docstring)"
    ),
    "kaplan_meier_retention": (
        "survival product over the per-lifetime-day table"
        " (horizon-bounded)"
    ),
    "decile_migration_matrix": (
        "ntile over the per-customer rollup x2 halves — exact"
        " quantile semantics require a total order; range-partitioned"
        " sort at scale (same contract as rfm_segments)"
    ),
    "rake_keywords": (
        "only the deduped candidate-phrase table hits the global"
        " top-N window (docstring plan note)"
    ),
    "zipf_slope_tokens": (
        "global rank over the |vocab| term-frequency table"
        " (tens of thousands of rows; docstring)"
    ),
    "heaps_vocab_growth": (
        "cumulative curve window over |docs| first-occurrence rows"
        " (sampled curve; docstring)"
    ),
    "lorenz_revenue_deciles": (
        "ntile over the per-customer revenue rollup (total-order"
        " contract, range-partitioned sort at scale) + share windows"
        " on the 10-row decile table"
    ),
    # --- total-order semantics the operator is DEFINED by ------------
    "rfm_segments": (
        "exact ntile quartiles over the per-customer rollup — the"
        " quartile SEMANTICS are the contract; docstring documents"
        " the broadcast-quantile-cut swap at real scale"
    ),
    "sorted_neighborhood_pairs": (
        "SNM is DEFINED by a global sort order; rank becomes a"
        " range-partitioned sort + per-range offsets at scale"
        " (docstring), window body unchanged"
    ),
    "pareto_skyline": (
        "sort-based skyline needs the frequency total order over the"
        " per-customer point set; range-partitions at scale"
        " (docstring)"
    ),
    "spearman_rank_corr": (
        "deterministic rank windows over the doc-metric table;"
        " docstring documents rank-one-metric-at-a-time / sampling"
        " at 100 TB"
    ),
    "knn_distance_outliers": (
        "global top-N outlier rank over per-point kth-distance"
        " scores — the brute arm is the labeled ground-truth ceiling"
        " (sample-scale; IVF swap documented)"
    ),
    "ams_f2_moment": (
        "lower-median rank over the 16-row estimator table"
        " (constant J, never data-scale)"
    ),
    "crawl_frontier_refresh": (
        "global crawl-order rank over the page universe (fixture:"
        " <=997 pages; a deployment frontier range-partitions the"
        " schedule by next-crawl time)"
    ),
}

# Entries whose registry function eagerly localCheckpoints its result
# (the cache-leak discipline): the registry df explains as a Scan
# ExistingRDD, so auditing it is VACUOUS — the red-flag checks would
# see an empty plan (r14 ADVICE item 1). Each such entry maps to its
# lazy ``*_plan`` seam here; the audit runs on THAT plan (the one the
# cluster actually executes before the checkpoint) and the PLANS.md
# row is labeled "checkpointed (lazy seam)" so the provenance is
# explicit. The same seams are pinned shape-by-shape in
# tests/test_explain_plans.py.


def _seam_kn(order):
    def seam(spark, sf_dir):
        from advisorydatapipeline_spark.operators.lm import kneser_ney_plan
        from advisorydatapipeline_spark.queries.helpers import load

        return kneser_ney_plan(load(spark, sf_dir, "documents"), order)

    return seam


def _seam_duplicate_spans(spark, sf_dir):
    from advisorydatapipeline_spark.operators.suffix import (
        duplicate_span_plan,
    )
    from advisorydatapipeline_spark.queries.helpers import load

    out, dup = duplicate_span_plan(load(spark, sf_dir, "documents"))
    return out, [dup]


CHECKPOINTED = {
    "kn_bigram_scores": _seam_kn(2),
    "kn_trigram_scores": _seam_kn(3),
    "kn_5gram_scores": _seam_kn(5),
    "duplicate_spans_exact": _seam_duplicate_spans,
}

JOIN_PAT = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)


def _toplevel_groups(line: str) -> list[str]:
    """Split an ``Arguments: [...], [...], ...`` line into its
    top-level bracket groups (bracket-depth scan — groups nest
    arbitrary parens/brackets inside)."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(line):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(line[start + 1 : i])
                start = None
    return groups


def global_window_count(plan: str) -> int:
    """Count Window NODES with no partition spec. The inline
    windowspecdefinition text is unreliable (Catalyst omits partition
    columns from it on decorrelated plans), and an unpartitioned
    node OMITS the partition group from its Arguments line entirely:
    partitioned -> ``[exprs], [partSpec], [orderSpec]`` (3 top-level
    groups), global -> ``[exprs], [orderSpec]`` (2 groups). A
    partitioned window with NO order spec also prints 2 groups
    (``[exprs], [partSpec]``); the two cases split on the last
    group's sort markers — an order spec always carries ASC/DESC, a
    partition spec never does."""
    n = 0
    for block in plan.split("\n\n"):
        head = block.strip().split("\n", 1)[0]
        # plain Window nodes only: WindowGroupLimit's Arguments have a
        # different shape and it never moves data to one partition
        if not re.match(r"\(\d+\) Window(\s|$)", head.strip()):
            continue
        for ln in block.splitlines():
            ln = ln.strip()
            if not ln.startswith("Arguments: "):
                continue
            groups = _toplevel_groups(ln)
            if len(groups) == 1:
                n += 1  # no partition, no order: OVER ()
            elif len(groups) == 2 and (
                " ASC" in groups[-1] or " DESC" in groups[-1]
            ):
                n += 1  # ordered but partition-less
    return n


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(spark, sf_dir: str, names=None):
    rows, details, failures = [], [], []
    for name in names or QUERIES:
        handles = []
        if name in CHECKPOINTED:
            df, handles = CHECKPOINTED[name](spark, sf_dir)
        else:
            df = QUERIES[name](spark, sf_dir)
        planned = plan_of(df)
        # materialize THROUGH the df's own query execution so AQE
        # finalizes it: the explain then shows the *executed* plan.
        # A noop write would execute a separate QueryExecution and
        # leave this df's plan unfinalized.
        try:
            df.collect()
            executed = plan_of(df)
        finally:
            for h in handles:
                h.unpersist()
        spark.catalog.clearCache()
        joins = sorted(set(JOIN_PAT.findall(planned)))
        pushed = re.findall(r"PushedFilters: \[(?!\])", planned)
        scans = len(re.findall(r"\(\d+\) Scan parquet", planned))
        # column pruning: widths of the pruned read schemas
        widths = [
            str(ln.count(",") + 1) if "," in ln or ":" in ln else "0"
            for ln in re.findall(r"ReadSchema: struct<([^>]*)>", planned)
        ]
        pruned = ",".join(widths) or "—"
        flags = []
        executed_joins = set(JOIN_PAT.findall(executed))
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if bad in executed_joins and name not in NESTED_LOOP_OK:
                flags.append(bad)
                failures.append(f"{name}: {bad}")
        n_gw = global_window_count(executed)
        if n_gw and name not in GLOBAL_WINDOW_OK:
            flags.append("WindowExec-global")
            failures.append(
                f"{name}: {n_gw} global window(s) with no boundedness"
                " entry in GLOBAL_WINDOW_OK"
            )
        elif n_gw:
            details.append(
                f"### {name} — global window (allowlisted)\n\n"
                f"Bounded because: {GLOBAL_WINDOW_OK[name]}\n"
            )
        ok_label = (
            "ok (checkpointed; lazy seam)"
            if name in CHECKPOINTED
            else "ok"
        )
        rows.append(
            f"| `{name}` | {scans} | {len(pushed)} | {pruned} | "
            f"{', '.join(joins) or '—'} | "
            f"{', '.join(flags) or ok_label} |"
        )
        # join tree lines and pushed filters, minus the node numbers
        # that shift between runs
        flagged = [
            re.sub(r" \(\d+\)$", "", ln.strip())
            for ln in planned.splitlines()
            if "PushedFilters" in ln
            or (JOIN_PAT.search(ln) and not ln.startswith("("))
        ]
        details.append(
            f"### {name}\n\n```\n" + "\n".join(flagged[:14]) + "\n```\n"
        )
    return rows, details, failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    rows, details, failures = audit(spark, sf_dir)
    doc = (
        "# PLANS — physical-plan audit\n\n"
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. The columns"
        " and the join/pushdown lines come from AQE's initial plan;"
        " red flags are checked on the executed plan.\n\n"
        "| query | parquet scans | scans w/ pushed filters | read cols/scan | "
        "planned joins | red flags |\n|---|---|---|---|---|---|\n"
        + "\n".join(rows)
        + "\n\nBroadcastNestedLoopJoin is allowlisted only for the entries "
        "in `NESTED_LOOP_OK` (tools/plan_audit.py), each with its reason: "
        "a broadcast-small query/centroid set or a 1-row global-scalar "
        "build side, not a data-scale nested loop.\n\n"
        "## Join/pushdown lines\n\n"
        + "\n".join(details)
    )
    with open("PLANS.md", "w") as f:
        f.write(doc)
    print(f"PLANS.md written; {len(rows)} rows, {len(failures)} red flag(s)")
    for f_ in failures:
        print("  RED:", f_)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
