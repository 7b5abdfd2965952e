"""N-gram language-model perplexity scoring (beyond-reference;
north-star text analysis).

The standard LLM-corpus quality filter (CCNet / Gopher / RedPajama
style): train a word-level n-gram LM on the corpus, score each
document by its cross-entropy under that model, and gate on the
score — gibberish and wrong-charset text scores high surprisal,
boilerplate scores low. Each model is trained and applied in ONE
distributed plan. Two smoothings:

- :func:`ngram_lm_doc_scores` — a Jelinek-Mercer-interpolated trigram

      p(w3 | w1 w2) = 0.5 * C(w1w2w3)/C(w1w2)      (trigram ML)
                    + 0.3 * C(w2w3)/C(w2)          (bigram backoff)
                    + 0.2 * C(w3)/N                (unigram backoff)

  with counts taken from the corpus being scored, so every n-gram in
  a document has nonzero ML probability and no smoothing floor is
  needed.
- :func:`kneser_ney_scores` — interpolated Kneser-Ney (the KenLM
  default) at any order >= 2; the registry runs orders 2, 3 and 5.

Oracle-exactness (the reason for the integer staging): every
probability component is quantized to integer parts-per-billion via
BIGINT ``DIV`` (JM: ``(C_num * 1e9) DIV C_den``, mixed as
``(5*p3 + 3*p2 + 2*p1) DIV 10``; KN: the per-level floors listed on
:func:`kneser_ney_scores`), and only then does a single
``floor(1e6 * ln(1e9 / p_ppb))`` convert the rational probability to
integer micro-nats — the same discipline as
``char_unigram_surprisal`` (queries/text_analysis.py), so every
per-document sum is exact BIGINT arithmetic that DuckDB replays
bit-identically. Perplexity = exp(mean_surprisal_micro / 1e6); the
exp is left to the consumer to keep the gated columns integral.

Scale design (100 TB):
- N-grams are built by a map-side ``transform`` over each doc's own
  token array — no per-doc window, no per-doc shuffle. The shuffles
  are hash partial-aggregations on n-gram keys (small string cols;
  document text never moves), the level joins and the apply join on
  the n-gram key.
- The scored n-gram table is corpus-sized (distinct n-gram types),
  so the apply join is a shuffle hash join — NOT a broadcast. Only
  the 1-row model aggregates (N, count-of-counts) are broadcast.
- The tokenized corpus is persisted once and read by every count
  branch + the final doc rollup within the single materializing
  action (registry cache contract, registry.py:12).
- ppb quantization bounds: ``C * 1e9`` overflows BIGINT at
  C > ~9.2e9 token occurrences for one n-gram type; a 100 TB corpus
  needs the scale dropped to 1e6 (ppm) via the ``scale`` parameter
  (the weights and plan shape are unchanged by the scale constant).
  This is GUARDED, not just documented: the plan carries the count
  bounds on its broadcast 1-row aggregates and raises in-plan
  (``raise_error``) the moment any product could overflow — a
  100 TB run fails loud with the remediation in the message instead
  of silently wrapping.

Reference twin: none — the reference (Idanconley123/advisoryDataPipeline)
has no text-statistics code; this is north-star LLM-pipeline surface
(SURVEY.md §2 beyond-reference block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from advisorydatapipeline_spark.functions.text import tokens

PPB = 1_000_000_000  # probability quantum: parts-per-billion
MICRO = 1_000_000  # surprisal quantum: micro-nats

# Jelinek-Mercer interpolation weights (tri, bi, uni) in tenths:
# exact integer mix  (5*p3 + 3*p2 + 2*p1) DIV 10.
LAMBDA_TENTHS = (5, 3, 2)


def _ngram_rows(tk: DataFrame, n: int, names: tuple[str, ...]) -> DataFrame:
    """Explode each doc's token array into its order-n n-grams.

    Pure map-side (``transform`` over the array index range) — the
    per-doc sliding window never becomes a window function or a
    shuffle. Docs shorter than ``n`` tokens contribute nothing.
    """
    fields = ", ".join(
        f"tk[i+{j}] AS {name}" for j, name in enumerate(names)
    )
    grams = F.expr(
        f"CASE WHEN size(tk) >= {n} THEN "
        f"transform(sequence(0, size(tk)-{n}), i -> struct({fields})) "
        f"ELSE array() END"
    )
    return tk.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", "g.*"
    )


def ngram_lm_doc_scores(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = PPB,
) -> DataFrame:
    """Per-document interpolated-trigram-LM surprisal, integer-exact.

    Returns one row per input document:
      doc_id, n_tokens, n_trigrams,
      surprisal_micro       (sum of per-occurrence micro-nats),
      mean_surprisal_micro  (integer DIV; log-perplexity in micro-nats;
                             NULL when the doc has < 3 tokens).

    ``scale`` is the probability quantum (default parts-per-billion).
    The plan fails loud — in-plan ``raise_error`` naming the fix —
    if any n-gram count could overflow ``count * scale`` in BIGINT
    (at ppb that's a count > ~9.2e9; drop ``scale`` to 1_000_000 for
    corpora hot-word-heavy enough to hit it).
    """
    max_safe_count = (2**63 - 1) // scale
    tk = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("tk")
    )
    # Read by 4 count branches + the final rollup in one action.
    tk = tk.persist()

    uni = (
        tk.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    # max_cu rides the same 1-row broadcast as N: every numerator in
    # the ppb components (ct <= cb23 <= cu, cu3 <= max_cu) is bounded
    # by the max unigram count, so one guard covers all three.
    tot = uni.agg(
        F.sum("cu").cast("long").alias("n"),
        F.max("cu").cast("long").alias("max_cu"),
    )
    bi = _ngram_rows(tk, 2, ("w1", "w2")).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    tri_doc = (
        _ngram_rows(tk, 3, ("w1", "w2", "w3"))
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # Doc-trigram counts feed both the corpus trigram table and the
    # apply join below.
    tri_doc = tri_doc.persist()
    tri = tri_doc.groupBy("w1", "w2", "w3").agg(
        F.sum("cnt").cast("long").alias("ct")
    )

    # Score each distinct trigram TYPE once: integer-ppb components,
    # integer interpolation, one float ln at the very end.
    sc = (
        tri.join(
            bi.select(
                F.col("w1"), F.col("w2"), F.col("cb").alias("cb12")
            ),
            ["w1", "w2"],
        )
        .join(
            bi.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("cb").alias("cb23"),
            ),
            ["w2", "w3"],
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")),
            "w2",
        )
        .join(
            uni.select(F.col("w").alias("w3"), F.col("cu").alias("cu3")),
            "w3",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "w3",
            F.expr(
                # overflow guard first: fails the job loud (with the
                # remediation) instead of silently wrapping BIGINT
                f"CASE WHEN max_cu > {max_safe_count} THEN "
                f"CAST(raise_error(CONCAT("
                f"'ngram_lm_doc_scores: max n-gram count ', max_cu, "
                f"' would overflow count*{scale} in BIGINT; ', "
                f"'re-run with scale=1000000 (ppm) or pre-bucket "
                f"counts')) AS BIGINT) "
                # GREATEST(..., 1): on corpora large enough that every
                # component floors to 0 (possible exactly at the ppm
                # remediation scale), clamp to 1 quantum so
                # log(scale/p) stays finite instead of s_micro
                # becoming an undefined floor(inf) cast
                f"ELSE GREATEST(CAST((({LAMBDA_TENTHS[0]} * ((ct * {scale}) DIV cb12)"
                f" + {LAMBDA_TENTHS[1]} * ((cb23 * {scale}) DIV cu2)"
                f" + {LAMBDA_TENTHS[2]} * ((cu3 * {scale}) DIV n))"
                f" DIV 10) AS BIGINT), CAST(1 AS BIGINT)) END"
            ).alias("p_ppb"),
        )
        .select(
            "w1",
            "w2",
            "w3",
            F.floor(
                MICRO * F.log(F.lit(float(scale)) / F.col("p_ppb"))
            ).cast("long").alias("s_micro"),
        )
    )

    agg = (
        tri_doc.join(sc, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_trigrams"),
            F.sum(F.col("cnt") * F.col("s_micro")).cast("long").alias(
                "surprisal_micro"
            ),
            F.expr(
                "CAST(sum(cnt * s_micro) DIV sum(cnt) AS BIGINT)"
            ).alias("mean_surprisal_micro"),
        )
    )
    return (
        tk.select("doc_id", F.size("tk").cast("long").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_trigrams"), F.lit(0).cast("long")).alias(
                "n_trigrams"
            ),
            "surprisal_micro",
            "mean_surprisal_micro",
        )
    )


def kneser_ney_scores(
    docs: DataFrame,
    order: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = PPB,
) -> DataFrame:
    """Per-document surprisal under an interpolated KNESER-NEY LM of
    the given ``order`` (Kneser & Ney 1995; Chen & Goodman 1999's
    recursive formulation; KenLM's default order is 5). For each
    order-n n-gram w1..wn, with levels k = n down to 2:

        p_k(wn | w_{n-k+1}..w_{n-1})
            = (c_k - D_k)+ / c_k(ctx .) + lam_k * p_{k-1}
        p_1(wn) = P_cont(wn) = N1+(. wn) / N1+(. .)

    Level k keys on the last k words and its context is the first
    k-1 of those. c_n is the raw n-gram count; every lower c_k is the
    MODIFIED count N1+(. key) — how many distinct left contexts the
    key has among level k+1's types (the KN hallmark: "Francisco" is
    frequent but follows only "San", so its continuation mass is
    tiny). Each level's absolute discount is the exact RATIONAL
    D_k = n1 / (n1 + 2*n2) from that level's own count-of-counts,
    with an independent (dn, dd) = (1, 2) fallback when a level has
    no count-1/2 types (the synthetic-corpus lesson, pytest-pinned
    per level), and lam_k = D_k * t_k / c_k(ctx .) where t_k is the
    number of types in the context.

    Exactness: per level k, two documented ppb floor points

      disc_k = ((c_k*dd_k - dn_k) * scale) DIV (dd_k * ctx_k)
      lam_k  = ((dn_k * t_k) * scale) DIV (dd_k * ctx_k)

    mixed bottom-up as pl_2 = disc_2 + (lam_2 * ncw) DIV nall, then
    pl_k = disc_k + (lam_k * pl_{k-1}) DIV scale, finally
    p_ppb = GREATEST(pl_n, 1) and one float ln to micro-nats. Scored
    n-grams are observed by construction (the model is trained on
    the corpus being scored), so every count >= 1 and the discounted
    numerators never go negative (c*dd - dn >= dd*(c-1) >= 0).

    Scale (100 TB): each lower level is ONE hash partial-agg over the
    level above (the corpus itself is read once); context totals and
    per-context type counts are PARTITIONED WINDOWS over each level's
    own frame (guide §2.4 — one exchange per level where a
    groupBy-ctx + join-back pair costs two), so the scoring chain is
    n-2 level equi-joins + the apply join; each level's
    count-of-counts row carries its max_t bound and rides a broadcast
    1-row aggregate. Overflow guards are DIVISION comparisons over
    those rows, so the guards themselves cannot wrap: per level
    GREATEST(max_c, max_t) vs max_safe DIV dd (c*dd*scale, and
    dn*t*scale since dn <= dd and t <= max_t — bounding t by the
    GLOBAL type count instead false-trips on singleton-heavy corpora,
    the kn_5gram_scores sf0.1 lesson), dd vs (2^63-1) DIV sum_c (the
    raw denominator dd*ctx, ctx <= sum_c), and nall vs max_safe
    (lam_2 <= scale, ncw <= nall); every lam*pl mix is <= 2*scale^2
    < 2^63. Any trip raises in-plan with the scale=1_000_000
    remediation.

    Returns: doc_id, n_tokens, n_<order>grams (``n_bigrams`` /
    ``n_trigrams`` at orders 2 / 3), surprisal_micro,
    mean_surprisal_micro (NULL when the doc has < ``order`` tokens).
    """
    out, handles = kneser_ney_plan(
        docs, order, id_col=id_col, text_col=text_col, scale=scale
    )
    # eager materialize + unpersist (the cache-leak discipline); the
    # un-materialized plan stays inspectable via kneser_ney_plan —
    # the checkpointed result is a Scan ExistingRDD, so plan-shape
    # coverage lives in tests/test_explain_plans.py and
    # tools/plan_audit.py's CHECKPOINTED seam, both of which audit
    # THIS lazy plan
    try:
        res = out.localCheckpoint(eager=True)
    finally:
        for h in handles:
            h.unpersist()
    return res


def kneser_ney_plan(
    docs: DataFrame,
    order: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = PPB,
) -> tuple[DataFrame, list[DataFrame]]:
    """The lazy plan behind :func:`kneser_ney_scores`: returns
    ``(result, persisted handles)`` so plan-only callers (the pinned
    plan-shape pytest and tools/plan_audit.py) can inspect the real
    physical plan and unpersist without materializing."""
    if order < 2:
        raise ValueError(f"kneser_ney_plan: order must be >= 2, got {order}")
    abs_max = 2**63 - 1
    max_safe = abs_max // scale
    words = tuple(f"w{i}" for i in range(1, order + 1))
    n_col = {2: "n_bigrams", 3: "n_trigrams"}.get(order, f"n_{order}grams")
    tk = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("tk")
    ).persist()
    g_doc = (
        _ngram_rows(tk, order, words)
        .groupBy("doc_id", *words)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist()
    )

    # The level tower, top-down. Level k's rows are distinct types
    # keyed on the last k words, so the next level's modified count
    # is a plain count(*) grouped by the shorter key.
    cnt = g_doc.groupBy(*words).agg(
        F.sum("cnt").cast("long").alias(f"c{order}")
    )
    levels: dict[int, DataFrame] = {}
    for k in range(order, 1, -1):
        key = words[order - k:]
        w = Window.partitionBy(*key[:-1])
        cols = [
            "*",
            F.sum(f"c{k}").over(w).cast("long").alias(f"ctx{k}"),
            F.count(F.lit(1)).over(w).cast("long").alias(f"t{k}"),
        ]
        if k == 2:
            # continuation type count N1+(. wn)
            cols.append(
                F.count(F.lit(1))
                .over(Window.partitionBy(words[-1]))
                .cast("long")
                .alias("ncw")
            )
        levels[k] = cnt.select(*cols).persist()
        cnt = levels[k].groupBy(*key[1:]).agg(
            F.count(F.lit(1)).cast("long").alias(f"c{k - 1}")
        )

    sc = levels[order]
    for k in range(order - 1, 1, -1):
        sc = sc.join(levels[k], list(words[order - k:]))
    for k in levels:
        sc = sc.crossJoin(F.broadcast(_coc(levels[k], k)))

    guard = " OR ".join(
        [f"GREATEST(max_c{k}, max_t{k}) > {max_safe} DIV dd{k}" for k in levels]
        + [f"n2all > {max_safe}"]
        + [f"dd{k} > {abs_max} DIV GREATEST(sum_c{k}, 1)" for k in levels]
    )

    def disc_lam(k: int) -> tuple[str, str]:
        return (
            f"(((c{k} * dd{k} - dn{k}) * {scale}) DIV (dd{k} * ctx{k}))",
            f"(((dn{k} * t{k}) * {scale}) DIV (dd{k} * ctx{k}))",
        )

    disc, lam = disc_lam(2)
    pl = f"{disc} + (({lam} * ncw) DIV n2all)"
    for k in range(3, order + 1):
        disc, lam = disc_lam(k)
        pl = f"{disc} + (({lam} * ({pl})) DIV {scale})"
    sc = sc.select(
        *words,
        F.expr(
            f"CASE WHEN {guard} THEN "
            f"CAST(raise_error(CONCAT("
            f"'kneser_ney_scores(order={order}): count magnitudes would "
            f"overflow count*{scale} in BIGINT; ', "
            f"'re-run with scale=1000000 (ppm)')) AS BIGINT) "
            f"ELSE GREATEST({pl}, CAST(1 AS BIGINT)) END"
        ).alias("p_ppb"),
    ).select(
        *words,
        F.floor(
            MICRO * F.log(F.lit(float(scale)) / F.col("p_ppb"))
        ).cast("long").alias("s_micro"),
    )

    agg = (
        g_doc.join(sc, list(words))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias(n_col),
            F.sum(F.col("cnt") * F.col("s_micro")).cast("long").alias(
                "surprisal_micro"
            ),
            F.expr(
                "CAST(sum(cnt * s_micro) DIV sum(cnt) AS BIGINT)"
            ).alias("mean_surprisal_micro"),
        )
    )
    out = (
        tk.select("doc_id", F.size("tk").cast("long").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col(n_col), F.lit(0).cast("long")).alias(n_col),
            "surprisal_micro",
            "mean_surprisal_micro",
        )
    )
    return out, [tk, g_doc, *levels.values()]


def _coc(level: DataFrame, k: int) -> DataFrame:
    """Level k's 1-row model: count-of-counts -> the exact-rational
    discount (dn{k}, dd{k}) with its independent (1, 2) fallback for a
    level with no count-1/2 types, plus the guard bounds n{k}all,
    max_c{k}, sum_c{k} and max_t{k} — one pass over the level frame
    (t{k} repeats within a context; its max is unaffected)."""
    c = F.col(f"c{k}")
    n1 = F.sum((c == 1).cast("long"))
    return level.agg(
        n1.cast("long").alias("_n1"),
        (n1 + 2 * F.sum((c == 2).cast("long"))).cast("long").alias("_dd"),
        F.count(F.lit(1)).cast("long").alias(f"n{k}all"),
        F.max(c).cast("long").alias(f"max_c{k}"),
        F.sum(c).cast("long").alias(f"sum_c{k}"),
        F.max(f"t{k}").cast("long").alias(f"max_t{k}"),
    ).select(
        F.when(F.col("_dd") == 0, F.lit(1).cast("long"))
        .otherwise(F.col("_n1")).alias(f"dn{k}"),
        F.when(F.col("_dd") == 0, F.lit(2).cast("long"))
        .otherwise(F.col("_dd")).alias(f"dd{k}"),
        f"n{k}all",
        f"max_c{k}",
        f"sum_c{k}",
        f"max_t{k}",
    )
