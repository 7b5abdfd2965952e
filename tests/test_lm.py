"""Interpolated n-gram LM perplexity scorer (operators/lm.py).

Checks the integer-exact spec against a pure-Python reference model
on a hand-sized corpus, plus the short-doc and ordering contracts.
The full-corpus value gate is the registry entry
``lm_perplexity_scores`` (tests/test_full_registry_gate.py).
"""

from __future__ import annotations

import math
import re
from collections import Counter

from advisorydatapipeline_spark.operators.lm import (
    LAMBDA_TENTHS,
    MICRO,
    PPB,
    ngram_lm_doc_scores,
)

DOCS = [
    (1, "a b c a b c"),
    (2, "x y"),  # < 3 tokens: no trigrams
    (3, ""),  # empty text
    (4, "the quick brown fox jumps over the lazy dog"),
    (5, "the the the the the"),  # repetitive: low surprisal
]


def _tok(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _reference_scores(docs):
    """Same integer spec as operators/lm.py, in plain Python."""
    toks = {i: _tok(t) for i, t in docs}
    uni: Counter = Counter()
    bi: Counter = Counter()
    tri: Counter = Counter()
    tri_doc: dict[int, Counter] = {}
    for i, ws in toks.items():
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
        tri_doc[i] = Counter(zip(ws, ws[1:], ws[2:]))
        tri.update(tri_doc[i])
    n = sum(uni.values())
    l3, l2, l1 = LAMBDA_TENTHS

    def s_micro(g):
        w1, w2, w3 = g
        p3 = (tri[g] * PPB) // bi[(w1, w2)]
        p2 = (bi[(w2, w3)] * PPB) // uni[w2]
        p1 = (uni[w3] * PPB) // n
        p_ppb = max((l3 * p3 + l2 * p2 + l1 * p1) // 10, 1)
        return math.floor(MICRO * math.log(float(PPB) / p_ppb))

    out = {}
    for i, ws in toks.items():
        grams = tri_doc[i]
        n_tri = sum(grams.values())
        if n_tri:
            tot = sum(c * s_micro(g) for g, c in grams.items())
            out[i] = (len(ws), n_tri, tot, tot // n_tri)
        else:
            out[i] = (len(ws), 0, None, None)
    return out


def test_matches_reference_model(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_trigrams"],
            r["surprisal_micro"],
            r["mean_surprisal_micro"],
        )
        for r in ngram_lm_doc_scores(df).collect()
    }
    assert got == _reference_scores(DOCS)


def test_short_and_empty_docs_present_with_null_scores(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in ngram_lm_doc_scores(df).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    for short_id in (2, 3):
        r = rows[short_id]
        assert r["n_trigrams"] == 0
        assert r["surprisal_micro"] is None
        assert r["mean_surprisal_micro"] is None


def test_rare_continuation_scores_above_frequent(spark):
    # Three docs establish (u,v) -> w as the dominant continuation;
    # the outlier continues (u,v) with q. Under the interpolated model
    # the outlier doc must score strictly higher mean surprisal.
    corpus = [(i, "u v w u v w u v w") for i in (1, 2, 3)]
    corpus.append((9, "u v q"))
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in ngram_lm_doc_scores(df).collect()}
    assert (
        rows[9]["mean_surprisal_micro"] > rows[1]["mean_surprisal_micro"]
    )


def test_overflow_guard_fails_loud_and_ppm_adapts(spark):
    """r9 verdict item 4: count*scale BIGINT overflow must fail loud
    (in-plan raise_error naming the remediation), not wrap silently.
    The boundary is exercised by shrinking the safe window (huge
    ``scale``) instead of materializing 9.2e9 tokens; the adapt path
    (scale=ppm) is checked against the same pure-Python reference
    model re-run at ppm."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])

    # max unigram count in DOCS is 6 ("the"); scale chosen so the
    # safe bound (2^63-1)//scale == 5 < 6 trips the guard exactly
    scale_at_boundary = (2**63 - 1) // 5
    with pytest.raises((PySparkException, Py4JJavaError)) as exc:
        ngram_lm_doc_scores(df, scale=scale_at_boundary).collect()
    assert "scale=1000000" in str(exc.value)

    # one notch wider (safe bound == 6) must NOT trip
    scale_just_safe = (2**63 - 1) // 6
    assert ngram_lm_doc_scores(df, scale=scale_just_safe).count() == 5

    # the documented remediation: ppm keeps the exact-integer spec
    ppm = 1_000_000

    def s_micro_ppm(uni, bi, tri, n, g):
        import math as _m

        w1, w2, w3 = g
        l3, l2, l1 = LAMBDA_TENTHS
        p3 = (tri[g] * ppm) // bi[(w1, w2)]
        p2 = (bi[(w2, w3)] * ppm) // uni[w2]
        p1 = (uni[w3] * ppm) // n
        p = (l3 * p3 + l2 * p2 + l1 * p1) // 10
        return _m.floor(MICRO * _m.log(float(ppm) / p))

    from collections import Counter as _C

    toks = {i: _tok(t) for i, t in DOCS}
    uni, bi, tri = _C(), _C(), _C()
    for ws in toks.values():
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
        tri.update(zip(ws, ws[1:], ws[2:]))
    n = sum(uni.values())
    got = {
        r["doc_id"]: r["surprisal_micro"]
        for r in ngram_lm_doc_scores(df, scale=ppm).collect()
    }
    for i, ws in toks.items():
        grams = _C(zip(ws, ws[1:], ws[2:]))
        exp = (
            sum(
                c * s_micro_ppm(uni, bi, tri, n, g)
                for g, c in grams.items()
            )
            if grams
            else None
        )
        assert got[i] == exp


def test_probability_underflow_clamps_to_one_quantum(spark):
    """ADVICE r10: at the ppm remediation scale a rare trigram's
    interpolated probability can floor to 0 (every component
    truncates once denominators exceed the scale), making
    log(scale/p) infinite. The plan clamps p to >= 1 quantum —
    exercised here by shrinking ``scale`` to 1 so EVERY component
    underflows: scores must come back finite and defined (0 micro-nats
    for p == 1 quantum at scale 1), never NULL/NaN/overflow."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    rows = {
        r["doc_id"]: r for r in ngram_lm_doc_scores(df, scale=1).collect()
    }
    for doc_id in (1, 4, 5):
        assert rows[doc_id]["surprisal_micro"] == 0, doc_id
        assert rows[doc_id]["mean_surprisal_micro"] == 0, doc_id


def test_kneser_ney_matches_hand_computation(spark):
    """Interpolated KN bigram on a tiny corpus vs a literal
    pure-Python transcription of the formulas (continuation counts,
    count-of-counts discount, exact-rational discounting, the three
    documented ppb floor points)."""
    import math

    from advisorydatapipeline_spark.operators.lm import kneser_ney_scores

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the cat ate the fish"),
        (2, "a dog sat"),
        (3, "single"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in kneser_ney_scores(df, 2).collect()
    }

    # pure-Python model
    toks = {d: t.split() for d, t in docs}
    from collections import Counter

    bi = Counter(
        (w1, w2)
        for tk in toks.values()
        for w1, w2 in zip(tk, tk[1:])
    )
    ctx1 = Counter()
    n1w1 = Counter()
    ncw2 = Counter()
    for (w1, w2), c in bi.items():
        ctx1[w1] += c
        n1w1[w1] += 1
        ncw2[w2] += 1
    n1 = sum(1 for c in bi.values() if c == 1)
    n2 = sum(1 for c in bi.values() if c == 2)
    dd0 = n1 + 2 * n2
    dn, dd = (1, 2) if dd0 == 0 else (n1, dd0)
    nall = len(bi)
    assert dd0 > 0  # this corpus exercises the REAL discount path

    S = 1_000_000_000

    def s_micro(w1, w2):
        cb = bi[(w1, w2)]
        disc = ((cb * dd - dn) * S) // (dd * ctx1[w1])
        lam = ((dn * n1w1[w1]) * S) // (dd * ctx1[w1])
        p = max(disc + (lam * ncw2[w2]) // nall, 1)
        return math.floor(1_000_000 * math.log(S / p))

    for d, _t in docs:
        tk = toks[d]
        pairs = list(zip(tk, tk[1:]))
        row = got[d]
        assert row["n_tokens"] == len(tk)
        assert row["n_bigrams"] == len(pairs)
        if not pairs:
            assert row["surprisal_micro"] is None
            continue
        want = sum(s_micro(w1, w2) for w1, w2 in pairs)
        assert row["surprisal_micro"] == want, d
        assert row["mean_surprisal_micro"] == want // len(pairs)

    # KN hallmark on this corpus: 'the' occurs 4 times as a token but
    # continues only 2 distinct contexts — continuation and token
    # frequencies genuinely diverge (the property JM cannot express),
    # so this test corpus actually exercises what KN is for
    n_the_tokens = sum(tk.count("the") for tk in toks.values())
    assert ncw2["the"] == 2 < n_the_tokens == 4
    assert n1w1["the"] == len({w2 for (w1, w2) in bi if w1 == "the"})


def test_kneser_ney_degenerate_count_of_counts(spark):
    """A corpus whose every bigram repeats >= 3 times must fall back
    to the default discount D = 1/2 instead of dividing by zero (the
    sf0.1 synthetic-corpus lesson)."""
    from advisorydatapipeline_spark.operators.lm import kneser_ney_scores

    df = spark.createDataFrame(
        [(i, "x y x y x y x y") for i in range(3)],
        "doc_id long, text string",
    )
    rows = kneser_ney_scores(df, 2).collect()
    assert all(r["surprisal_micro"] is not None for r in rows)
    assert all(r["n_bigrams"] == 7 for r in rows)


def _kn_trigram_reference(docs, scale=1_000_000_000):
    """Literal pure-Python transcription of the interpolated-KN
    trigram spec (modified lower-order counts, per-level rational
    discounts, the five documented ppb floor points)."""
    import math
    from collections import Counter

    toks = {d: t.split() for d, t in docs}
    tri = Counter(
        g for tk in toks.values() for g in zip(tk, tk[1:], tk[2:])
    )
    ctx3, t3 = Counter(), Counter()
    cc2 = Counter()
    seen_w1 = set()
    for (w1, w2, w3), c in tri.items():
        ctx3[(w1, w2)] += c
        t3[(w1, w2)] += 1
        if (w1, w2, w3) not in seen_w1:
            cc2[(w2, w3)] += 1  # tri keys are distinct types already
            seen_w1.add((w1, w2, w3))
    ctxc, t2, ncw3 = Counter(), Counter(), Counter()
    for (w2, w3), c in cc2.items():
        ctxc[w2] += c
        t2[w2] += 1
        ncw3[w3] += 1
    nall = len(cc2)

    def _disc(counter):
        n1 = sum(1 for c in counter.values() if c == 1)
        n2 = sum(1 for c in counter.values() if c == 2)
        dd0 = n1 + 2 * n2
        return (1, 2) if dd0 == 0 else (n1, dd0)

    dn3, dd3 = _disc(tri)
    dn2, dd2 = _disc(cc2)

    def s_micro(g):
        w1, w2, w3 = g
        p2 = ((cc2[(w2, w3)] * dd2 - dn2) * scale) // (dd2 * ctxc[w2])
        lam2 = ((dn2 * t2[w2]) * scale) // (dd2 * ctxc[w2])
        pl = p2 + (lam2 * ncw3[w3]) // nall
        p3 = ((tri[g] * dd3 - dn3) * scale) // (dd3 * ctx3[(w1, w2)])
        lam3 = ((dn3 * t3[(w1, w2)]) * scale) // (dd3 * ctx3[(w1, w2)])
        p = max(p3 + (lam3 * pl) // scale, 1)
        return math.floor(1_000_000 * math.log(scale / p))

    out = {}
    for d, _t in docs:
        tk = toks[d]
        grams = list(zip(tk, tk[1:], tk[2:]))
        if grams:
            tot = sum(s_micro(g) for g in grams)
            out[d] = (len(tk), len(grams), tot, tot // len(grams))
        else:
            out[d] = (len(tk), 0, None, None)
    return out


def test_kn_trigram_matches_hand_computation(spark):
    from advisorydatapipeline_spark.operators.lm import kneser_ney_scores

    docs = [
        (0, "the cat sat on the mat and the cat ran"),
        (1, "the cat ate the fish on the mat"),
        (2, "a dog sat on a log"),
        (3, "too few"),  # < 3 tokens: no trigrams
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_trigrams"],
            r["surprisal_micro"],
            r["mean_surprisal_micro"],
        )
        for r in kneser_ney_scores(df, 3).collect()
    }
    assert got == _kn_trigram_reference(docs)
    # this corpus exercises the REAL discount path at BOTH levels
    from collections import Counter

    toks = [t.split() for _d, t in docs]
    tri = Counter(g for tk in toks for g in zip(tk, tk[1:], tk[2:]))
    assert any(c == 1 for c in tri.values())  # trigram n1 > 0
    cc2 = Counter((w2, w3) for (w1, w2, w3) in tri)
    assert any(c == 1 for c in cc2.values())  # modified-count n1 > 0


def test_kn_trigram_degenerate_levels_fall_back(spark):
    """Each level's count-of-counts fallback is INDEPENDENT: one
    corpus degenerates the trigram level only (every trigram count
    >= 3 but modified counts hit 1), the other degenerates the
    modified-count level only (all trigram counts are 1 but every
    modified bigram count is 3). Values must match the reference
    model run with the same per-level fallback, never divide by
    zero."""
    from collections import Counter

    from advisorydatapipeline_spark.operators.lm import kneser_ney_scores

    # level-3 degenerate: every trigram type repeats >= 3 times
    docs_a = [(i, "x y z x y z x y z x y z") for i in range(4)]
    tri = Counter(
        g
        for _d, t in docs_a
        for g in zip(t.split(), t.split()[1:], t.split()[2:])
    )
    assert all(c >= 3 for c in tri.values())
    cc = Counter((w2, w3) for (w1, w2, w3) in tri)
    assert any(c in (1, 2) for c in cc.values())  # level 2 NOT degen

    # level-2 degenerate: every (w2,w3) has 3 left contexts, but all
    # trigram counts are 1
    docs_b = [(0, "a x y"), (1, "b x y"), (2, "c x y")]
    tri_b = Counter(
        g
        for _d, t in docs_b
        for g in zip(t.split(), t.split()[1:], t.split()[2:])
    )
    assert all(c == 1 for c in tri_b.values())  # level 3 NOT degen
    cc_b = Counter((w2, w3) for (w1, w2, w3) in tri_b)
    assert all(c >= 3 for c in cc_b.values())

    for docs in (docs_a, docs_b):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["n_trigrams"],
                r["surprisal_micro"],
                r["mean_surprisal_micro"],
            )
            for r in kneser_ney_scores(df, 3).collect()
        }
        assert got == _kn_trigram_reference(docs)
        assert all(v[2] is not None for v in got.values())


def test_kn_trigram_overflow_guard_fails_loud(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from advisorydatapipeline_spark.operators.lm import kneser_ney_scores

    docs = [(0, "a b c a b c a b c"), (1, "a b c d e f")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # max trigram count is 3 ('a b c'); shrink the safe window so the
    # max_c3 * dd3 product check trips (dd3 >= 1)
    with pytest.raises((PySparkException, Py4JJavaError)) as exc:
        kneser_ney_scores(df, 3, scale=(2**63 - 1) // 2).collect()
    assert "scale=1000000" in str(exc.value)
    # ppm remediation matches the reference model at ppm
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_trigrams"],
            r["surprisal_micro"],
            r["mean_surprisal_micro"],
        )
        for r in kneser_ney_scores(df, 3, scale=1_000_000).collect()
    }
    assert got == _kn_trigram_reference(docs, scale=1_000_000)


def _kn5_reference(docs, scale=1_000_000_000):
    """Literal pure-Python transcription of the interpolated-KN
    5-gram spec (recursively modified type counts at levels 4/3/2,
    per-level rational discounts, the nine documented ppb floors)."""
    import math
    from collections import Counter

    toks = {d: t.split() for d, t in docs}
    g5 = Counter(
        g
        for tk in toks.values()
        for g in zip(tk, tk[1:], tk[2:], tk[3:], tk[4:])
    )
    ctx5, t5 = Counter(), Counter()
    for (w1, w2, w3, w4, w5), c in g5.items():
        ctx5[(w1, w2, w3, w4)] += c
        t5[(w1, w2, w3, w4)] += 1
    cc4 = Counter((g[1], g[2], g[3], g[4]) for g in g5)
    ctx4, t4 = Counter(), Counter()
    for (w2, w3, w4, w5), c in cc4.items():
        ctx4[(w2, w3, w4)] += c
        t4[(w2, w3, w4)] += 1
    cc3 = Counter((k[1], k[2], k[3]) for k in cc4)
    ctx3, t3 = Counter(), Counter()
    for (w3, w4, w5), c in cc3.items():
        ctx3[(w3, w4)] += c
        t3[(w3, w4)] += 1
    cc2 = Counter((k[1], k[2]) for k in cc3)
    ctx2, t2, ncw5 = Counter(), Counter(), Counter()
    for (w4, w5), c in cc2.items():
        ctx2[w4] += c
        t2[w4] += 1
        ncw5[w5] += 1
    nall = len(cc2)

    def _disc(counter):
        n1 = sum(1 for c in counter.values() if c == 1)
        n2 = sum(1 for c in counter.values() if c == 2)
        dd0 = n1 + 2 * n2
        return (1, 2) if dd0 == 0 else (n1, dd0)

    dn5, dd5 = _disc(g5)
    dn4, dd4 = _disc(cc4)
    dn3, dd3 = _disc(cc3)
    dn2, dd2 = _disc(cc2)

    def s_micro(g):
        w1, w2, w3, w4, w5 = g
        p2 = ((cc2[(w4, w5)] * dd2 - dn2) * scale) // (dd2 * ctx2[w4])
        lam2 = ((dn2 * t2[w4]) * scale) // (dd2 * ctx2[w4])
        pl = p2 + (lam2 * ncw5[w5]) // nall
        p3 = ((cc3[(w3, w4, w5)] * dd3 - dn3) * scale) // (
            dd3 * ctx3[(w3, w4)]
        )
        lam3 = ((dn3 * t3[(w3, w4)]) * scale) // (dd3 * ctx3[(w3, w4)])
        pl = p3 + (lam3 * pl) // scale
        p4 = ((cc4[(w2, w3, w4, w5)] * dd4 - dn4) * scale) // (
            dd4 * ctx4[(w2, w3, w4)]
        )
        lam4 = ((dn4 * t4[(w2, w3, w4)]) * scale) // (
            dd4 * ctx4[(w2, w3, w4)]
        )
        pl = p4 + (lam4 * pl) // scale
        p5 = ((g5[g] * dd5 - dn5) * scale) // (
            dd5 * ctx5[(w1, w2, w3, w4)]
        )
        lam5 = ((dn5 * t5[(w1, w2, w3, w4)]) * scale) // (
            dd5 * ctx5[(w1, w2, w3, w4)]
        )
        p = max(p5 + (lam5 * pl) // scale, 1)
        return math.floor(1_000_000 * math.log(scale / p))

    out = {}
    for d, _t in docs:
        tk = toks[d]
        grams = list(zip(tk, tk[1:], tk[2:], tk[3:], tk[4:]))
        if grams:
            tot = sum(s_micro(g) for g in grams)
            out[d] = (len(tk), len(grams), tot, tot // len(grams))
        else:
            out[d] = (len(tk), 0, None, None)
    return out


def _kn5_collect(df_rows):
    return {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_5grams"],
            r["surprisal_micro"],
            r["mean_surprisal_micro"],
        )
        for r in df_rows
    }


def test_kn_5gram_matches_hand_computation(spark):
    from advisorydatapipeline_spark.operators.lm import kneser_ney_scores

    docs = [
        (0, "the cat sat on the mat and the cat sat on the rug now"),
        (1, "the cat sat on the mat and then it left the mat alone"),
        (2, "a dog sat on a log and a dog ran to a bog"),
        (3, "too few words here"),  # < 5 tokens: no 5-grams
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = _kn5_collect(kneser_ney_scores(df, 5).collect())
    assert got == _kn5_reference(docs)
    # the corpus exercises the REAL discount path at every level
    from collections import Counter

    toks = [t.split() for _d, t in docs]
    g5 = Counter(
        g for tk in toks for g in zip(tk, tk[1:], tk[2:], tk[3:], tk[4:])
    )
    assert any(c == 1 for c in g5.values())
    cc4 = Counter(g[1:] for g in g5)
    assert any(c in (1, 2) for c in cc4.values())


def test_kn_5gram_degenerate_levels_fall_back(spark):
    """Per-level independence of the (1, 2) fallback at order 5: a
    periodic corpus degenerates the raw 5-gram level (every type
    repeats >= 3x) while modified levels still see count-1/2 types;
    a cross-prefix corpus degenerates the modified-4-gram level
    (every suffix has 3 left contexts) while raw counts are all 1."""
    from collections import Counter

    from advisorydatapipeline_spark.operators.lm import kneser_ney_scores

    # level-5 degenerate: 3-token period over >= 15 tokens -> each
    # distinct 5-gram appears >= 3 times within each doc set
    docs_a = [(i, "x y z " * 7) for i in range(4)]
    g5 = Counter(
        g
        for _d, t in docs_a
        for tk in [t.split()]
        for g in zip(tk, tk[1:], tk[2:], tk[3:], tk[4:])
    )
    assert all(c >= 3 for c in g5.values())

    # level-4 degenerate: three distinct first words, shared 4-token
    # tail — each doc is exactly one 5-gram, so every raw count is 1
    # while cc4(p,q,r,s) = 3 (no count-1/2 type at level 4)
    docs_b = [
        (0, "a p q r s"),
        (1, "b p q r s"),
        (2, "c p q r s"),
    ]
    g5_b = Counter(
        g
        for _d, t in docs_b
        for tk in [t.split()]
        for g in zip(tk, tk[1:], tk[2:], tk[3:], tk[4:])
    )
    assert all(c == 1 for c in g5_b.values())  # level 5 NOT degen
    cc4_b = Counter(g[1:] for g in g5_b)
    assert any(c >= 3 for c in cc4_b.values())

    for docs in (docs_a, docs_b):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = _kn5_collect(kneser_ney_scores(df, 5).collect())
        assert got == _kn5_reference(docs)
        assert all(v[2] is not None for v in got.values())


def test_kn_5gram_overflow_guard_fails_loud(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from advisorydatapipeline_spark.operators.lm import kneser_ney_scores

    docs = [(0, "a b c d e " * 3), (1, "a b c d e f g h")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with pytest.raises((PySparkException, Py4JJavaError)) as exc:
        kneser_ney_scores(df, 5, scale=(2**63 - 1) // 2).collect()
    assert "scale=1000000" in str(exc.value)
    # ppm remediation matches the reference model at ppm
    got = _kn5_collect(
        kneser_ney_scores(df, 5, scale=1_000_000).collect()
    )
    assert got == _kn5_reference(docs, scale=1_000_000)
