"""Deduplication operators for large-scale corpus curation.

Beyond-reference (north-star): exact dedup, n-gram Jaccard near-dup,
MinHash + LSH near-dup, and SimHash bucketing — the standard toolkit
of a training-data pipeline, composed from built-in DataFrame ops
(no Python UDFs anywhere; every hash is portable md5 so the DuckDB
oracle can replay the exact computation).

Scale design (100 TB corpora):
- exact dedup: one hash-shuffle on the 16-byte key, map-side partial
  aggregation; never shuffles document text.
- n-gram Jaccard: the pair join is driven by the inverted
  shingle->doc index; ``max_doc_freq`` drops ubiquitous shingles,
  which is what bounds the quadratic blowup on hot shingles (the
  standard df-cap trick). Only (doc_id, shingle-hash) pairs shuffle.
- MinHash/LSH: signatures are k aggregates over the shingle index
  (partial agg), candidates come from b band-equijoins — shuffle
  volume is O(docs x b), independent of document length. Verification
  re-uses the inverted index restricted to candidate pairs.
- SimHash: bit-vote aggregation per doc (partial agg), bucket join on
  the signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from advisorydatapipeline_spark.functions.text import hash64, norm_text, tokens

# --- exact -------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Group identical (normalized) texts: returns one row per
    distinct content with the keeper (min id) and the duplicate count.
    """
    keyed = df.select(
        F.col(id_col), F.md5(norm_text(text_col)).alias("content_key")
    )
    return keyed.groupBy("content_key").agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").cast("long").alias("n_docs"),
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly one row (min id) per identical normalized text."""
    keyed = df.withColumn("content_key", F.md5(norm_text(text_col)))
    winners = keyed.groupBy("content_key").agg(F.min(id_col).alias(id_col))
    return keyed.join(winners, ["content_key", id_col], "left_semi").drop(
        "content_key"
    )


# --- shingle index -----------------------------------------------------------


def shingle_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    *,
    max_doc_freq: int | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Inverted index: one row per (id, distinct n-gram shingle).

    ``max_doc_freq`` drops shingles appearing in more than that many
    docs — the df-cap that keeps hot shingles from driving a
    quadratic candidate join at scale.

    The tokenize step materializes *before* a hash repartition on the
    id: (a) a small corpus file arrives as one input split — the
    repartition spreads the CPU-heavy shingling across every core;
    (b) the shuffle is a projection barrier, so the token array is
    computed once instead of being re-inlined into each element_at
    access by Catalyst's project collapsing.
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("_ts"))
    nparts = parallelism or df.sparkSession.sparkContext.defaultParallelism
    toked = toked.repartition(nparts, id_col)
    ts = F.col("_ts")
    # guard: Spark's sequence(0, size-n) runs *descending* when
    # size < n, so gate on length instead of relying on an empty range
    sh = F.when(
        F.size(ts) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ts) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ts, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    idx = toked.select(
        F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle")
    )
    if max_doc_freq is not None:
        # keep-list semi-join would shuffle the FULL index on the
        # shingle; instead anti-join the (by construction tiny) HOT
        # list broadcast — the count agg's shuffle moves partially
        # aggregated (shingle, n) pairs only, and the index itself
        # never moves. At corpus scale the hot list is the handful of
        # boilerplate shingles the cap exists to kill.
        hot = (
            idx.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        idx = idx.join(F.broadcast(hot), "shingle", "left_anti")
    return idx


# --- n-gram Jaccard ----------------------------------------------------------


def jaccard_pairs(
    index: DataFrame, id_col: str, min_jaccard: float
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold, driven
    by the inverted index (only co-occurring pairs are ever formed).

    The self-join — the hottest shuffle of the whole dedup family —
    is keyed on the 60-bit md5 hash of the shingle, not the string:
    fixed 8-byte shuffle keys instead of ~25-byte text cuts shuffle
    bytes ~2-3x at corpus scale. The DuckDB oracles apply the same
    hash, so results stay bit-identical even in the (~df^2/2^61)
    collision case."""
    sizes = index.groupBy(id_col).agg(F.count("*").alias("n"))
    key = hash64(F.col("shingle")).alias("_sh")
    a = index.select(F.col(id_col).alias("id_a"), key)
    b = index.select(F.col(id_col).alias("id_b"), key)
    shared = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
    )


def jaccard_for_pairs(
    index: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair set only — the
    verification stage of LSH. Cost is O(|pairs| x shingles-per-doc),
    not O(co-occurring pairs). Joined on the 60-bit shingle hash
    (8-byte shuffle keys; oracles hash identically, see
    ``jaccard_pairs``)."""
    sizes = index.groupBy(id_col).agg(F.count("*").alias("n"))
    key = hash64(F.col("shingle")).alias("_sh")
    a = index.select(F.col(id_col).alias("id_a"), key)
    b = index.select(F.col(id_col).alias("id_b"), key)
    shared = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "_sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
    )


# --- MinHash + LSH -----------------------------------------------------------


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation for the universal hash
    family h_i(x) = (a_i * x + b_i) mod p. a odd, both < p."""
    out = []
    for i in range(num_hashes):
        a = ((i + 1) * 2654435761) % MINHASH_P | 1
        b = ((i + 1) * 40503 * 65537) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    index: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """k-permutation MinHash as k aggregates over ONE portable base
    hash: sig_i = min((a_i * h + b_i) mod p), h = md5-hash64(shingle)
    mod p. One md5 per shingle (not k), k cheap modular mixes, one
    partial-aggregated shuffle on the doc id — no k-fold row blowup.
    All intermediates stay below 2^62, so the arithmetic is exact on
    any engine (the DuckDB oracle replays it verbatim)."""
    hashed = index.withColumn("_h", hash64(F.col("shingle")) % MINHASH_P)
    aggs = [
        F.min((F.col("_h") * a + b) % MINHASH_P).alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig_df: DataFrame, id_col: str, bands: int = 4, rows: int = 4
) -> DataFrame:
    """Banded LSH keys: band_key = md5 of the band's signature slice.
    Returns (id, band_idx, band_key)."""
    keys = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*keys)).alias("bk")
    ).select(id_col, F.col("bk.band_idx").alias("band_idx"), F.col("bk.band_key").alias("band_key"))


def lsh_candidate_pairs(band_df: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate pairs sharing at least one band bucket."""
    a = band_df.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_key"
    )
    b = band_df.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key"
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_jaccard: float = 0.4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle -> sign -> band -> candidate
    -> verify with true Jaccard (candidates only). Output:
    (id_a, id_b, jaccard). The index is persisted — it feeds the
    signature aggregation AND the verification join."""
    rows = num_hashes // bands
    index = shingle_index(
        df, id_col, text_col, n, max_doc_freq=max_doc_freq
    ).persist()
    sigs = minhash_signatures(index, id_col, num_hashes)
    cands = lsh_candidate_pairs(lsh_bands(sigs, id_col, bands, rows), id_col)
    verified = jaccard_for_pairs(index, cands, id_col)
    return verified.filter(F.col("jaccard") >= min_jaccard).select(
        "id_a", "id_b", "jaccard"
    )


# --- SimHash -----------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc 16-bit SimHash over distinct tokens: bit b is the sign
    of the +1/-1 vote sum of token-hash bit b. Returns (id, simhash);
    the one-block case of :func:`simhash64_blocks`."""
    return simhash64_blocks(df, id_col, text_col, [16]).withColumnRenamed(
        "block_0", "simhash"
    )


def simhash_buckets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Dedup by identical SimHash: one row per signature bucket with
    keeper id and population."""
    return (
        simhash(df, id_col, text_col)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").cast("long").alias("n_docs"))
    )


# --- 64-bit SimHash with banded Hamming near-dup -----------------------------


def simhash_plan_blocks(
    n_rows: int,
    *,
    max_hamming: int = 3,
    target_bucket: int = 64,
    total_bits: int = 64,
    max_blocks: int = 8,
) -> list[int]:
    """Corpus-size-aware SimHash block widths — the rhp_plan_size
    analogue for a FIXED-length signature (64 bits can't grow, so the
    key space grows via Manku-style block combinations instead: split
    the signature into ``b`` blocks; any pair within Hamming
    ``max_hamming`` agrees on >= ``b - max_hamming`` whole blocks by
    pigeonhole, so joining on every C(b, b - max_hamming) combination
    of ``b - max_hamming`` concatenated blocks has EXACT recall with
    key width ``total_bits * (b - max_hamming) / b`` — 16 bits at
    b=4, 25 at b=5, 32 at b=6 — instead of a single block's
    ``total_bits / b``).

    Policy: required key bits ``ceil(log2(n_rows / target_bucket))``
    (expected random bucket ~target_bucket, as in rhp_plan_size);
    smallest ``b`` whose combination key is that wide wins. The cost
    of deeper b is C(b, max_hamming) index entries per doc (4 at b=4,
    10 at b=5, 20 at b=6) — linear in n, the price of keeping the
    candidate join off the O(n^2 / 2^bits) random-collision curve.
    At cluster scale pass the row count from table metadata.
    """
    import math

    if max_hamming + 1 > max_blocks:
        raise ValueError("max_blocks must exceed max_hamming")
    need = (
        math.ceil(math.log2(n_rows / target_bucket))
        if n_rows > target_bucket
        else 1
    )
    b = max_blocks
    for cand in range(max_hamming + 1, max_blocks + 1):
        if total_bits * (cand - max_hamming) // cand >= need:
            b = cand
            break
    return [
        total_bits // b + (1 if i < total_bits % b else 0)
        for i in range(b)
    ]


def simhash64_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    widths: list[int],
) -> DataFrame:
    """64-bit SimHash kept as ``len(widths)`` separate block values
    (bit ranges of the signature, widths summing to 64) instead of
    one assembled BIGINT — bit 63 would overflow a signed long, and
    the blocks are exactly what both the combination-key candidate
    join and the XOR-popcount verification consume. ``widths=[16]``
    is the 16-bit :func:`simhash` (bits 0-15 only).

    Bit sources: the portable md5 hash is 60 bits, so bits 0-31 come
    from ``hash64(tok)`` and bits 32-63 from ``hash64(tok || '#2')``
    (an independent second draw — same trick the DuckDB oracle
    replays). One shuffle: the per-doc vote aggregation (partial-agg
    friendly sums)."""
    n_bits = sum(widths)
    toked = df.select(
        F.col(id_col), F.array_distinct(tokens(text_col)).alias("_ts")
    )
    toked = toked.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    # lane-packing guard: 4 x 16-bit counters share one BIGINT, so a
    # doc may not have >= 2^16 distinct tokens (lanes would carry).
    # Real corpora chunk long docs far below this; fail loudly if not.
    toked = toked.withColumn(
        "_ts",
        F.when(
            F.size("_ts") < 65536, F.col("_ts")
        ).otherwise(
            F.raise_error(
                F.lit("simhash64: >=65536 distinct tokens in one doc")
            )
        ),
    )
    tok = (
        toked.select(F.col(id_col), F.explode("_ts").alias("tok"))
        .withColumn("h1", hash64(F.col("tok")))
        .withColumn("h2", hash64(F.concat(F.col("tok"), F.lit("#2"))))
    )
    # Vote sums, 4 bit-counters PACKED per aggregate column (bits
    # 4g..4g+3 at 16-bit lanes): 17 agg columns instead of 65 — the
    # 65-column version spent ~7s in first-run Janino codegen compile.
    # Lane sums are exact (no carry below 2^16 tokens), and everything
    # is built from SQL strings: a deep py4j Column tree costs seconds
    # of driver time at this width. vote_b >= 0 becomes
    # 2*lane_count_b >= n (sum of +-1 votes == 2*ones - n).
    def bit(b: int) -> str:
        return f"(shiftright({'h1' if b < 32 else 'h2'}, {b % 32}) & 1)"

    packed = [
        F.expr(
            "sum("
            + " + ".join(
                f"({bit(4 * g + j)} << {16 * j})" for j in range(4)
            )
            + ")"
        ).alias(f"p_{g}")
        for g in range(n_bits // 4)
    ]
    agg = tok.groupBy(id_col).agg(*packed, F.count("*").alias("n"))

    def lane(b: int) -> str:
        return f"((p_{b // 4} >> {16 * (b % 4)}) & 65535)"

    starts = [sum(widths[:i]) for i in range(len(widths))]
    block_exprs = [
        "CAST("
        + " + ".join(
            f"(CASE WHEN 2 * {lane(s + r)} >= n "
            f"THEN {2**r} ELSE 0 END)"
            for r in range(w)
        )
        + f" AS BIGINT) AS block_{bd}"
        for bd, (s, w) in enumerate(zip(starts, widths))
    ]
    return agg.selectExpr(id_col, *block_exprs)


def simhash64_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bands: int = 4,
    band_bits: int = 16,
    max_hamming: int = 3,
    plan_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash with block-combination
    candidate generation + inline Hamming verification.

    The signature splits into ``b`` blocks; by pigeonhole any pair
    within ``max_hamming`` shares at least one combination of
    ``b - max_hamming`` whole blocks, so joining on each
    concatenated-combination key has *exact* recall — no all-pairs
    comparison anywhere, and the OUTPUT is scheme-independent (it is
    exactly the hamming<=k pair set), which is why the DuckDB oracle
    can replay the simplest b=4 banding whatever plan size Spark
    picks. ``plan_rows`` (pass the corpus row count) engages
    :func:`simhash_plan_blocks`, growing the candidate key space with
    the corpus — at b=4 the combination scheme degenerates to the
    classic one-band-of-16 join; at 10M+ docs it widens to 25/32-bit
    keys so random collisions stay ~target_bucket-bounded.

    Verification is INLINE: entries carry all block values, so the
    candidate join computes XOR+popcount directly and filters before
    the final pair-dedup — no re-join against the signature table and
    the distinct only ever sees true near-dup pairs (multiplicity
    <= C(b, k), not the raw candidate stream). Output:
    (id_a, id_b, hamming)."""
    from itertools import combinations

    if plan_rows is not None:
        widths = simhash_plan_blocks(plan_rows, max_hamming=max_hamming)
    else:
        if max_hamming > bands - 1:
            raise ValueError(
                f"banding guarantees recall only to hamming {bands - 1}; "
                f"raise bands for max_hamming={max_hamming}"
            )
        widths = [band_bits] * bands
    # persist: the self-join's a/b sides project DIFFERENT columns
    # off the exploded entries, so exchange reuse is not guaranteed
    # and without the cache the tokenize + 16-lane vote aggregation
    # can run twice (ADVICE r6). Unpersisted per the registry cache
    # contract: the plan is materialized by the caller's one action;
    # harnesses clearCache between queries.
    sig = simhash64_blocks(df, id_col, text_col, widths).persist()
    return blocks_near_dupes(
        sig, id_col, widths, max_hamming=max_hamming
    )


def blocks_near_dupes(
    sig: DataFrame,
    id_col: str,
    widths: list[int],
    *,
    max_hamming: int,
) -> DataFrame:
    """Hamming-banded near-dup join over ANY blocked bit-signature
    table (columns ``block_0..block_{n-1}`` holding bit ranges of the
    given widths) — the candidate-generation + inline-verification
    half of :func:`simhash64_near_dupes`, factored out (round 10) so
    other 64-bit signatures (image dHash,
    operators/multimodal.py:image_dhash_blocks) reuse the identical
    exact-recall scheme instead of reimplementing it.

    By pigeonhole any pair within ``max_hamming`` shares at least one
    combination of ``n - max_hamming`` whole blocks, so joining on
    each concatenated-combination key has exact recall; verification
    is inline XOR+popcount before the final pair-dedup. Output:
    (id_a, id_b, hamming) with id_a < id_b.

    Scale (100 TB): one explode (x n_combos) + one shuffle on the
    combination key; candidate buckets are bounded by signature
    collisions, never corpus^2. Callers should persist ``sig`` when
    its lineage is expensive (the a/b sides project different columns,
    so exchange reuse is not guaranteed)."""
    from itertools import combinations

    nb = len(widths)
    combos = list(combinations(range(nb), nb - max_hamming))
    if nb == max_hamming + 1:
        # classic banding: one block per key
        combos = [(bd,) for bd in range(nb)]

    def key_expr(combo: tuple[int, ...]) -> Column:
        k: Column | None = None
        for bd in combo:
            blk = F.col(f"block_{bd}")
            k = blk if k is None else (
                k * F.lit(2 ** widths[bd]).cast("long") + blk
            )
        return k.cast("long")

    entries = sig.select(
        F.col(id_col),
        *[F.col(f"block_{bd}") for bd in range(nb)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("combo_idx"),
                        key_expr(c).alias("key"),
                    )
                    for ci, c in enumerate(combos)
                ]
            )
        ).alias("ck"),
    ).select(
        id_col,
        *[f"block_{bd}" for bd in range(nb)],
        "ck.combo_idx",
        "ck.key",
    )
    a = entries.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"block_{bd}").alias(f"a_{bd}") for bd in range(nb)],
        "combo_idx",
        "key",
    )
    b = entries.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"block_{bd}").alias(f"b_{bd}") for bd in range(nb)],
        "combo_idx",
        "key",
    )
    ham = None
    for bd in range(nb):
        h = F.bit_count(F.col(f"a_{bd}").bitwiseXOR(F.col(f"b_{bd}")))
        ham = h if ham is None else ham + h
    return (
        a.join(b, ["combo_idx", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def containment_pairs(
    index: DataFrame, id_col: str, min_overlap: float
) -> DataFrame:
    """Asymmetric near-dup detection: pairs whose shingle OVERLAP
    coefficient ``shared / min(n_a, n_b)`` >= threshold, plus both
    directional containments ``shared / n_a`` and ``shared / n_b``.

    Jaccard misses doc-in-doc duplication — a paragraph quoted inside
    a 100x longer page has tiny Jaccard but containment ~1.0. This is
    the query that finds quotes, boilerplate inclusions, and
    subset-republication, the cases a training-data pipeline must
    catch to avoid double-counting text (Broder's containment, the
    same statistic CC-style pipelines use for URL rollups).

    Same plan shape (and the same df-capped index input) as
    jaccard_pairs: hash-keyed self-join on the 60-bit shingle hash,
    partial-agg shared counts, two small size joins — only
    (id, hash) pairs ever shuffle.
    """
    sizes = index.groupBy(id_col).agg(F.count("*").alias("n"))
    key = hash64(F.col("shingle")).alias("_sh")
    a = index.select(F.col(id_col).alias("id_a"), key)
    b = index.select(F.col(id_col).alias("id_b"), key)
    shared = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    overlap = F.col("shared") / F.least("n_a", "n_b").cast("double")
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("overlap", overlap)
        .filter(F.col("overlap") >= min_overlap)
        .select(
            "id_a",
            "id_b",
            "shared",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "overlap",
            (F.col("shared") / F.col("n_a").cast("double")).alias(
                "containment_a"
            ),
            (F.col("shared") / F.col("n_b").cast("double")).alias(
                "containment_b"
            ),
        )
    )


# --- Bloom-filter corpus membership ------------------------------------------

BLOOM_M_BITS = 1 << 20  # 1 Mi bits = 32 Ki 32-bit words
BLOOM_K = 3


def bloom_positions(hash_col, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """k bit positions from one portable 60-bit hash via double
    hashing (Kirsch-Mitzenmacher: p_i = (h1 + i*h2) mod m). Pure
    nonnegative BIGINT arithmetic — identical in every engine."""
    # m is a power of two, so h % m and h DIV m are bit ops — exact on
    # the 60-bit hash (a float `/` would round above 2^53 and silently
    # diverge from the oracle's integer arithmetic)
    log2m = m_bits.bit_length() - 1
    if (1 << log2m) != m_bits:
        raise ValueError("m_bits must be a power of two")
    h1 = hash_col.bitwiseAND(m_bits - 1)
    h2 = 1 + F.shiftright(hash_col, log2m) % (m_bits - 1)
    return F.array(*[(h1 + F.lit(i) * h2) % m_bits for i in range(k)])


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Build a Bloom filter RELATIONALLY: one row per 32-bit word that
    has any bit set — (word_idx, word) with ``word = bit_or(1 << (p %
    32))``. 32-bit words keep every value positive (no BIGINT
    sign-bit edge cases across engines).

    Scale: the build is one partial-agg shuffle of (word_idx, word)
    pairs — at most m/32 rows regardless of corpus size — and the
    resulting filter is kilobytes-to-megabytes, so the PROBE side
    broadcast-joins it. This is how a 100 TB corpus membership check
    avoids re-shuffling the corpus for every incoming batch: build
    once, persist the words table, broadcast to probes.
    """
    pos = keys.select(
        F.explode(
            bloom_positions(hash64(F.col(key_col)), m_bits, k)
        ).alias("p")
    )
    return (
        pos.select(
            F.shiftright(F.col("p"), 5).alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
                "v"
            ),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(v)").alias("word"))
    )


def bloom_probe_docs(
    index: DataFrame,
    bloom: DataFrame,
    id_col: str,
    *,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Probe each document's shingles against a (broadcast) Bloom
    filter: a shingle is maybe-present iff ALL k bits are set.
    Returns per-doc (n_shingles, n_maybe_in_corpus, hit_rate) — the
    contamination-screen statistic. False positives are bounded by
    the classic (1 - e^{-kn/m})^k; false negatives are impossible,
    so hit_rate == 0 certifies a clean doc."""
    pos = index.select(
        F.col(id_col),
        F.col("shingle"),
        F.explode(
            bloom_positions(hash64(F.col("shingle")), m_bits, k)
        ).alias("p"),
    ).select(
        id_col,
        "shingle",
        F.shiftright(F.col("p"), 5).alias("word_idx"),
        (F.col("p") % 32).alias("bit"),
    )
    probed = pos.join(F.broadcast(bloom), "word_idx", "left").withColumn(
        "hit",
        F.when(
            F.expr("(shiftright(word, CAST(bit AS INT)) & 1) = 1"), 1
        ).otherwise(0),
    )
    per_shingle = probed.groupBy(id_col, "shingle").agg(
        F.min("hit").alias("all_set")
    )
    return per_shingle.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("all_set").cast("long").alias("n_maybe_in_corpus"),
        (F.sum("all_set") / F.count("*").cast("double")).alias("hit_rate"),
    )


def positional_shingle_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    *,
    max_doc_freq: int | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Like :func:`shingle_index` but keeps each shingle's token
    POSITION — the anchor table for exact duplicated-passage
    detection (positions let matched anchors chain into runs).
    ``max_doc_freq`` drops shingles present in more than that many
    distinct docs (distinct, not raw rows: a shingle repeated inside
    one doc must not trip the cap)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("_ts"))
    nparts = parallelism or df.sparkSession.sparkContext.defaultParallelism
    toked = toked.repartition(nparts, id_col)
    ts = F.col("_ts")
    sh = F.when(
        F.size(ts) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ts) - n),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(ts, (i + j + 1).cast("int")) for j in range(n)],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    idx = toked.select(
        F.col(id_col), F.posexplode(sh).alias("pos", "shingle")
    )
    if max_doc_freq is not None:
        hot = (
            idx.select(id_col, "shingle")
            .distinct()
            .groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        idx = idx.join(F.broadcast(hot), "shingle", "left_anti")
    return idx


def duplicate_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    *,
    max_doc_freq: int | None = None,
    min_run_tokens: int = 15,
) -> DataFrame:
    """Exact duplicated-passage detection (the substring-dedup step of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): maximal runs of verbatim-shared text >= min_run_tokens
    between doc pairs, found WITHOUT any suffix array.

    Plan: positional n-gram anchors (df-capped) -> anchor equi-join
    on the shingle -> per (pair, diagonal = pos_a - pos_b) the
    matched anchor positions chain into gaps-and-islands runs; a run
    of k consecutive anchors is a shared span of k + n - 1 tokens.
    Every step is an equi-join or a keyed window: the anchor join is
    bounded by the df cap (hot boilerplate shingles never fan out),
    and the diagonal trick turns 2-D span matching into 1-D
    consecutive-integer islands — the same plan at 100 TB, with the
    shingle hash as the shuffle key. Returns one row per doc pair:
    n_runs, max_run_tokens, dup_tokens (sum over runs; overlapping
    diagonals each count their own run).
    """
    idx = positional_shingle_index(
        df, id_col, text_col, n, max_doc_freq=max_doc_freq
    )
    a = idx.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pos_a"), "shingle"
    )
    b = idx.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pos_b"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    prev = F.lag("pos_a").over(w)
    flagged = pairs.withColumn(
        "_nr",
        F.when(prev.isNull() | (F.col("pos_a") - prev > 1), F.lit(1))
        .otherwise(F.lit(0)),
    )
    runs = (
        flagged.withColumn(
            "_rid",
            F.sum("_nr").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_a", "doc_b", "diag", "_rid")
        .agg(
            (F.max("pos_a") - F.min("pos_a") + F.lit(n)).alias("run_tokens")
        )
        .filter(F.col("run_tokens") >= min_run_tokens)
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_tokens").cast("long").alias("max_run_tokens"),
        F.sum("run_tokens").alias("dup_tokens"),
    )


# Input-size guard for the labeled-quadratic baseline plan (r12
# verdict item 1): on clone-heavy corpora jaccard_pairs_prefix is
# O(n^2) by its own SCALE.md adjudication (99.1 s at x8=40k docs vs
# 6.6 s for the df-capped plan). 25_000 docs admits the gate scales
# (sf0.1 = 5k docs) and ~x4 replication (20k) — the largest size the
# measured wall times justify — and raises loudly above it so no
# bench or user run silently executes the quadratic plan. Deliberate
# oversized baseline runs (scale smokes) pass guard_max_docs=None.
QUADRATIC_GUARD_DOCS = 25_000


def jaccard_pairs_prefix(
    index: DataFrame,
    id_col: str,
    jaccard_num: int,
    jaccard_den: int,
    *,
    guard_max_docs: int | None = QUADRATIC_GUARD_DOCS,
) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs (the PPJoin/SSJoin family,
    Chaudhuri et al. / Xiao et al.): same result set as
    :func:`jaccard_pairs`, but the candidate join touches only each
    doc's PREFIX — its ``|d| - ceil(t*|d|) + 1`` rarest shingles in a
    global (df, hash) canonical order. Two docs with Jaccard >= t
    must share a prefix token, so candidates are complete; and
    because prefixes are drawn rarest-first, the equi-join's groups
    are the SMALLEST df groups in the corpus — the hot-token pair
    blowup the df-cap fights is structurally avoided here, making
    this the all-pairs plan that still stands at 100 TB (the df-cap
    then only guards recall policy, not the join).

    The threshold is a RATIONAL ``jaccard_num/jaccard_den``: prefix
    lengths and the |A|-vs-|B| size filter use exact integer
    cross-multiplication — a float ``0.4`` would exclude true
    boundary pairs (0.4*5 > 2 in IEEE). Verification reuses
    :func:`jaccard_for_pairs` (exact), so the output is
    bit-identical to the ground-truth plan.

    Round 5 added the POSITIONAL filter (PPJoin proper): candidates
    whose overlap upper bound (from prefix-token ranks) cannot reach
    the threshold's minimum overlap are dropped BEFORE the verify
    join. Output-identical (the bound is sound; oracle-gated at
    sf0.001/sf0.01).

    Round 6 MEASURED the scale claim and demoted this plan to
    reference status (SCALE.md PPJoin section, x1..x8 clone-corpus
    A/B with candidate counts): ~2.4x fewer candidates than the
    df-capped plan at every scale, but 14x slower wall time at x8 —
    on near-dup-heavy corpora the clone cluster shares its rarest
    prefix token, so prefix join groups grow with cluster size just
    like the capped plan's, and the window/agg constants dominate.
    Use when completeness policy forbids the df-cap; prefer
    :func:`jaccard_pairs` for speed.

    Round 13: guarded by ``guard_max_docs`` (default
    ``QUADRATIC_GUARD_DOCS``) — raises before planning the join when
    the index covers more documents, so the quadratic baseline can
    only run at sizes its SCALE.md adjudication justifies. Pass
    ``guard_max_docs=None`` for a deliberate oversized baseline run.
    """
    if guard_max_docs is not None:
        n_docs = index.select(id_col).distinct().count()
        if n_docs > guard_max_docs:
            raise ValueError(
                f"jaccard_pairs_prefix: index covers {n_docs} documents"
                f" > guard_max_docs={guard_max_docs}. This is the"
                " labeled-quadratic completeness baseline (O(n^2) on"
                " clone-heavy corpora, SCALE.md PPJoin section); use"
                " jaccard_pairs (df-capped) or minhash_lsh at this"
                " scale, or pass guard_max_docs=None for a deliberate"
                " baseline run."
            )
    cand = prefix_candidates(index, id_col, jaccard_num, jaccard_den)
    p, q = jaccard_num, jaccard_den
    return (
        jaccard_for_pairs(index, cand, id_col)
        .filter(
            F.col("shared") * q
            >= (F.col("n_a") + F.col("n_b") - F.col("shared")) * p
        )
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
    )


def prefix_candidates(
    index: DataFrame,
    id_col: str,
    jaccard_num: int,
    jaccard_den: int,
    *,
    positional: bool = True,
) -> DataFrame:
    """The PPJoin candidate stage as its own DataFrame (id_a, id_b) —
    split out so the scale smoke can COUNT candidates with and
    without the positional filter against the df-capped plan's
    candidate volume (tools/scale_smoke.py); ``positional=False``
    stops after the prefix join + length filter."""
    p, q = jaccard_num, jaccard_den
    key = hash64(F.col("shingle")).alias("_sh")
    idxh = index.select(F.col(id_col), key)
    # df as a count-over-window on the _sh partition: ONE shuffle
    # annotates every posting, where groupBy + join back would
    # shuffle the index twice
    withdf = idxh.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("_sh"))
    )
    ranked = withdf.select(
        "*",
        F.row_number()
        .over(Window.partitionBy(id_col).orderBy("_df", "_sh"))
        .alias("_rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy(id_col))
        .alias("n"),
    )
    # prefix length = n - ceil(p*n/q) + 1, all-integer
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("n")
        - F.expr(f"(n * {p} + {q} - 1) DIV {q}")
        + 1
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"),
        "_sh",
        F.col("n").alias("_na"),
        F.col("_rn").alias("_ia"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"),
        "_sh",
        F.col("n").alias("_nb"),
        F.col("_rn").alias("_ib"),
    )
    # positional filter (PPJoin proper): a shared prefix token at
    # ranks (i, j) bounds the overlap — shared tokens BEFORE it sit
    # before it in BOTH docs (the rank order is one global canonical
    # (df, hash) order), so overlap <= min(i,j) + min(na-i, nb-j).
    # Every colliding token yields a valid bound, so a pair must
    # satisfy its TIGHTEST one: group to min(ub) (same shuffle the
    # plain distinct paid) and require it to reach the threshold's
    # minimum overlap o >= ceil(p*(na+nb)/(p+q)) — all integer.
    ub = F.least("_ia", "_ib") + F.least(
        F.col("_na") - F.col("_ia"), F.col("_nb") - F.col("_ib")
    )
    joined = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        # J >= p/q  =>  p * max(|A|,|B|) <= q * min(|A|,|B|)
        .filter(F.col("_na") * p <= F.col("_nb") * q)
        .filter(F.col("_nb") * p <= F.col("_na") * q)
        .select("id_a", "id_b", ub.alias("_ub"), "_na", "_nb")
    )
    if not positional:
        return joined.select("id_a", "id_b").distinct()
    return (
        joined.groupBy("id_a", "id_b")
        .agg(
            F.min("_ub").alias("_min_ub"),
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
        )
        .filter(
            F.col("_min_ub") * (p + q)
            >= (F.col("_na") + F.col("_nb")) * p
        )
        .select("id_a", "id_b")
    )
