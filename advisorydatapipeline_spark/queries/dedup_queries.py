"""Dedup operator queries with DuckDB oracles (north-star ops).

The oracles replay the exact portable-md5 computation the Spark
operators perform, so every stage (shingling, MinHash signatures, LSH
banding, Jaccard verification, SimHash votes) is value-checked — not
just row counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from advisorydatapipeline_spark.operators.dedup import (
    duplicate_passages,
    exact_dedup_groups,
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_near_dupes,
    shingle_index,
    simhash64_near_dupes,
    simhash_buckets,
)
from advisorydatapipeline_spark.functions.text import tokens
from advisorydatapipeline_spark.queries.helpers import load
from advisorydatapipeline_spark.registry import query

# --- portable DuckDB snippets -------------------------------------------------

DUCK_TOKENS = (
    "list_filter(string_split_regex(lower({x}), '[^a-z0-9]+'), t -> t <> '')"
)
DUCK_HASH64 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
DUCK_NORM = "lower(trim(regexp_replace({x}, '\\s+', ' ', 'g')))"

# shared shingle-index CTE (3-gram word shingles, distinct per doc)
DUCK_SHINGLES = f"""
toks AS (
  SELECT doc_id, {DUCK_TOKENS.format(x='text')} AS ts FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(ts) - 2),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
  FROM toks WHERE len(ts) >= 3
)
"""

MIN_JACCARD = 0.4
# 8 bands x 2 rows: recall at the J=0.4 decision threshold is
# 1-(1-J^2)^8 ~= 0.75 vs ~0.1 for 4x4 — and LSH false positives are
# free here because every candidate is verified with true Jaccard.
NUM_HASHES, BANDS, ROWS = 16, 8, 2


@query(
    "dedup_exact",
    oracle=f"""
SELECT md5({DUCK_NORM.format(x='text')}) AS content_key,
       min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by normalized-content hash groupBy."""
    return exact_dedup_groups(load(spark, sf_dir, "documents"), "doc_id", "text")


# df-cap: drop shingles appearing in more than this many docs. This is
# what bounds the inverted-index self-join — without it one hot shingle
# drives O(df^2) candidate pairs at corpus scale. Near-dup signal lives
# in rare shingles, so the cap costs ~nothing in recall.
MAX_DOC_FREQ = 100

# CTE body shared by the pair query and the clustering query's oracle
_JACCARD_CTES = f"""{DUCK_SHINGLES},
hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {MAX_DOC_FREQ}
),
shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  WHERE sh.shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
shh AS (
  SELECT doc_id, {DUCK_HASH64.format(x='shingle')} AS sh64 FROM shc
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM shh a JOIN shh b ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jp AS (
  SELECT p.id_a, p.id_b, p.shared,
         CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         p.shared / CAST(sa.n + sb.n - p.shared AS DOUBLE) AS jaccard
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.id_a
  JOIN sizes sb ON sb.doc_id = p.id_b
  WHERE p.shared / CAST(sa.n + sb.n - p.shared AS DOUBLE) >= {MIN_JACCARD}
)"""

_JACCARD_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b, shared, n_a, n_b, jaccard FROM jp
"""


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jp
  UNION ALL
  SELECT id_b, id_a FROM jp
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
"""


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the exact-Jaccard
    pair graph (min-reachable-id labeling). Pairs say "these two are
    dups"; the component is the dedup unit — keep ``min(doc_id)`` per
    cluster, drop the rest. Pregel-style min-label propagation
    (operators/graph.py); the oracle replays it as a recursive
    reachability CTE."""
    from advisorydatapipeline_spark.operators.graph import (
        connected_components,
    )

    idx = shingle_index(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        3,
        max_doc_freq=MAX_DOC_FREQ,
    ).persist()
    pairs = jaccard_pairs(idx, "doc_id", MIN_JACCARD)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram-Jaccard near-dup pairs via the inverted shingle
    index, df-capped so hot shingles can't drive a quadratic self-join
    (no LSH approximation — this is the ground truth the LSH variant
    is verified against)."""
    idx = shingle_index(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        3,
        max_doc_freq=MAX_DOC_FREQ,
    ).persist()  # feeds both the pair join and the per-doc sizes
    return jaccard_pairs(idx, "doc_id", MIN_JACCARD)


from advisorydatapipeline_spark.operators.dedup import (  # noqa: E402
    MINHASH_P,
    minhash_params,
)

_SIG_AGGS = ",\n       ".join(
    f"min((({DUCK_HASH64.format(x='shingle')} % {MINHASH_P}) * {a} + {b}) "
    f"% {MINHASH_P}) AS sig_{i}"
    for i, (a, b) in enumerate(minhash_params(NUM_HASHES))
)
_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_idx, "
    "md5(concat_ws(',', "
    + ", ".join(f"sig_{b * ROWS + r}" for r in range(ROWS))
    + ")) AS band_key FROM sigs"
    for b in range(BANDS)
)

_MINHASH_ORACLE = f"""
WITH {DUCK_SHINGLES},
sigs AS (
  SELECT doc_id,
       {_SIG_AGGS}
  FROM sh GROUP BY doc_id
),
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
verified AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM (SELECT doc_id, {DUCK_HASH64.format(x='shingle')} AS sh64 FROM sh) a
  JOIN (SELECT doc_id, {DUCK_HASH64.format(x='shingle')} AS sh64 FROM sh) b
    ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       v.shared / CAST(sa.n + sb.n - v.shared AS DOUBLE) AS jaccard
FROM cands c
JOIN verified v ON v.id_a = c.id_a AND v.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE v.shared / CAST(sa.n + sb.n - v.shared AS DOUBLE) >= {MIN_JACCARD}
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16) + LSH(8x2 bands) candidate generation, verified by
    true Jaccard — the scale path for near-dup detection (candidate
    join is O(docs x bands), not O(pairs))."""
    return minhash_near_dupes(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        min_jaccard=MIN_JACCARD,
    )


_SIMHASH_BITS = 16
_VOTES = ",\n       ".join(
    f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v_{b}"
    for b in range(_SIMHASH_BITS)
)
_SIG_SUM = " + ".join(
    f"(CASE WHEN v_{b} >= 0 THEN {2**b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
)

_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct({DUCK_TOKENS.format(x='text')})) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, {DUCK_HASH64.format(x='tok')} AS h FROM toks
),
votes AS (
  SELECT doc_id,
       {_VOTES}
  FROM hashed GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, CAST({_SIG_SUM} AS BIGINT) AS simhash FROM votes
)
SELECT simhash, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_docs
FROM sigs GROUP BY simhash
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    """GROUND-TRUTH / TEACHING VARIANT — not the scale path.

    SimHash(16-bit) identical-signature bucketing. With only 2^16
    possible signatures, bucket sizes grow linearly with the corpus:
    at 100 TB a single signature collects millions of docs and the
    bucket becomes the hot partition. It is kept (and oracle-gated)
    as the exact, easily-verified baseline that the banded 64-bit
    variant is checked against; production dedup at scale is
    :func:`dedup_simhash64` (4x16-bit banded candidates, pigeonhole-
    exact to Hamming 3, XOR-popcount verify)."""
    return simhash_buckets(load(spark, sf_dir, "documents"), "doc_id", "text")


# --- 64-bit SimHash, banded Hamming ------------------------------------------

_SH64_BANDS, _SH64_BAND_BITS, _SH64_MAX_HAM = 4, 16, 3

_SH64_VOTES = ",\n       ".join(
    f"sum(CASE WHEN (({'h1' if b < 32 else 'h2'} >> {b % 32}) & 1) = 1 "
    f"THEN 1 ELSE -1 END) AS v_{b}"
    for b in range(_SH64_BANDS * _SH64_BAND_BITS)
)
_SH64_BAND_EXPRS = ",\n       ".join(
    "CAST("
    + " + ".join(
        f"(CASE WHEN v_{bd * _SH64_BAND_BITS + r} >= 0 THEN {2**r} ELSE 0 END)"
        for r in range(_SH64_BAND_BITS)
    )
    + f" AS BIGINT) AS band_{bd}"
    for bd in range(_SH64_BANDS)
)
_SH64_ENTRIES = "\nUNION ALL\n".join(
    f"SELECT doc_id, {bd} AS band_idx, band_{bd} AS band_val FROM bands"
    for bd in range(_SH64_BANDS)
)
_SH64_HAM = " + ".join(
    f"bit_count(xor(sa.band_{bd}, sb.band_{bd}))" for bd in range(_SH64_BANDS)
)

_SIMHASH64_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct({DUCK_TOKENS.format(x='text')})) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, {DUCK_HASH64.format(x='tok')} AS h1,
         {DUCK_HASH64.format(x="tok || '#2'")} AS h2
  FROM toks
),
votes AS (
  SELECT doc_id,
       {_SH64_VOTES}
  FROM hashed GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
       {_SH64_BAND_EXPRS}
  FROM votes
),
entries AS (
{_SH64_ENTRIES}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM entries a JOIN entries b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, CAST({_SH64_HAM} AS INT) AS hamming
FROM cands c
JOIN bands sa ON sa.doc_id = c.id_a
JOIN bands sb ON sb.doc_id = c.id_b
WHERE {_SH64_HAM} <= {_SH64_MAX_HAM}
"""


@query("dedup_simhash64", oracle=_SIMHASH64_ORACLE)
def dedup_simhash64(spark, sf_dir):
    """64-bit SimHash near-dup pairs: 4x16-bit banded candidate
    generation (exact recall to Hamming 3 by pigeonhole) + XOR-popcount
    verification. The scale path the 16-bit bucket variant isn't."""
    return simhash64_near_dupes(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bands=_SH64_BANDS,
        band_bits=_SH64_BAND_BITS,
        max_hamming=_SH64_MAX_HAM,
    )


# --- incremental dedup: new batch vs existing corpus --------------------------

_NEW_MOD, _NEW_REM = 10, 7

_INCREMENTAL_ORACLE = f"""
WITH {DUCK_SHINGLES},
sigs AS (
  SELECT doc_id,
       {_SIG_AGGS}
  FROM sh GROUP BY doc_id
),
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
 WHERE a.doc_id % {_NEW_MOD} <> {_NEW_REM}
   AND b.doc_id % {_NEW_MOD} = {_NEW_REM}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
verified AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM (SELECT doc_id, {DUCK_HASH64.format(x='shingle')} AS sh64 FROM sh) a
  JOIN (SELECT doc_id, {DUCK_HASH64.format(x='shingle')} AS sh64 FROM sh) b
    ON a.sh64 = b.sh64
  WHERE a.doc_id % {_NEW_MOD} <> {_NEW_REM}
    AND b.doc_id % {_NEW_MOD} = {_NEW_REM}
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       v.shared / CAST(sa.n + sb.n - v.shared AS DOUBLE) AS jaccard
FROM cands c
JOIN verified v ON v.id_a = c.id_a AND v.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE v.shared / CAST(sa.n + sb.n - v.shared AS DOUBLE) >= {MIN_JACCARD}
"""


@query("dedup_incremental", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental(spark, sf_dir):
    """The production dedup shape: an INCOMING batch is checked
    against the EXISTING corpus only (no old-vs-old or new-vs-new
    pairs — those were settled in earlier runs). The new batch's LSH
    bands are broadcast — a daily increment is tiny next to a 100 TB
    corpus, so the corpus-side band index and shingle index never
    reshuffle. In production the corpus signatures/bands are a
    persisted table; here both sides derive from one pass."""
    from advisorydatapipeline_spark.operators.dedup import (
        jaccard_for_pairs,
        lsh_bands,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    idx = shingle_index(docs, "doc_id", "text", 3).persist()
    bands = lsh_bands(
        minhash_signatures(idx, "doc_id", NUM_HASHES), "doc_id", BANDS, ROWS
    )
    is_new = F.col("doc_id") % _NEW_MOD == _NEW_REM
    old_b = bands.filter(~is_new)
    new_b = bands.filter(is_new).select(
        F.col("doc_id").alias("id_b"), "band_idx", "band_key"
    )
    cands = (
        old_b.join(F.broadcast(new_b), ["band_idx", "band_key"])
        .select(F.col("doc_id").alias("id_a"), "id_b")
        .distinct()
    )
    verified = jaccard_for_pairs(idx, cands, "doc_id")
    return verified.filter(F.col("jaccard") >= MIN_JACCARD).select(
        "id_a", "id_b", "jaccard"
    )


_CANONICAL_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jp
  UNION ALL
  SELECT id_b, id_a FROM jp
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
),
cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
drops AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(count(*) FILTER (WHERE dr.doc_id IS NULL) AS BIGINT)
         AS n_after,
       CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS chars_after
FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
GROUP BY 1
"""


@query("canonical_corpus", oracle=_CANONICAL_ORACLE)
def canonical_corpus(spark, sf_dir):
    """The fuzzy-dedup capstone: near-dup pairs -> connected
    components -> drop every cluster member except the canonical
    ``min(doc_id)`` -> per-source before/after corpus accounting.
    This is the rewrite a training pipeline actually ships — the
    pair/cluster queries are its observability. The drop set is tiny
    (cluster members only), so it broadcasts back onto the corpus
    scan; the full documents table never shuffles."""
    from advisorydatapipeline_spark.operators.graph import (
        connected_components,
    )

    docs = load(spark, sf_dir, "documents")
    idx = shingle_index(
        docs, "doc_id", "text", 3, max_doc_freq=MAX_DOC_FREQ
    ).persist()
    pairs = jaccard_pairs(idx, "doc_id", MIN_JACCARD)
    cc = connected_components(pairs, "id_a", "id_b")
    drops = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("drop_id")
    )
    keep = F.col("drop_id").isNull()
    return (
        docs.join(
            F.broadcast(drops), docs.doc_id == F.col("drop_id"), "left"
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_before"),
            F.count(F.when(keep, 1)).cast("long").alias("n_after"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_after"),
        )
    )


# --- LSH tuning eval: recall / candidate precision vs exact truth ------------

_LSH_EVAL_ORACLE = f"""
WITH {DUCK_SHINGLES},
sigs AS (
  SELECT doc_id,
       {_SIG_AGGS}
  FROM sh GROUP BY doc_id
),
bands AS (
{_BAND_SELECTS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
allp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM (SELECT doc_id, {DUCK_HASH64.format(x='shingle')} AS sh64 FROM sh) a
  JOIN (SELECT doc_id, {DUCK_HASH64.format(x='shingle')} AS sh64 FROM sh) b
    ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT p.id_a, p.id_b
  FROM allp p
  JOIN sizes sa ON sa.doc_id = p.id_a
  JOIN sizes sb ON sb.doc_id = p.id_b
  WHERE p.shared / CAST(sa.n + sb.n - p.shared AS DOUBLE) >= {MIN_JACCARD}
),
ver AS (
  SELECT c.id_a FROM cands c JOIN truth t
    ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM cands) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_verified,
       CAST((SELECT count(*) FROM ver) * 1000000
            // GREATEST((SELECT count(*) FROM truth), 1) AS BIGINT)
         AS recall_ppm,
       CAST((SELECT count(*) FROM ver) * 1000000
            // GREATEST((SELECT count(*) FROM cands), 1) AS BIGINT)
         AS cand_precision_ppm
"""


@query("lsh_recall_eval", oracle=_LSH_EVAL_ORACLE)
def lsh_recall_eval(spark, sf_dir):
    """Measure, don't guess: LSH banding quality against exact ground
    truth — recall (verified candidates / true pairs) and candidate
    precision (verified / generated candidates), in exact integer ppm.
    This is the tuning dial for (num_hashes, bands, rows): run it on a
    SAMPLE whenever banding parameters change; the exact-truth side is
    inherently all-co-occurring-pairs and is NOT meant for the full
    corpus (the production path stays candidates-only). Same uncapped
    shingle universe and threshold on both sides, so verified is a
    subset of truth by construction."""
    from advisorydatapipeline_spark.operators.dedup import (
        jaccard_for_pairs,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    idx = shingle_index(
        load(spark, sf_dir, "documents"), "doc_id", "text", 3
    ).persist()
    cands = lsh_candidate_pairs(
        lsh_bands(
            minhash_signatures(idx, "doc_id", NUM_HASHES),
            "doc_id",
            BANDS,
            ROWS,
        ),
        "doc_id",
    ).persist()
    verified = jaccard_for_pairs(idx, cands, "doc_id").filter(
        F.col("jaccard") >= MIN_JACCARD
    )
    truth = jaccard_pairs(idx, "doc_id", MIN_JACCARD)
    one = (
        truth.agg(F.count("*").cast("long").alias("n_true"))
        .crossJoin(
            F.broadcast(
                cands.agg(F.count("*").cast("long").alias("n_candidates"))
            )
        )
        .crossJoin(
            F.broadcast(
                verified.agg(F.count("*").cast("long").alias("n_verified"))
            )
        )
    )
    return one.select(
        "n_true",
        "n_candidates",
        "n_verified",
        F.expr("n_verified * 1000000L DIV GREATEST(n_true, 1L)").alias(
            "recall_ppm"
        ),
        F.expr(
            "n_verified * 1000000L DIV GREATEST(n_candidates, 1L)"
        ).alias("cand_precision_ppm"),
    )


MIN_OVERLAP = 0.5

_CONTAINMENT_ORACLE = f"""
WITH {DUCK_SHINGLES},
hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {MAX_DOC_FREQ}
),
shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  WHERE sh.shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
shh AS (
  SELECT doc_id, {DUCK_HASH64.format(x='shingle')} AS sh64 FROM shc
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM shh a JOIN shh b ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.shared,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       p.shared / CAST(least(sa.n, sb.n) AS DOUBLE) AS overlap,
       p.shared / CAST(sa.n AS DOUBLE) AS containment_a,
       p.shared / CAST(sb.n AS DOUBLE) AS containment_b
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
WHERE p.shared / CAST(least(sa.n, sb.n) AS DOUBLE) >= {MIN_OVERLAP}
"""


@query("dedup_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_containment(spark, sf_dir):
    """Doc-in-doc duplication: pairs by shingle OVERLAP coefficient
    (shared / min set size) with both directional containments —
    catches quotes and subset republication that Jaccard's
    union-normalization hides. Same df-capped inverted-index join
    plan as dedup_ngram_jaccard."""
    from advisorydatapipeline_spark.operators.dedup import (
        containment_pairs,
    )

    idx = shingle_index(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        3,
        max_doc_freq=MAX_DOC_FREQ,
    ).persist()
    return containment_pairs(idx, "doc_id", MIN_OVERLAP)


from advisorydatapipeline_spark.operators.dedup import (  # noqa: E402
    BLOOM_K,
    BLOOM_M_BITS,
)

_BLOOM_H = DUCK_HASH64.format(x="shingle")
_BLOOM_P = (
    f"((h % {BLOOM_M_BITS}) + i * (1 + (h // {BLOOM_M_BITS})"
    f" % {BLOOM_M_BITS - 1})) % {BLOOM_M_BITS}"
)

_BLOOM_ORACLE = f"""
WITH {DUCK_SHINGLES},
h AS (SELECT doc_id, shingle, {_BLOOM_H} AS h FROM sh),
ks AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i),
corpus_pos AS (
  SELECT {_BLOOM_P} AS p FROM h, ks
  WHERE doc_id % {_NEW_MOD} <> {_NEW_REM}
),
bloom AS (
  SELECT p // 32 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS word
  FROM corpus_pos GROUP BY 1
),
probe AS (
  SELECT doc_id, shingle, {_BLOOM_P} AS p FROM h, ks
  WHERE doc_id % {_NEW_MOD} = {_NEW_REM}
),
hits AS (
  SELECT p.doc_id, p.shingle,
         min(CASE WHEN ((b.word >> CAST(p.p % 32 AS INT)) & 1) = 1
             THEN 1 ELSE 0 END) AS all_set
  FROM probe p LEFT JOIN bloom b ON b.word_idx = p.p // 32
  GROUP BY 1, 2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(all_set) AS BIGINT) AS n_maybe_in_corpus,
       sum(all_set) / CAST(count(*) AS DOUBLE) AS hit_rate
FROM hits GROUP BY doc_id
"""


@query("bloom_corpus_probe", oracle=_BLOOM_ORACLE)
def bloom_corpus_probe(spark, sf_dir):
    """Bloom-filter corpus membership screen: the existing corpus's
    shingles build a 1 Mi-bit relational Bloom filter (<= 32 Ki rows
    of 32-bit words — kilobytes regardless of corpus size); each
    incoming doc's shingles probe it via a broadcast join and report
    the maybe-in-corpus fraction. Zero false negatives, so
    hit_rate = 0 certifies novel text without ever joining against
    the full corpus — the cheap first pass before exact/LSH dedup."""
    from advisorydatapipeline_spark.operators.dedup import (
        bloom_build,
        bloom_probe_docs,
    )

    idx = shingle_index(
        load(spark, sf_dir, "documents"), "doc_id", "text", 3
    ).persist()
    is_new = F.col("doc_id") % _NEW_MOD == _NEW_REM
    bloom = bloom_build(idx.filter(~is_new), "shingle")
    return bloom_probe_docs(idx.filter(is_new), bloom, "doc_id")


PASSAGE_N, PASSAGE_MIN_RUN = 8, 15


@query(
    "duplicate_passages",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {DUCK_TOKENS.format(x='text')} AS toks FROM documents
),
g AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         array_to_string(toks[u.i:u.i+{PASSAGE_N - 1}], ' ') AS gram
  FROM t, unnest(range(1, greatest(len(toks) - {PASSAGE_N - 2}, 1))) AS u(i)
),
hot AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram
  ) WHERE df > {MAX_DOC_FREQ}
),
gc AS (SELECT * FROM g ANTI JOIN hot USING (gram)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
         a.pos - b.pos AS diag
  FROM gc a JOIN gc b USING (gram) WHERE a.doc_id < b.doc_id
),
flag AS (
  SELECT doc_a, doc_b, diag, pa,
         CASE WHEN lag(pa) OVER w IS NULL OR pa - lag(pa) OVER w > 1
              THEN 1 ELSE 0 END AS nr
  FROM pairs WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
),
runs AS (
  SELECT doc_a, doc_b, diag, pa,
         sum(nr) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa
                       ROWS UNBOUNDED PRECEDING) AS rid
  FROM flag
),
rl AS (
  SELECT doc_a, doc_b, diag, rid,
         max(pa) - min(pa) + {PASSAGE_N} AS run_tokens
  FROM runs GROUP BY doc_a, doc_b, diag, rid
)
SELECT doc_a, doc_b,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(run_tokens) AS BIGINT) AS max_run_tokens,
       CAST(sum(run_tokens) AS BIGINT) AS dup_tokens
FROM rl WHERE run_tokens >= {PASSAGE_MIN_RUN}
GROUP BY doc_a, doc_b
""",
)
def duplicate_passages_pairs(spark, sf_dir):
    """Exact duplicated-passage pairs (Lee et al. substring dedup):
    doc pairs sharing a verbatim run of >= {15} tokens, with run
    count / longest run / total duplicated tokens. Suffix-array-free:
    df-capped positional 8-gram anchors, anchor equi-join, diagonal
    gaps-and-islands (operators/dedup.duplicate_passages). The oracle
    replays the same anchor->diagonal->island pipeline in DuckDB with
    1-based positions — diag and run lengths are shift-invariant, so
    the outputs match exactly."""
    return duplicate_passages(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        PASSAGE_N,
        max_doc_freq=MAX_DOC_FREQ,
        min_run_tokens=PASSAGE_MIN_RUN,
    )


@query(
    "cross_source_dup_matrix",
    oracle=f"""
WITH {_JACCARD_CTES},
src AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM jp
JOIN src sa ON sa.doc_id = jp.id_a
JOIN src sb ON sb.doc_id = jp.id_b
GROUP BY 1, 2
""",
)
def cross_source_dup_matrix(spark, sf_dir):
    """Which sources duplicate each other: near-dup pair counts
    rolled up to an unordered (source, source) matrix — the report a
    corpus owner reads to find mirror sites / wholesale copying
    before deciding crawl priorities. Reuses the exact df-capped
    Jaccard pair plan, then two joins against the tiny (doc_id,
    source) projection and a partial-agg rollup; pair->source joins
    move only the PAIR set (already near-dup-sparse), never text.
    least/greatest canonicalizes the unordered pair so A∶B and B∶A
    accumulate together."""
    docs = load(spark, sf_dir, "documents")
    idx = shingle_index(
        docs, "doc_id", "text", 3, max_doc_freq=MAX_DOC_FREQ
    ).persist()
    pairs = jaccard_pairs(idx, "doc_id", MIN_JACCARD)
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query("dedup_jaccard_prefix", oracle=_JACCARD_ORACLE)
def dedup_jaccard_prefix(spark, sf_dir):
    """PPJoin-style prefix-filtered EXACT Jaccard pairs — same oracle
    (and bit-identical output) as dedup_ngram_jaccard, different
    physical plan: candidates come from joining only each doc's
    rarest ``|d| - ceil(t|d|) + 1`` shingles in global (df, hash)
    order, so join-group sizes track the RARE end of the df curve
    instead of the hot end. The threshold rides as the rational 2/5
    through integer cross-multiplication (a float 0.4 drops exact-
    boundary pairs; see operators/dedup.jaccard_pairs_prefix and the
    boundary unit test). The ground-truth/optimized twin pair is the
    same verification structure the LSH entries use — here both
    sides are exact, so the oracle is shared verbatim.

    DEMOTED to reference-plan status (round 6, measured): the scale
    smoke ran both plans head-to-head on clone-replicated corpora to
    x8 (40k docs) with candidate counts (SCALE.md PPJoin section).
    PPJoin's candidate set is consistently ~2.4x smaller (18.7M vs
    45.8M at x8) but wall time DIVERGES instead of crossing: 4.95s vs
    2.23s at x1, 96.7s vs 6.9s at x8. On a near-dup-heavy corpus the
    rarest-prefix token of every clone is shared by its whole clone
    cluster, so prefix join groups grow with cluster size exactly
    like the capped plan's — no asymptotic candidate win — while the
    df+rank windows over the full index and the per-candidate min-ub
    aggregation pay an O(index log index) + O(candidates) constant
    the capped plan never pays (and the positional filter removed
    only ~0.1% of prefix candidates here). Round-9 x16 point: the
    gap narrows to 2.3x (14.0s vs 6.1s) only because clone-shingle
    dfs cross the cap and leave the index — not a PPJoin win
    (SCALE.md PPJoin x16 section).

    Completeness, precisely: the OPERATOR
    (operators/dedup.jaccard_pairs_prefix) drops no shingle of the
    index it is given — that recall guarantee is why it exists. THIS
    ENTRY feeds it the same df-capped index as dedup_ngram_jaccard,
    deliberately, so both physical plans compute identical capped
    semantics and share one oracle verbatim. A recall-contractual
    deployment passes max_doc_freq=None to shingle_index and accepts
    the hot-end join cost the cap exists to avoid."""
    idx = shingle_index(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        3,
        max_doc_freq=MAX_DOC_FREQ,
    ).persist()
    return jaccard_pairs_prefix(idx, "doc_id", 2, 5)


@query(
    "syndicated_families",
    oracle=f"""
WITH comp AS ({_CLUSTERS_ORACLE}),
fam AS (
  SELECT c.cluster_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
  GROUP BY 1
)
SELECT cluster_id, n_docs, n_sources,
       CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END AS is_syndicated
FROM fam
""",
)
def syndicated_families(spark, sf_dir):
    """Syndication detector: near-dup content FAMILIES (connected
    components over the exact-Jaccard pair graph) annotated with how
    many sources each family spans — cross-source families are the
    mirror/wire-copy signal a crawl prioritizer consumes; same-
    source families are re-crawls. Reuses the dedup_clusters plan
    (df-capped pairs -> min-label CC), then one join against the
    tiny (doc_id, source) projection and a per-family rollup. The
    oracle nests the full recursive-CTE clusters oracle as a
    subquery and joins sources independently."""
    from advisorydatapipeline_spark.operators.graph import (
        connected_components,
    )

    docs = load(spark, sf_dir, "documents")
    idx = shingle_index(
        docs, "doc_id", "text", 3, max_doc_freq=MAX_DOC_FREQ
    ).persist()
    pairs = jaccard_pairs(idx, "doc_id", MIN_JACCARD)
    cc = connected_components(pairs, "id_a", "id_b")
    src = docs.select("doc_id", "source")
    return (
        cc.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )
        .join(src, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .select(
            "cluster_id",
            "n_docs",
            "n_sources",
            F.when(F.col("n_sources") >= 2, F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_syndicated"),
        )
    )


@query(
    "ngram_novelty",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({DUCK_TOKENS.format(x='text')}))
           AS tok
  FROM documents
),
first_seen AS (
  SELECT tok, min(doc_id) AS first_doc FROM sh GROUP BY tok
)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(count(*) FILTER (WHERE f.first_doc = sh.doc_id) AS BIGINT)
         AS n_novel,
       CAST(count(*) FILTER (WHERE f.first_doc = sh.doc_id) * 1000000
            // count(*) AS BIGINT) AS novelty_ppm
FROM sh JOIN first_seen f ON sh.tok = f.tok
GROUP BY sh.doc_id
""",
)
def ngram_novelty(spark, sf_dir):
    """Corpus-order novelty score: per doc, the ppm fraction of its
    distinct terms whose FIRST corpus occurrence (by doc_id order)
    is this doc — the diversity/memorization signal curation uses to
    spot boilerplate-heavy tails (novelty collapses as a corpus
    saturates). Plan: one term shuffle builds the first-seen table
    (a min-agg, map-side combinable), joined back to the per-doc
    term lists on the same key — the exchange is reused, and the
    doc-side rollup is partial-agg. Term-level, not positional:
    |vocab| rows of state however big the corpus."""
    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    first_seen = sh.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(first_seen, "tok")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            novel.cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_terms",
            "n_novel",
            F.expr("n_novel * 1000000 DIV n_terms").alias("novelty_ppm"),
        )
    )


_SCURVE_CONFIGS = "(4, 4), (8, 2), (2, 8), (16, 1)"  # (bands, rows)


@query(
    "lsh_s_curve",
    oracle=f"""
WITH grid AS (
  SELECT CAST(u.i AS BIGINT) AS step,
         u.i / 20.0 AS s
  FROM unnest(range(1, 20)) AS u(i)
),
cfg AS (
  SELECT * FROM (VALUES {_SCURVE_CONFIGS}) AS t(bands, rows_per_band)
)
SELECT g.step, CAST(c.bands AS BIGINT) AS bands,
       CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
       1.0 - power(1.0 - power(g.s, c.rows_per_band), c.bands)
         AS p_candidate
FROM grid g CROSS JOIN cfg c
""",
)
def lsh_s_curve(spark, sf_dir):
    """LSH tuning table: the s-curve P(candidate | similarity s) =
    1 - (1 - s^r)^b for each (bands, rows) split of a 16-perm
    signature, over a 19-step similarity grid — the planning query
    you run BEFORE a MinHash job to pick banding (lsh_recall_eval
    then validates the pick empirically). Pure per-row float math
    with an identical expression tree on both engines (IEEE
    division/power are deterministic per-row; nothing aggregates),
    so even the doubles hash-gate cleanly. No table inputs: the grid
    is generated in-plan."""
    spark_grid = spark.range(1, 20).select(
        F.col("id").alias("step"), (F.col("id") / 20.0).alias("s")
    )
    cfg = spark.createDataFrame(
        [(4, 4), (8, 2), (2, 8), (16, 1)],
        "bands long, rows_per_band long",
    )
    return spark_grid.crossJoin(F.broadcast(cfg)).select(
        "step",
        "bands",
        "rows_per_band",
        (
            F.lit(1.0)
            - F.pow(
                F.lit(1.0) - F.pow(F.col("s"), F.col("rows_per_band")),
                F.col("bands"),
            )
        ).alias("p_candidate"),
    )


EVIDENCE_K = 3


@query(
    "dedup_pair_evidence",
    oracle=f"""
WITH {_JACCARD_CTES},
shared_sh AS (
  SELECT jp.id_a, jp.id_b, a.sh64
  FROM jp
  JOIN shh a ON a.doc_id = jp.id_a
  JOIN shh b ON b.doc_id = jp.id_b AND b.sh64 = a.sh64
),
ranked AS (
  SELECT id_a, id_b, sh64,
         row_number() OVER (PARTITION BY id_a, id_b ORDER BY sh64)
           AS rk
  FROM shared_sh
)
SELECT id_a, id_b,
       string_agg(CAST(sh64 AS VARCHAR), ',' ORDER BY sh64)
         AS evidence_hashes
FROM ranked WHERE rk <= {EVIDENCE_K}
GROUP BY id_a, id_b
""",
)
def dedup_pair_evidence(spark, sf_dir):
    """Near-dup pair EVIDENCE: for every confirmed Jaccard pair, the
    {3} smallest shared shingle hashes rendered as a stable string —
    the forensics a reviewer pulls to see WHY two docs were called
    duplicates (auditability is what lets a 100 TB dedup decision be
    contested). Candidates join back to the shingle index on both
    sides of the pair; the per-pair top-k rides one window over the
    shared-shingle rows, bounded by the pair's own shingle overlap."""
    from advisorydatapipeline_spark.functions.text import hash64
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    idx = shingle_index(
        docs, "doc_id", "text", 3, max_doc_freq=MAX_DOC_FREQ
    ).persist()
    pairs = jaccard_pairs(idx, "doc_id", MIN_JACCARD).select(
        "id_a", "id_b"
    )
    hashed = idx.select(
        F.col("doc_id"), hash64(F.col("shingle")).alias("sh64")
    )
    a = hashed.select(F.col("doc_id").alias("id_a"), "sh64")
    b = hashed.select(F.col("doc_id").alias("id_b"), "sh64")
    shared = pairs.join(a, "id_a").join(b, ["id_b", "sh64"])
    w = Window.partitionBy("id_a", "id_b").orderBy("sh64")
    topk = shared.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= EVIDENCE_K
    )
    return topk.groupBy("id_a", "id_b").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("sh64")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("evidence_hashes")
    )


# --- suffix-array substring duplication (r13) ------------------------


def _suffix_oracle():
    from advisorydatapipeline_spark.operators.suffix import (
        duck_suffix_oracle,
    )

    return duck_suffix_oracle()


@query("suffix_dup_depths", oracle=_suffix_oracle())
def suffix_dup_depths(spark, sf_dir):
    """Exact duplicated-substring counts per document at window
    depths 8/16/32, via DISTRIBUTED PREFIX-DOUBLING SUFFIX RANKS
    (operators/suffix.py) — the suffix-array primitive behind exact
    substring dedup of training corpora (Lee et al. 2022). Six
    logarithmic rounds of shifted-position equi-join + order-
    preserving re-rank give depth-2^k prefix ranks; dup_L counts the
    full-length positions whose depth-L rank group has >= 2 sites
    corpus-wide. Only (doc_id, pos, rank) triples ever shuffle —
    text leaves the scan once, as single characters.

    The oracle deliberately runs the OTHER algorithm (brute window
    substring enumeration + group count), so the two sides share no
    structure: a defect in the doubling recursion, the sentinel
    discipline, or the range-partitioned rank helper cannot cancel.

    Scale (100 TB): rounds are log(depth), each shuffling O(chars)
    fixed-width rows; the rank helper is range-partition +
    partition-LOCAL windows (no global window, no collect). The
    brute plan ships L bytes per position per depth and cannot
    answer lexicographic-neighbor (LCP/BWT) queries the rank tables
    open up."""
    from advisorydatapipeline_spark.operators.suffix import (
        suffix_dup_depth_counts,
    )

    return suffix_dup_depth_counts(load(spark, sf_dir, "documents"))


def _span_oracle():
    from advisorydatapipeline_spark.operators.suffix import (
        duck_span_oracle,
    )

    return duck_span_oracle()


@query("duplicate_spans_exact", oracle=_span_oracle())
def duplicate_spans_exact(spark, sf_dir):
    """Exact MAXIMAL duplicated spans per document (Lee et al. 2022's
    actual dedup unit — completes the suffix family started by
    suffix_dup_depths, r13 verdict item 2): neighbor LCP between
    rank-adjacent suffixes via ONE lead() over the suffix-array order
    (seed ranks from the shared order_preserving_ids helper; suffixes
    sharing a seed rank form a contiguous prefix interval of the SA,
    so a seed-partitioned window IS the global rank order for every
    pair with LCP >= 8), then gaps-and-islands merging of the flagged
    16-char windows into maximal spans. Per doc: duplicated position
    count, span count, duplicated characters, longest span, and the
    longest duplicated substring length capped at 32 (max neighbor
    LCP).

    The oracle brute-enumerates literal full windows at every depth
    8..32 with corpus-wide group counts and merges islands in SQL —
    no ranks, no doubling, no LCP — so a defect in the interval
    trick, the block walk, or the sentinel clamp cannot cancel.

    Scale (100 TB): O(corpus chars) fixed-width shuffles; the
    rank-neighbor window is partitioned by seed rank (prefix
    intervals; hot 8-grams split by one extra doubling round in
    production, as operators/suffix.py documents); islands merge
    per-doc over the flagged subset only."""
    from advisorydatapipeline_spark.operators.suffix import (
        duplicate_span_stats,
    )

    return duplicate_span_stats(load(spark, sf_dir, "documents"))
