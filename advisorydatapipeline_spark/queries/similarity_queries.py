"""Similarity-search queries with DuckDB oracles (north-star ops).

Quantized-integer dot products (floor(x*1000)) make cosine exactly
reproducible across engines: every partial sum is an integer-valued
double below 2^53, so summation order cannot perturb the result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from advisorydatapipeline_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
)
from advisorydatapipeline_spark.queries.helpers import load
from advisorydatapipeline_spark.registry import query

K = 5
QUERY_MOD = 50  # queries = vectors with vec_id % 50 == 0
N_CENTROIDS = 8
NPROBE = 2

_DUCK_Q = (
    "list_transform(embedding,"
    " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
)
_DUCK_QD = f"CAST({_DUCK_Q} AS DOUBLE[])"


_BRUTE_ORACLE = f"""
WITH c AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, {_DUCK_QD} AS v FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(c.v, q.v)
           / sqrt(list_dot_product(c.v, c.v) * list_dot_product(q.v, q.v))
           AS cosine
  FROM c, q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rn
  FROM scored
) WHERE rn <= {K}
"""


@query("ann_cosine_topk", oracle=_BRUTE_ORACLE)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k: the ANN baseline. Queries
    broadcast, corpus scans once without shuffling."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, K)


_IVF_ORACLE = f"""
WITH c AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, {_DUCK_QD} AS v FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assign_scored AS (
  SELECT c.vec_id, cent.centroid_id,
         list_dot_product(c.v, c.v) + list_dot_product(cent.v, cent.v)
           - 2 * list_dot_product(c.v, cent.v) AS dist_sq
  FROM c, cent
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist_sq ASC, centroid_id ASC
    ) AS rn FROM assign_scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, {_DUCK_QD} AS v FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0
),
probe_scored AS (
  SELECT q.query_id, cent.centroid_id,
         list_dot_product(q.v, q.v) + list_dot_product(cent.v, cent.v)
           - 2 * list_dot_product(q.v, cent.v) AS dist_sq
  FROM q, cent
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY dist_sq ASC, centroid_id ASC
    ) AS rn FROM probe_scored
  ) WHERE rn <= {NPROBE}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(c.v, q.v)
           / sqrt(list_dot_product(c.v, c.v) * list_dot_product(q.v, q.v))
           AS cosine
  FROM q
  JOIN probes p ON p.query_id = q.query_id
  JOIN assigned a ON a.centroid_id = p.centroid_id
  JOIN c ON c.vec_id = a.vec_id
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rn FROM scored
) WHERE rn <= {K}
"""


@query("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: assign corpus to nearest of 8
    deterministic centroids, probe the 2 nearest clusters per query.
    At scale the assignment is written partitionBy(centroid_id) so the
    probe prunes partitions (see operators/similarity.py)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_topk(emb, queries, centroids, K, NPROBE)


MIN_COSINE = 0.35

_NEAR_DUP_ORACLE = f"""
WITH c AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, {_DUCK_QD} AS v FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assign_scored AS (
  SELECT c.vec_id, cent.centroid_id,
         list_dot_product(c.v, c.v) + list_dot_product(cent.v, cent.v)
           - 2 * list_dot_product(c.v, cent.v) AS dist_sq
  FROM c, cent
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist_sq ASC, centroid_id ASC
    ) AS rn FROM assign_scored
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(ca.v, cb.v)
           / sqrt(list_dot_product(ca.v, ca.v) * list_dot_product(cb.v, cb.v))
           AS cosine
  FROM assigned a
  JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  JOIN c ca ON ca.vec_id = a.vec_id
  JOIN c cb ON cb.vec_id = b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {MIN_COSINE}
"""


@query("dedup_embedding_cosine", oracle=_NEAR_DUP_ORACLE)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, cluster-then-pair scale path:
    nearest-centroid bucketing turns the O(n^2) cross join into an
    equi-join on centroid_id; exact quantized cosine filters the
    bucket-local pairs."""
    from advisorydatapipeline_spark.operators.similarity import (
        embedding_near_dupes_pandas,
    )

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # numpy-matmul bucket scorer: ~2.7x the interpreted-HOF expression
    # version at sf0.1, bit-identical results (operators/similarity)
    return embedding_near_dupes_pandas(emb, centroids, MIN_COSINE)


@query(
    "embedding_centroids",
    oracle=f"""
WITH c AS (
  SELECT label, {_DUCK_QD} AS v FROM embeddings
)
SELECT label, CAST(t.i - 1 AS INT) AS pos,
       sum(v[t.i]) / count(*) AS centroid,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM c, unnest(generate_series(1, len(v))) AS t(i)
GROUP BY label, pos
""",
)
def embedding_centroids(spark, sf_dir):
    """Per-label embedding centroid (the class prototype / IVF seed
    update step), long format (label, dimension, value). Quantized-
    integer sums keep the mean bit-identical across engines and
    summation orders; posexplode + one partial-agg shuffle of
    (label, pos) pairs — vectors themselves never shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.transform("embedding", lambda x: F.floor(x * 1000).cast("double"))
    per_dim = emb.select("label", F.posexplode(q).alias("pos", "v"))
    return per_dim.groupBy("label", F.col("pos").cast("int").alias("pos")).agg(
        (F.sum("v") / F.count("*")).alias("centroid"),
        F.count("*").cast("long").alias("n_vecs"),
    )


_TRIPLET_ORACLE = f"""
WITH c AS (
  SELECT vec_id, label, {_DUCK_QD} AS v FROM embeddings
),
a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, {_DUCK_QD} AS v
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT a.anchor_id,
         c.vec_id AS neighbor_id,
         CAST(c.label = a.anchor_label AS BOOLEAN) AS same_label,
         list_dot_product(c.v, a.v)
           / sqrt(list_dot_product(c.v, c.v) * list_dot_product(a.v, a.v))
           AS cosine
  FROM c, a
  WHERE c.vec_id <> a.anchor_id
),
best AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY anchor_id, same_label
      ORDER BY cosine DESC, neighbor_id ASC
    ) AS rn FROM scored
  ) WHERE rn = 1
)
SELECT anchor_id,
       MAX(CASE WHEN same_label THEN neighbor_id END) AS positive_id,
       MAX(CASE WHEN NOT same_label THEN neighbor_id END) AS negative_id,
       MAX(CASE WHEN same_label THEN cosine END) AS pos_cosine,
       MAX(CASE WHEN NOT same_label THEN cosine END) AS neg_cosine
FROM best
GROUP BY anchor_id
HAVING MAX(CASE WHEN same_label THEN neighbor_id END) IS NOT NULL
   AND MAX(CASE WHEN NOT same_label THEN neighbor_id END) IS NOT NULL
"""


@query("contrastive_triplets", oracle=_TRIPLET_ORACLE)
def contrastive_triplets(spark, sf_dir):
    """Hard-triplet mining for contrastive / metric-learning training
    data: per anchor, the positive is the nearest SAME-label vector
    and the negative is the nearest DIFFERENT-label vector (the "hard
    negative" — highest-cosine impostor). One corpus scan scored
    against broadcast anchors, a single window shuffle keyed by
    (anchor, same_label) picks both winners, and a tiny per-anchor
    aggregate pivots them onto one row. Exact quantized-integer
    cosine (see module docstring) keeps ranks engine-identical. At
    100 TB the same plan runs per IVF probe list instead of the full
    corpus (candidate generation via ivf_probe_lists), but exact
    mining stays the correctness oracle."""
    from pyspark.sql import Window

    from advisorydatapipeline_spark.operators.similarity import (
        cosine_q,
        dot_q,
        norm_sq_q,
        quantize,
    )

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id",
        "label",
        quantize("embedding").alias("cq"),
        norm_sq_q(quantize("embedding")).alias("cn"),
    )
    anchors = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        quantize("embedding").alias("aq"),
        norm_sq_q(quantize("embedding")).alias("an"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.col("label") == F.col("anchor_label")).alias("same_label"),
            cosine_q(
                dot_q(F.col("cq"), F.col("aq")), F.col("cn"), F.col("an")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id", "same_label").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    pos = F.when(F.col("same_label"), F.col("neighbor_id"))
    neg = F.when(~F.col("same_label"), F.col("neighbor_id"))
    return (
        best.groupBy("anchor_id")
        .agg(
            F.max(pos).alias("positive_id"),
            F.max(neg).alias("negative_id"),
            F.max(F.when(F.col("same_label"), F.col("cosine"))).alias(
                "pos_cosine"
            ),
            F.max(F.when(~F.col("same_label"), F.col("cosine"))).alias(
                "neg_cosine"
            ),
        )
        .filter(
            F.col("positive_id").isNotNull()
            & F.col("negative_id").isNotNull()
        )
    )


_LLOYD_ORACLE = f"""
WITH c AS (
  SELECT vec_id, {_DUCK_QD} AS v, embedding FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, {_DUCK_QD} AS v FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assign_scored AS (
  SELECT c.vec_id, cent.centroid_id,
         list_dot_product(c.v, c.v) + list_dot_product(cent.v, cent.v)
           - 2 * list_dot_product(c.v, cent.v) AS dist_sq
  FROM c, cent
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist_sq ASC, centroid_id ASC
    ) AS rn FROM assign_scored
  ) WHERE rn = 1
),
qv AS (
  SELECT a.centroid_id,
         list_transform(c.embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM assigned a JOIN c ON c.vec_id = a.vec_id
)
SELECT centroid_id, CAST(u.i - 1 AS INT) AS pos,
       CAST(sum(q[u.i]) AS BIGINT) AS qsum,
       CAST(count(*) AS BIGINT) AS n_members,
       sum(q[u.i]) / count(*) AS centroid_q
FROM qv, unnest(generate_series(1, len(q))) AS u(i)
GROUP BY 1, 2
"""


@query("kmeans_lloyd_step", oracle=_LLOYD_ORACLE)
def kmeans_lloyd_step(spark, sf_dir):
    """One Lloyd iteration of k-means as a pure DataFrame plan:
    broadcast-centroid nearest assignment (exact quantized L2,
    deterministic tiebreak — the same assignment the IVF index uses)
    followed by the per-(centroid, dimension) mean in long format.
    Quantized integer sums make the updated centroids bit-identical
    across engines and partitionings, so the iterative training loop
    is replayable — the driver never touches vector data, and each
    iteration is one narrow posexplode + one partial-agg shuffle of
    (centroid, pos) pairs."""
    from advisorydatapipeline_spark.operators.similarity import (
        ivf_assign,
        quantize,
    )

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = ivf_assign(emb, centroids)
    # the SAME quantization the assignment used — a drifted inline
    # copy would silently diverge from ivf_assign and the oracle
    q = quantize("embedding")
    per_dim = assigned.select(
        "centroid_id", F.posexplode(q).alias("pos", "qv")
    )
    return per_dim.groupBy(
        "centroid_id", F.col("pos").cast("int").alias("pos")
    ).agg(
        F.sum("qv").cast("long").alias("qsum"),
        F.count("*").cast("long").alias("n_members"),
        (F.sum("qv") / F.count("*")).alias("centroid_q"),
    )


# --- random-hyperplane LSH (no centroids, no training) -----------------------

RHP_PLANES, RHP_BAND_BITS, RHP_MIN_COSINE = 16, 4, 0.35


def _rhp_oracle() -> str:
    """Render the SAME ±1 hyperplane matrix the Spark operator uses as
    literal VALUES rows, then replay signature -> band join -> exact
    cosine verify in SQL."""
    from advisorydatapipeline_spark.operators.similarity import rhp_weights

    w = rhp_weights(RHP_PLANES, 64)
    rows = ",\n  ".join(
        f"({j}, CAST([{', '.join(str(float(v)) for v in vec)}] AS DOUBLE[]))"
        for j, vec in enumerate(w)
    )
    nb = RHP_BAND_BITS
    return f"""
WITH c AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
w(j, wv) AS (VALUES
  {rows}
),
dots AS (
  SELECT c.vec_id, w.j, list_dot_product(c.v, w.wv) AS d FROM c, w
),
sigs AS (
  SELECT vec_id, CAST(j // {nb} AS INT) AS band,
         CAST(sum(CASE WHEN d >= 0
                  THEN (CAST(1 AS BIGINT) << ({nb - 1} - (j % {nb})))
                  ELSE 0 END) AS BIGINT) AS band_key
  FROM dots GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a
  JOIN sigs b ON a.band = b.band AND a.band_key = b.band_key
             AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT id_a, id_b,
         list_dot_product(ca.v, cb.v)
           / sqrt(list_dot_product(ca.v, ca.v) * list_dot_product(cb.v, cb.v))
           AS cosine
  FROM cand
  JOIN c ca ON ca.vec_id = cand.id_a
  JOIN c cb ON cb.vec_id = cand.id_b
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {RHP_MIN_COSINE}
"""


@query("dedup_embedding_rhp", oracle=_rhp_oracle())
def dedup_embedding_rhp(spark, sf_dir):
    """Embedding near-dup pairs via random-hyperplane (SimHash) LSH —
    the centroid-free scale path beside dedup_embedding_cosine's IVF
    buckets: 16 ±1 hyperplanes -> 4 bands x 4 bits -> banded equi-join
    candidates -> exact quantized-cosine verify. No training/fit step,
    recall tuned by (n_planes, band_bits); candidates dedupe before
    the verify join so each pair scores once."""
    from advisorydatapipeline_spark.operators.similarity import (
        rhp_near_dupes,
        rhp_weights,
    )

    emb = load(spark, sf_dir, "embeddings")
    return rhp_near_dupes(
        emb,
        rhp_weights(RHP_PLANES, 64),
        RHP_MIN_COSINE,
        band_bits=RHP_BAND_BITS,
    )


def _rhp_eval_oracle() -> str:
    """RHP banding quality vs exact brute-force ground truth, exact
    integer ppm — shares the signature/candidate CTEs with
    _rhp_oracle."""
    base = _rhp_oracle()
    # reuse everything up to (and including) the cand CTE
    head = base[: base.index("pairs AS (")]
    return (
        head
        + f"""ver AS (
  SELECT cand.id_a FROM cand
  JOIN c ca ON ca.vec_id = cand.id_a
  JOIN c cb ON cb.vec_id = cand.id_b
  WHERE list_dot_product(ca.v, cb.v)
          / sqrt(list_dot_product(ca.v, ca.v)
                 * list_dot_product(cb.v, cb.v)) >= {RHP_MIN_COSINE}
),
truth AS (
  SELECT a.vec_id FROM c a JOIN c b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / sqrt(list_dot_product(a.v, a.v)
                 * list_dot_product(b.v, b.v)) >= {RHP_MIN_COSINE}
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_verified,
       CAST((SELECT count(*) FROM ver) * 1000000
            // GREATEST((SELECT count(*) FROM truth), 1) AS BIGINT)
         AS recall_ppm,
       CAST((SELECT count(*) FROM ver) * 1000000
            // GREATEST((SELECT count(*) FROM cand), 1) AS BIGINT)
         AS cand_precision_ppm
"""
    )


@query("rhp_recall_eval", oracle=_rhp_eval_oracle())
def rhp_recall_eval(spark, sf_dir):
    """Measure, don't guess (the lsh_recall_eval twin for embeddings):
    RHP banding quality against exact brute-force cosine ground truth
    — recall and candidate precision in exact integer ppm. The tuning
    dial for (n_planes, band_bits): more bits per band = fewer, purer
    candidates but lower recall (P[band match] = (1 - theta/pi)^bits).
    The brute truth side is O(n^2) BY DESIGN — run on a sample, never
    the full corpus; the production path stays candidates-only."""
    from advisorydatapipeline_spark.operators.similarity import (
        allpairs_cosine_blocked,
        rhp_candidate_pairs,
        rhp_verify_pairs,
        rhp_weights,
    )

    emb = load(spark, sf_dir, "embeddings")
    # the SAME candidate + verify stages the production operator runs
    # (rhp_near_dupes == verify(candidates)), so the gauge measures
    # exactly the path it claims to
    cand = rhp_candidate_pairs(
        emb, rhp_weights(RHP_PLANES, 64), band_bits=RHP_BAND_BITS
    ).persist()
    verified = rhp_verify_pairs(emb, cand, RHP_MIN_COSINE)
    # blocked matmul, NOT a crossJoin: the naive form ships n^2 pair
    # rows (two vectors each) through Arrow — 12.8 GB at 5k vectors;
    # the blocked form ships n * n_blocks vector rows (~40 MB) and
    # does one dense matmul per block pair (11.9s -> ~1s at sf0.1)
    truth = allpairs_cosine_blocked(emb, RHP_MIN_COSINE)
    one = (
        truth.agg(F.count("*").cast("long").alias("n_true"))
        .crossJoin(
            F.broadcast(
                cand.agg(F.count("*").cast("long").alias("n_candidates"))
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


def _ivf_eval_oracle() -> str:
    """IVF probe quality vs exact top-k: replay both the brute and IVF
    rankings (the same CTE bodies as their standalone oracles) and
    count exact neighbor-set hits."""
    brute = _BRUTE_ORACLE.strip()
    ivf = _IVF_ORACLE.strip()
    return f"""
WITH truth AS (
  {brute}
),
approx AS (
  {ivf}
),
hits AS (
  SELECT t.query_id FROM truth t
  JOIN approx a
    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM approx) AS n_approx,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       CAST((SELECT count(*) FROM hits) * 1000000
            // GREATEST((SELECT count(*) FROM truth), 1) AS BIGINT)
         AS recall_ppm
"""


@query("ivf_recall_eval", oracle=_ivf_eval_oracle())
def ivf_recall_eval(spark, sf_dir):
    """Measure, don't guess — the ANN leg of the recall-gauge trio
    (lsh_recall_eval for MinHash, rhp_recall_eval for RHP): exact
    top-k overlap between the IVF probe path and brute-force ground
    truth, in integer ppm. The tuning dial for (n_centroids, nprobe);
    the brute side is the labeled O(corpus x queries) ceiling — run on
    a query sample at scale, never the full query log."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # r15 NOTE: persisting truth/approx here was A/B-measured and
    # REJECTED (1.86 -> 3.19 s same box): the duplicate subtrees
    # already share their shuffles via ReuseExchange inside the one
    # materializing action, so the cache only added materialization.
    truth = cosine_topk(emb, queries, K).select("query_id", "neighbor_id")
    approx = ivf_topk(emb, queries, centroids, K, NPROBE).select(
        "query_id", "neighbor_id"
    )
    hits = truth.join(approx, ["query_id", "neighbor_id"])
    one = (
        truth.agg(F.count("*").cast("long").alias("n_true"))
        .crossJoin(
            F.broadcast(
                approx.agg(F.count("*").cast("long").alias("n_approx"))
            )
        )
        .crossJoin(
            F.broadcast(hits.agg(F.count("*").cast("long").alias("n_hits")))
        )
    )
    return one.select(
        "n_true",
        "n_approx",
        "n_hits",
        F.expr("n_hits * 1000000L DIV GREATEST(n_true, 1L)").alias(
            "recall_ppm"
        ),
    )


GRID_SIZE, GRID_CELL = 1024, 16  # coord space, cell width = Chebyshev radius

_DH = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


@query(
    "grid_proximity_join",
    oracle=f"""
WITH c AS (
  SELECT c_custkey,
         {_DH.format(x="'gx' || CAST(c_custkey AS VARCHAR)")} % {GRID_SIZE}
           AS cx,
         {_DH.format(x="'gy' || CAST(c_custkey AS VARCHAR)")} % {GRID_SIZE}
           AS cy
  FROM customer
),
s AS (
  SELECT s_suppkey,
         {_DH.format(x="'gx' || CAST(s_suppkey AS VARCHAR)")} % {GRID_SIZE}
           AS sx,
         {_DH.format(x="'gy' || CAST(s_suppkey AS VARCHAR)")} % {GRID_SIZE}
           AS sy
  FROM supplier
)
SELECT c_custkey, s_suppkey,
       CAST(greatest(abs(cx - sx), abs(cy - sy)) AS BIGINT) AS cheb
FROM c, s
WHERE abs(cx - sx) <= {GRID_CELL} AND abs(cy - sy) <= {GRID_CELL}
""",
)
def grid_proximity_join(spark, sf_dir):
    """2-D grid spatial join: all (customer, supplier) pairs within
    Chebyshev distance {16} on a deterministic {1024}^2 coordinate
    grid (portable-hash pseudo-coordinates — the geometry is
    synthetic, the JOIN PLAN is the real thing). The 2-D analogue of
    range_join_binned/interval_cover_join: one side keys on its
    cell, the other replicates to its 3x3 cell neighborhood, the
    equi-join on (cell_x, cell_y) meets every qualifying pair, and
    the exact distance predicate prunes corner cells. Replication is
    a constant 9x of the SMALLER side; the oracle is the plain
    quadratic inequality join the grid plan avoids — at 100 TB the
    nested loop is impossible and the grid join's shuffle is
    9|S| + |C| rows on compact integer keys."""
    from advisorydatapipeline_spark.functions.text import hash64

    def coords(df, key, xa, ya):
        k = F.col(key).cast("string")
        return df.select(
            key,
            (hash64(F.concat(F.lit("gx"), k)) % GRID_SIZE).alias(xa),
            (hash64(F.concat(F.lit("gy"), k)) % GRID_SIZE).alias(ya),
        )

    c = coords(load(spark, sf_dir, "customer"), "c_custkey", "cx", "cy")
    s = coords(load(spark, sf_dir, "supplier"), "s_suppkey", "sx", "sy")
    c = c.withColumn("_gx", F.expr(f"cx DIV {GRID_CELL}")).withColumn(
        "_gy", F.expr(f"cy DIV {GRID_CELL}")
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    s = (
        s.withColumn("_dx", off)
        .withColumn("_dy", off)
        .withColumn("_gx", F.expr(f"sx DIV {GRID_CELL}") + F.col("_dx"))
        .withColumn("_gy", F.expr(f"sy DIV {GRID_CELL}") + F.col("_dy"))
        .drop("_dx", "_dy")
    )
    return (
        c.join(s, ["_gx", "_gy"])
        .filter(
            (F.abs(F.col("cx") - F.col("sx")) <= GRID_CELL)
            & (F.abs(F.col("cy") - F.col("sy")) <= GRID_CELL)
        )
        .select(
            "c_custkey",
            "s_suppkey",
            F.greatest(
                F.abs(F.col("cx") - F.col("sx")),
                F.abs(F.col("cy") - F.col("sy")),
            ).alias("cheb"),
        )
    )


@query(
    "centroid_separation",
    oracle="""
WITH q AS (
  SELECT label, CAST(u.i AS BIGINT) AS dim,
         CAST(floor(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) * 1000)
              AS BIGINT) AS qv
  FROM embeddings, unnest(range(1, 65)) AS u(i)
),
cent AS (
  SELECT label, dim,
         CAST(sum(qv) // count(*) AS BIGINT) AS c_milli
  FROM q GROUP BY 1, 2
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(sum((a.c_milli - b.c_milli) * (a.c_milli - b.c_milli))
            AS BIGINT) AS dist2_milli
FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
GROUP BY 1, 2
""",
)
def centroid_separation(spark, sf_dir):
    """Inter-class separation audit for the embedding space: squared
    L2 distance between every pair of label centroids, in exact
    milli-unit integers (per-dim sums of floor(x*1000) — the float
    multiply is per-row IEEE — then a truncating divide to the
    centroid, so no float ever aggregates). The posexplode +
    (label, dim) partial agg is the only vector-scale pass; the
    pairwise join runs on the |labels| x 64 centroid table. The
    drift-monitoring twin of embedding_centroids: collapsing
    separation across training batches is the signal that embeddings
    are degenerating."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "label",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.expr("CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)").alias(
            "qv"
        ),
    )
    cent = q.groupBy("label", "dim").agg(
        F.expr("sum(qv) DIV count(*)").alias("c_milli")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim",
        F.col("c_milli").alias("ca"),
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim",
        F.col("c_milli").alias("cb"),
    )
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
            ).alias("dist2_milli")
        )
    )


# --- product quantization (PQ / ADC) --------------------------------

PQ_M, PQ_D, PQ_NCODE = 8, 8, 16  # 64-dim -> 8 subspaces, 16 codewords


def _pq_adc_body() -> str:
    """CTE body shared by the standalone PQ oracle and the recall
    eval: encode the corpus against the deterministic codebook, build
    per-query distance tables, rank by summed table lookups."""
    return f"""
c AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
subm AS (
  SELECT c.vec_id, t.range AS m,
         c.v[(t.range * {PQ_D} + 1):((t.range + 1) * {PQ_D})] AS sub
  FROM c, range({PQ_M}) t
),
cb AS (
  SELECT m, vec_id AS k, sub FROM subm WHERE vec_id < {PQ_NCODE}
),
assign AS (
  SELECT s.vec_id, s.m, cb.k,
         list_dot_product(s.sub, s.sub) + list_dot_product(cb.sub, cb.sub)
           - 2 * list_dot_product(s.sub, cb.sub) AS d
  FROM subm s JOIN cb ON cb.m = s.m
),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY d ASC, k ASC
    ) AS rn FROM assign
  ) WHERE rn = 1
),
qsub AS (
  SELECT vec_id AS query_id, m, sub FROM subm
  WHERE vec_id % {QUERY_MOD} = 0
),
dtab AS (
  SELECT qs.query_id, qs.m, cb.k,
         list_dot_product(qs.sub, qs.sub)
           + list_dot_product(cb.sub, cb.sub)
           - 2 * list_dot_product(qs.sub, cb.sub) AS d
  FROM qsub qs JOIN cb ON cb.m = qs.m
),
adc AS (
  SELECT dt.query_id, ct.vec_id AS neighbor_id,
         CAST(SUM(dt.d) AS BIGINT) AS adc_dist
  FROM codes ct
  JOIN dtab dt ON dt.m = ct.m AND dt.k = ct.code
  WHERE ct.vec_id <> dt.query_id
  GROUP BY 1, 2
),
pq_ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
         ) AS INT) AS rn
  FROM adc
)"""


_PQ_ORACLE = f"""
WITH {_pq_adc_body()}
SELECT query_id, neighbor_id, adc_dist, rn
FROM pq_ranked WHERE rn <= {K}
"""


@query("pq_adc_topk", oracle=_PQ_ORACLE)
def pq_adc_topk_query(spark, sf_dir):
    """Product-quantization ANN: vectors collapse to {PQ_M} codebook
    indices (the RAM-resident compressed index — at 100 TB the
    embeddings themselves never rejoin the search), queries rank
    candidates by summed distance-table lookups (ADC, Jegou et al.
    2011). Encode is zero-shuffle HOF math over a broadcast codebook;
    the only shuffle is the per-query top-k."""
    from advisorydatapipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, n_sub=PQ_M, sub_dim=PQ_D, n_code=PQ_NCODE)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(
        emb, queries, cb, K, n_sub=PQ_M, sub_dim=PQ_D
    )


PQ_SHORTLIST = 8  # rerank shortlist = PQ_SHORTLIST * K candidates

_PQ_EVAL_ORACLE = f"""
WITH {_pq_adc_body()},
q AS (
  SELECT vec_id AS query_id, {_DUCK_QD} AS v FROM embeddings
  WHERE vec_id % {QUERY_MOD} = 0
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(c.v, c.v)
                        + list_dot_product(q.v, q.v)
                        - 2 * list_dot_product(c.v, q.v) ASC,
                      c.vec_id ASC
           ) AS rn
    FROM c, q WHERE c.vec_id <> q.query_id
  ) WHERE rn <= {K}
),
approx AS (
  SELECT query_id, neighbor_id FROM pq_ranked WHERE rn <= {K}
),
rerank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
           row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY list_dot_product(c.v, c.v)
                        + list_dot_product(q.v, q.v)
                        - 2 * list_dot_product(c.v, q.v) ASC,
                      s.neighbor_id ASC
           ) AS rn
    FROM (SELECT query_id, neighbor_id FROM pq_ranked
          WHERE rn <= {K * PQ_SHORTLIST}) s
    JOIN c ON c.vec_id = s.neighbor_id
    JOIN q ON q.query_id = s.query_id
  ) WHERE rn <= {K}
),
hits AS (
  SELECT t.query_id FROM truth t
  JOIN approx a
    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
),
rhits AS (
  SELECT t.query_id FROM truth t
  JOIN rerank r
    ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM approx) AS n_approx,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       CAST((SELECT count(*) FROM hits) * 1000000
            // GREATEST((SELECT count(*) FROM truth), 1) AS BIGINT)
         AS recall_ppm,
       (SELECT CAST(count(*) AS BIGINT) FROM rhits) AS n_rerank_hits,
       CAST((SELECT count(*) FROM rhits) * 1000000
            // GREATEST((SELECT count(*) FROM truth), 1) AS BIGINT)
         AS rerank_recall_ppm
"""


@query("pq_recall_eval", oracle=_PQ_EVAL_ORACLE)
def pq_recall_eval(spark, sf_dir):
    """PQ's recall gauges against exact squared-L2 ground truth — the
    fourth leg of the recall trio (lsh/rhp/ivf). Two numbers: pure
    ADC recall (what the compressed index alone ranks — the dial for
    n_sub/n_code), and shortlist+rerank recall (ADC keeps
    PQ_SHORTLIST*k candidates, full vectors re-score ONLY those — the
    production retrieval stack, where the exact pass touches a
    vanishing fraction of the corpus). The brute truth leg is the
    labeled O(corpus x queries) ceiling, run on a query sample."""
    from advisorydatapipeline_spark.operators.similarity import (
        l2_sq_q,
        l2_topk,
        pq_adc_topk,
        pq_codebook,
        quantize,
    )
    from advisorydatapipeline_spark.operators.window_ops import (
        top_k_per_key,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, n_sub=PQ_M, sub_dim=PQ_D, n_code=PQ_NCODE)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # r15 NOTE: persisting truth/shortlist was A/B-measured and
    # REJECTED (5.16 -> 6.17 s same box) — ReuseExchange already
    # dedupes the repeated subtrees within the one action.
    truth = l2_topk(emb, queries, K).select("query_id", "neighbor_id")
    shortlist = pq_adc_topk(
        emb, queries, cb, K * PQ_SHORTLIST, n_sub=PQ_M, sub_dim=PQ_D
    ).select("query_id", "neighbor_id", "rn")
    approx = shortlist.filter(F.col("rn") <= K).drop("rn")
    rerank = top_k_per_key(
        shortlist.drop("rn")
        .join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                quantize("embedding").alias("cq"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    "query_id", quantize("embedding").alias("qq")
                )
            ),
            "query_id",
        )
        .withColumn("l2_sq", l2_sq_q(F.col("cq"), F.col("qq"))),
        ["query_id"],
        [F.col("l2_sq").asc(), F.col("neighbor_id").asc()],
        k=K,
    ).select("query_id", "neighbor_id")
    hits = truth.join(approx, ["query_id", "neighbor_id"])
    rhits = truth.join(rerank, ["query_id", "neighbor_id"])
    one = (
        truth.agg(F.count("*").cast("long").alias("n_true"))
        .crossJoin(
            F.broadcast(
                approx.agg(F.count("*").cast("long").alias("n_approx"))
            )
        )
        .crossJoin(
            F.broadcast(hits.agg(F.count("*").cast("long").alias("n_hits")))
        )
        .crossJoin(
            F.broadcast(
                rhits.agg(
                    F.count("*").cast("long").alias("n_rerank_hits")
                )
            )
        )
    )
    return one.select(
        "n_true",
        "n_approx",
        "n_hits",
        F.expr("n_hits * 1000000L DIV GREATEST(n_true, 1L)").alias(
            "recall_ppm"
        ),
        "n_rerank_hits",
        F.expr("n_rerank_hits * 1000000L DIV GREATEST(n_true, 1L)").alias(
            "rerank_recall_ppm"
        ),
    )


# --- IVF + PQ composed index (residual encoding) --------------------


def _ivfpq_oracle() -> str:
    sub = (
        "list_transform(generate_series(1, len({a})), "
        "i -> {a}[i] - {b}[i])"
    )
    return f"""
WITH c AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, {_DUCK_QD} AS v FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assign_scored AS (
  SELECT c.vec_id, cent.centroid_id,
         list_dot_product(c.v, c.v) + list_dot_product(cent.v, cent.v)
           - 2 * list_dot_product(c.v, cent.v) AS dist_sq
  FROM c, cent
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist_sq ASC, centroid_id ASC
    ) AS rn FROM assign_scored
  ) WHERE rn = 1
),
resid AS (
  SELECT a.vec_id, a.centroid_id,
         CAST({sub.format(a='c.v', b='cent.v')} AS DOUBLE[]) AS rq
  FROM assigned a
  JOIN c ON c.vec_id = a.vec_id
  JOIN cent ON cent.centroid_id = a.centroid_id
),
rsub AS (
  SELECT r.vec_id, r.centroid_id, t.range AS m,
         r.rq[(t.range * {PQ_D} + 1):((t.range + 1) * {PQ_D})] AS sub
  FROM resid r, range({PQ_M}) t
),
cb AS (
  SELECT m, vec_id AS k, sub FROM rsub WHERE vec_id < {PQ_NCODE}
),
code_scored AS (
  SELECT s.vec_id, s.centroid_id, s.m, cb.k,
         list_dot_product(s.sub, s.sub) + list_dot_product(cb.sub, cb.sub)
           - 2 * list_dot_product(s.sub, cb.sub) AS d
  FROM rsub s JOIN cb ON cb.m = s.m
),
codes AS (
  SELECT vec_id, centroid_id, m, k AS code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY d ASC, k ASC
    ) AS rn FROM code_scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, v FROM c WHERE vec_id % {QUERY_MOD} = 0
),
probe_scored AS (
  SELECT q.query_id, cent.centroid_id,
         list_dot_product(q.v, q.v) + list_dot_product(cent.v, cent.v)
           - 2 * list_dot_product(q.v, cent.v) AS dist_sq
  FROM q, cent
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY dist_sq ASC, centroid_id ASC
    ) AS rn FROM probe_scored
  ) WHERE rn <= {NPROBE}
),
qresid AS (
  SELECT p.query_id, p.centroid_id, t.range AS m,
         (CAST({sub.format(a='q.v', b='cent.v')} AS DOUBLE[])
         )[(t.range * {PQ_D} + 1):((t.range + 1) * {PQ_D})] AS sub
  FROM probes p
  JOIN q ON q.query_id = p.query_id
  JOIN cent ON cent.centroid_id = p.centroid_id,
       range({PQ_M}) t
),
dtab AS (
  SELECT qs.query_id, qs.centroid_id, qs.m, cb.k,
         list_dot_product(qs.sub, qs.sub)
           + list_dot_product(cb.sub, cb.sub)
           - 2 * list_dot_product(qs.sub, cb.sub) AS d
  FROM qresid qs JOIN cb ON cb.m = qs.m
),
adc AS (
  SELECT dt.query_id, ct.vec_id AS neighbor_id, ct.centroid_id,
         CAST(SUM(dt.d) AS BIGINT) AS adc_dist
  FROM codes ct
  JOIN dtab dt ON dt.centroid_id = ct.centroid_id
             AND dt.m = ct.m AND dt.k = ct.code
  WHERE ct.vec_id <> dt.query_id
  GROUP BY 1, 2, 3
)
SELECT query_id, neighbor_id, centroid_id, adc_dist, rn FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
  ) AS INT) AS rn FROM adc
) WHERE rn <= {K}
"""


@query("ivf_pq_topk", oracle=_ivfpq_oracle())
def ivf_pq_topk_query(spark, sf_dir):
    """IVF+PQ composed ANN (the FAISS IVFPQ layout): coarse inverted
    lists via centroid assignment, fine ranking by ADC over
    RESIDUAL-encoded PQ codes — codewords describe the within-cell
    distribution, not the cell location. Candidates come from an
    EQUI-join on the probed centroid id (the partition-pruned
    inverted-list read), never a cross join; per-(query, cell)
    distance tables broadcast. The index the search touches is bytes
    per vector."""
    from advisorydatapipeline_spark.operators.similarity import (
        ivf_pq_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_pq_topk(
        emb, queries, centroids, K,
        nprobe=NPROBE, n_sub=PQ_M, sub_dim=PQ_D, n_code=PQ_NCODE,
    )


# --- kNN label probe (embedding-quality eval) -----------------------


_KNN_ORACLE = f"""
WITH c AS (
  SELECT vec_id, label, {_DUCK_QD} AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, label AS true_label, {_DUCK_QD} AS v
  FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
),
topk AS (
  SELECT query_id, true_label, neighbor_label FROM (
    SELECT q.query_id, q.true_label, c.label AS neighbor_label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(c.v, q.v)
                      / sqrt(list_dot_product(c.v, c.v)
                             * list_dot_product(q.v, q.v)) DESC,
                      c.vec_id ASC
           ) AS rn
    FROM c, q WHERE c.vec_id <> q.query_id
  ) WHERE rn <= {K}
),
votes AS (
  SELECT query_id, true_label, neighbor_label,
         CAST(count(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY 1, 2, 3
),
pred AS (
  SELECT query_id, true_label, neighbor_label AS pred_label FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY n_votes DESC, neighbor_label ASC
    ) AS rn FROM votes
  ) WHERE rn = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS accuracy_ppm
FROM pred
"""


@query("knn_label_eval", oracle=_KNN_ORACLE)
def knn_label_eval(spark, sf_dir):
    """kNN label probe — the standard embedding-quality eval: predict
    each held-out vector's label by majority vote of its k nearest
    neighbors (cosine, exact); accuracy in integer ppm. A space whose
    neighbors don't share labels isn't ready for retrieval or
    clustering, whatever its loss curve said. Reuses the brute top-k
    plan (labeled ground-truth ceiling — at scale the probe runs on
    a query sample, or swap in ivf_pq_topk for the approximate
    probe); majority vote is one partial-agg + top-1 window,
    alphabetical-label tiebreak."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        "embedding",
    )
    topk = cosine_topk(
        emb, queries.select("query_id", "embedding"), K
    ).join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
        ),
        "neighbor_id",
    ).join(
        F.broadcast(queries.select("query_id", "true_label")), "query_id"
    )
    votes = topk.groupBy(
        "query_id", "true_label", "neighbor_label"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "true_label",
                F.col("neighbor_label").alias("pred_label"))
    )
    return pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(
            (F.col("pred_label") == F.col("true_label")).cast("long")
        ).cast("long").alias("n_correct"),
        F.expr(
            "CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0"
            " END) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("accuracy_ppm"),
    )


# --- geometric median of embeddings (Weiszfeld) ---------------------

GM_ITERS = 2
_GM_W = 10**9  # weight scale: w_i = floor(1e9 / ||x_i - m||)


def _gm_oracle() -> str:
    # m0: per-dim floor-mean; then GM_ITERS Weiszfeld steps, all
    # integer except one correctly-rounded sqrt per (vector, step)
    steps = []
    prev = "m0"
    for t in range(1, GM_ITERS + 1):
        steps.append(f"""
d{t} AS (
  SELECT e.label, e.vec_id,
         CAST(sum((e.x - m.m) * (e.x - m.m)) AS BIGINT) AS d2
  FROM ex e JOIN {prev} m ON m.label = e.label AND m.pos = e.pos
  GROUP BY 1, 2
),
w{t} AS (
  SELECT label, vec_id,
         CAST(floor({_GM_W} / sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS w
  FROM d{t} WHERE d2 > 0
),
m{t} AS (
  SELECT e.label, e.pos,
         CAST(sum(w.w * e.x) // sum(w.w) AS BIGINT) AS m
  FROM ex e JOIN w{t} w ON w.label = e.label AND w.vec_id = e.vec_id
  GROUP BY 1, 2
)""")
        prev = f"m{t}"
    return f"""
WITH ex AS (
  SELECT label, vec_id, CAST(i - 1 AS INT) AS pos,
         CAST(v[i] AS BIGINT) AS x
  FROM (SELECT label, vec_id,
               list_transform(embedding,
                 y -> CAST(floor(CAST(y AS DOUBLE) * 1000) AS BIGINT))
                 AS v
        FROM embeddings),
       unnest(generate_series(1, len(v))) AS u(i)
),
m0 AS (
  SELECT label, pos, CAST(sum(x) // count(*) AS BIGINT) AS m
  FROM ex GROUP BY 1, 2
),
{",".join(steps)}
SELECT m.label, m.pos, m.m AS gm_milli, m0.m AS centroid_milli,
       CAST(n.n AS BIGINT) AS n_vecs
FROM m{GM_ITERS} m
JOIN m0 ON m0.label = m.label AND m0.pos = m.pos
JOIN (SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n
      FROM ex GROUP BY 1) n ON n.label = m.label
"""


@query("geometric_median_embeddings", oracle=_gm_oracle())
def geometric_median_embeddings(spark, sf_dir):
    """Per-label GEOMETRIC median of the embedding cloud via
    Weiszfeld iteration — the robust prototype: unlike the
    arithmetic centroid (embedding_centroids), a handful of outlier
    vectors can't drag it, which is what you want for class anchors
    and contamination-resistant cluster seeds. Fixed {n} iterations,
    identical in both engines: distances are exact integer sums, the
    per-(vector, step) weight is one correctly-rounded sqrt + floor
    div, and the weighted re-center is exact integer DIV. The
    centroid column rides along so the robust-vs-mean shift is
    visible per dimension.

    Plan: the exploded (label, vec, pos, x) table persists once; each
    step is two partial-agg shuffles against a broadcast ~320-row
    center table. Vectors never move between executors.
    """
    from advisorydatapipeline_spark.operators.similarity import quantize

    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        "vec_id",
        F.posexplode(quantize("embedding")).alias("pos", "x"),
    ).persist()
    m = ex.groupBy("label", "pos").agg(
        F.expr("CAST(sum(x) DIV count(*) AS BIGINT)").alias("m")
    )
    m0 = m
    for _ in range(GM_ITERS):
        d = (
            ex.join(F.broadcast(m), ["label", "pos"])
            .groupBy("label", "vec_id")
            .agg(
                F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))
                .cast("long")
                .alias("d2")
            )
        )
        w = d.filter(F.col("d2") > 0).select(
            "label",
            "vec_id",
            F.floor(_GM_W / F.sqrt(F.col("d2").cast("double")))
            .cast("long")
            .alias("w"),
        )
        m = (
            ex.join(F.broadcast(w), ["label", "vec_id"])
            .groupBy("label", "pos")
            .agg(
                F.expr(
                    "CAST(sum(w * x) DIV sum(w) AS BIGINT)"
                ).alias("m")
            )
        )
    n = ex.groupBy("label").agg(
        F.countDistinct("vec_id").cast("long").alias("n_vecs")
    )
    return (
        m.join(
            m0.select("label", "pos", F.col("m").alias("centroid_milli")),
            ["label", "pos"],
        )
        .join(F.broadcast(n), "label")
        .select(
            "label",
            "pos",
            F.col("m").alias("gm_milli"),
            "centroid_milli",
            "n_vecs",
        )
    )


# --- hubness audit (k-occurrence distribution) ----------------------


_HUB_ORACLE = f"""
WITH c AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
topk AS (
  SELECT neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(c.v, q.v)
                      / sqrt(list_dot_product(c.v, c.v)
                             * list_dot_product(q.v, q.v)) DESC,
                      c.vec_id ASC
           ) AS rn
    FROM c, c q
    WHERE c.vec_id <> q.vec_id AND q.vec_id % {QUERY_MOD} = 0
  ) WHERE rn <= {K}
),
kocc AS (
  SELECT neighbor_id, CAST(count(*) AS BIGINT) AS k_occ
  FROM topk GROUP BY 1
),
hist AS (
  SELECT k_occ, CAST(count(*) AS BIGINT) AS n_points
  FROM kocc GROUP BY 1
),
s AS (
  SELECT CAST(sum(k_occ * n_points) AS BIGINT) AS total_occ,
         CAST(max(k_occ) AS BIGINT) AS max_k_occ,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM hist
)
SELECT h.k_occ, h.n_points, s.max_k_occ,
       CAST(h.k_occ * h.n_points * 1000000 // s.total_occ AS BIGINT)
         AS occ_share_ppm
FROM hist h CROSS JOIN s
"""


@query("ann_hubness_audit", oracle=_HUB_ORACLE)
def ann_hubness_audit(spark, sf_dir):
    """Hubness audit — the high-dimensional ANN pathology gauge: the
    k-occurrence distribution (how many query top-k lists each point
    appears in). In a healthy space it concentrates near k x
    |queries| / |corpus|; a heavy tail means hub points dominate
    every result list, recall evals flatter themselves, and
    neighbor-vote labels (knn_label_eval) skew. One groupBy over the
    (already per-query-bounded) top-k lists plus a tiny histogram —
    the audit costs nothing beyond the search it audits."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kocc = (
        cosine_topk(emb, queries, K)
        .groupBy("neighbor_id")
        .agg(F.count(F.lit(1)).cast("long").alias("k_occ"))
    )
    hist = kocc.groupBy("k_occ").agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    s = hist.agg(
        F.sum(F.col("k_occ") * F.col("n_points"))
        .cast("long")
        .alias("total_occ"),
        F.max("k_occ").cast("long").alias("max_k_occ"),
    )
    return hist.crossJoin(F.broadcast(s)).select(
        "k_occ",
        "n_points",
        "max_k_occ",
        F.expr(
            "CAST(k_occ * n_points * 1000000 DIV total_occ AS BIGINT)"
        ).alias("occ_share_ppm"),
    )


# --- kNN-distance outliers (embedding anomaly score) ----------------

OUTLIER_TOPN = 15
OUTLIER_MOD = 25  # screen scores vec_id % 25 == 0 (a deterministic
# corpus sample — scoring EVERY point brute-force is corpus^2 and
# measured 35s at sf0.1; full coverage at scale goes through the
# bucketed/IVF neighbor path instead)


_KNN_OUT_ORACLE = f"""
WITH c AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
kd AS (
  SELECT query_id, l2_sq AS knn_dist_sq FROM (
    SELECT q.vec_id AS query_id,
           list_dot_product(c.v, c.v) + list_dot_product(q.v, q.v)
             - 2 * list_dot_product(c.v, q.v) AS l2_sq,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(c.v, c.v)
                        + list_dot_product(q.v, q.v)
                        - 2 * list_dot_product(c.v, q.v) ASC,
                      c.vec_id ASC
           ) AS rn
    FROM c, c q
    WHERE c.vec_id <> q.vec_id AND q.vec_id % {OUTLIER_MOD} = 0
  ) WHERE rn = {K}
)
SELECT query_id AS vec_id, CAST(knn_dist_sq AS BIGINT) AS knn_dist_sq,
       CAST(rnk AS INT) AS outlier_rank
FROM (
  SELECT *, row_number() OVER (
    ORDER BY knn_dist_sq DESC, query_id ASC
  ) AS rnk FROM kd
) WHERE rnk <= {OUTLIER_TOPN}
"""


@query("knn_distance_outliers", oracle=_KNN_OUT_ORACLE)
def knn_distance_outliers(spark, sf_dir):
    """kNN-distance outlier detection on the embedding cloud: a
    point's anomaly score is the distance to its k-th nearest
    neighbor (Ramaswamy et al.) — points in dense regions score low,
    isolated points score high, no distribution assumed. The
    unsupervised contamination screen for embedding corpora
    (mis-embedded, corrupted, or off-manifold items), complementing
    the scalar-feature detectors (zscore/mad). Exact integer
    distances; the k-th-neighbor extraction is the same bounded
    top-k plan as the ANN ground truth (run on a sample or swap in
    the IVF probe at corpus scale)."""
    from advisorydatapipeline_spark.operators.similarity import l2_topk
    from advisorydatapipeline_spark.operators.window_ops import (
        top_k_per_key,
    )
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % OUTLIER_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kth = (
        top_k_per_key(
            l2_topk(emb, queries, K).select("query_id", "l2_sq"),
            ["query_id"],
            [F.col("l2_sq").asc()],
            k=K,
            keep_rank=True,
        )
        .filter(F.col("rn") == K)
        .select("query_id", F.col("l2_sq").alias("knn_dist_sq"))
    )
    w = Window.orderBy(
        F.col("knn_dist_sq").desc(), F.col("query_id").asc()
    )
    return (
        kth.withColumn("outlier_rank", F.row_number().over(w))
        .filter(F.col("outlier_rank") <= OUTLIER_TOPN)
        .select(
            F.col("query_id").alias("vec_id"),
            "knn_dist_sq",
            "outlier_rank",
        )
    )


# --- DBSCAN-lite: grid-accelerated density clustering ---------------

DB_EPS, DB_MINPTS = 16, 5  # Chebyshev eps = cell width; core bar

# corpus-aware coordinate-space ladder: grid area tracks n so the
# expected neighbor count (n * (2*eps+1)^2 / grid^2) stays ~4-10 at
# every SF — a FIXED grid lets density grow with n until uniform
# points percolate into one giant cluster (observed at sf0.01 with
# grid=256) and DBSCAN degenerates. Same sizing idea as
# rhp_plan_size's corpus-aware banding.
_DB_GRID_SQL = (
    "CASE WHEN n <= 256 THEN 192 WHEN n <= 1024 THEN 320"
    " WHEN n <= 4096 THEN 640 WHEN n <= 16384 THEN 2048"
    " WHEN n <= 65536 THEN 4096 ELSE 8192 END"
)


@query(
    "dbscan_grid_clusters",
    oracle=f"""
WITH RECURSIVE g AS (
  SELECT {_DB_GRID_SQL} AS grid
  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM customer)
),
pts AS MATERIALIZED (
  SELECT c_custkey AS id,
         {_DH.format(x="'dx' || CAST(c_custkey AS VARCHAR)")}
           % (SELECT grid FROM g) AS x,
         {_DH.format(x="'dy' || CAST(c_custkey AS VARCHAR)")}
           % (SELECT grid FROM g) AS y
  FROM customer
),
mp AS (
  SELECT CAST({DB_MINPTS} AS BIGINT) AS minpts
),
-- 3x3 cell equi-join instead of the quadratic inequality join (r6
-- gate: 61s at sf0.1, recomputed for each of its three consumers).
-- Equivalent by construction: with cell width = eps, any pair with
-- Chebyshev distance <= eps lies in the same or an adjacent cell
-- (|x_a - x_b| <= eps bounds the cell index delta to 1; x,y are
-- non-negative), and each qualifying pair is found exactly once
-- because the (dx, dy) offset to b's cell is unique.
cells AS MATERIALIZED (
  SELECT id, x, y, x // {DB_EPS} AS cx, y // {DB_EPS} AS cy FROM pts
),
pairs AS MATERIALIZED (
  SELECT a.id AS a, b.id AS b
  FROM (
    SELECT c.id, c.x, c.y, c.cx + dx.d AS cx, c.cy + dy.d AS cy
    FROM cells c,
         (VALUES (-1), (0), (1)) dx(d),
         (VALUES (-1), (0), (1)) dy(d)
  ) a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
  WHERE a.id <> b.id
    AND abs(a.x - b.x) <= {DB_EPS} AND abs(a.y - b.y) <= {DB_EPS}
),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY a),
core AS MATERIALIZED (
  SELECT a AS id FROM deg WHERE c >= (SELECT minpts FROM mp)
),
cedges AS MATERIALIZED (
  SELECT p.a, p.b FROM pairs p
  JOIN core x ON x.id = p.a JOIN core y ON y.id = p.b
),
reach AS (
  SELECT id, id AS r FROM core
  UNION
  SELECT e.b, reach.r FROM reach JOIN cedges e ON e.a = reach.id
),
lab AS MATERIALIZED (
  SELECT id, CAST(min(r) AS BIGINT) AS cluster_id
  FROM reach GROUP BY id),
border AS (
  SELECT p.a AS id, CAST(min(l.cluster_id) AS BIGINT) AS cluster_id
  FROM pairs p JOIN lab l ON l.id = p.b
  WHERE p.a NOT IN (SELECT id FROM core)
  GROUP BY p.a
)
SELECT id AS point_id, 'core' AS role, cluster_id FROM lab
UNION ALL
SELECT id, 'border', cluster_id FROM border
UNION ALL
SELECT id, 'noise', CAST(NULL AS BIGINT) FROM pts
WHERE id NOT IN (SELECT id FROM lab)
  AND id NOT IN (SELECT id FROM border)
""",
)
def dbscan_grid_clusters(spark, sf_dir):
    """DBSCAN (density-based clustering) with the grid-join
    acceleration: neighbors within Chebyshev eps come from the 3x3
    cell equi-join (grid_proximity_join's plan — a constant 9x
    replication instead of the oracle's quadratic inequality join);
    points with >= minPts neighbors are CORES, clusters are connected
    components of the core-core graph (the min-label CC operator),
    non-core points with a core neighbor attach as
    BORDER (min neighboring core label — deterministic), the rest is
    NOISE. The clustering family kmeans can't cover: no k chosen up
    front, arbitrary-shape clusters, an explicit noise verdict.
    minPts derives from n so density is meaningful at every SF; the
    coordinates are hash-synthetic (the geometry is synthetic, the
    PLAN is the real thing)."""
    from advisorydatapipeline_spark.functions.text import hash64

    cust = load(spark, sf_dir, "customer")
    grid = cust.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.expr(_DB_GRID_SQL).alias("grid")
    )
    k = F.col("c_custkey").cast("string")
    pts = (
        cust.crossJoin(F.broadcast(grid))
        .select(
            F.col("c_custkey").alias("id"),
            (hash64(F.concat(F.lit("dx"), k)) % F.col("grid")).alias("x"),
            (hash64(F.concat(F.lit("dy"), k)) % F.col("grid")).alias("y"),
        )
        .persist()
    )
    mp = grid.select(F.lit(DB_MINPTS).cast("long").alias("minpts"))
    from advisorydatapipeline_spark.operators.similarity import (
        dbscan_chebyshev,
    )

    return dbscan_chebyshev(pts, DB_EPS, mp)


# --- SemDeDup: semantic dedup with keep-one representative ----------

SEM_TAU_NUM, SEM_TAU_DEN = 2, 5  # cosine threshold 0.4, exact rational

_SEMDEDUP_ORACLE = f"""
WITH c AS (
  SELECT vec_id, {_DUCK_Q} AS q, {_DUCK_QD} AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, {_DUCK_QD} AS v FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
seed_assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT c.vec_id, cent.centroid_id, ROW_NUMBER() OVER (
      PARTITION BY c.vec_id ORDER BY
        list_dot_product(c.v, c.v) + list_dot_product(cent.v, cent.v)
          - 2 * list_dot_product(c.v, cent.v) ASC,
        cent.centroid_id ASC
    ) AS rn FROM c, cent
  ) WHERE rn = 1
),
rdim AS (
  SELECT s.centroid_id, u.i AS i,
         CAST(floor(sum(c.q[u.i]) / CAST(count(*) AS DOUBLE)) AS BIGINT)
           AS qc
  FROM seed_assigned s
  JOIN c ON c.vec_id = s.vec_id,
       unnest(generate_series(1, len(c.q))) AS u(i)
  GROUP BY 1, 2
),
ref AS (
  SELECT centroid_id,
         CAST(list(qc ORDER BY i) AS DOUBLE[]) AS kv
  FROM rdim GROUP BY 1
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT c.vec_id, ref.centroid_id, ROW_NUMBER() OVER (
      PARTITION BY c.vec_id ORDER BY
        list_dot_product(c.v, c.v) + list_dot_product(ref.kv, ref.kv)
          - 2 * list_dot_product(c.v, ref.kv) ASC,
        ref.centroid_id ASC
    ) AS rn FROM c, ref
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a
  JOIN assigned b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  JOIN c ca ON ca.vec_id = a.vec_id
  JOIN c cb ON cb.vec_id = b.vec_id
  WHERE CAST(list_dot_product(ca.v, cb.v) AS BIGINT) > 0
    AND {SEM_TAU_DEN * SEM_TAU_DEN}
          * CAST(list_dot_product(ca.v, cb.v) AS BIGINT)
          * CAST(list_dot_product(ca.v, cb.v) AS BIGINT)
        >= {SEM_TAU_NUM * SEM_TAU_NUM}
          * CAST(list_dot_product(ca.v, ca.v) AS BIGINT)
          * CAST(list_dot_product(cb.v, cb.v) AS BIGINT)
),
dirs AS (
  SELECT id_a AS vec_id, id_b AS other FROM pairs
  UNION ALL
  SELECT id_b AS vec_id, id_a AS other FROM pairs
),
nb AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dup_neighbors,
         min(other) AS mn
  FROM dirs GROUP BY 1
)
SELECT a.vec_id, a.centroid_id,
       COALESCE(nb.n_dup_neighbors, 0) AS n_dup_neighbors,
       (nb.vec_id IS NULL OR nb.mn > a.vec_id) AS kept
FROM assigned a LEFT JOIN nb ON nb.vec_id = a.vec_id
"""


@query("semantic_dedup", oracle=_SEMDEDUP_ORACLE)
def semantic_dedup(spark, sf_dir):
    """SemDeDup capstone composing the existing pieces: ivf_assign
    seeding -> one integer-exact Lloyd refinement
    (lloyd_refined_centroids) -> per-cluster blocked cosine pairs at
    tau = 0.4 (evaluated as the exact rational 25*dot^2 >= 4*|a||b| —
    no float compare) -> greedy min-id keep-one. Per-cluster blocking
    bounds the pair count at sum(|cluster|^2)/2, the same bound
    SCALE.md measures for dedup_embedding_cosine; the keep decision
    needs no connected-components pass (operators/similarity.py
    semantic_dedup for the full scale note)."""
    from advisorydatapipeline_spark.operators.similarity import (
        semantic_dedup as _semantic_dedup,
    )

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return _semantic_dedup(emb, centroids, SEM_TAU_NUM, SEM_TAU_DEN)


# --- cross-modal CLIP-score pair gate (r11) ---------------------------

# keep a (text, image) pair when cosine >= 0.8 — compared in floor'd
# integer micros so the threshold decision is engine-exact
CLIP_THRESH_MICRO = 800_000
_PAIR_MULT, _PAIR_SHIFT = 7, 13

_CLIP_PAIRS_CTES = f"""
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
e AS (SELECT vec_id, {_DUCK_Q} AS v FROM embeddings),
pairs AS (
  SELECT d.doc_id, d.source,
         (d.doc_id * {_PAIR_MULT} + {_PAIR_SHIFT}) % n.n AS img_vec_id,
         CAST(d.doc_id % 4 AS BIGINT) AS w
  FROM documents d CROSS JOIN n
  WHERE d.doc_id < n.n
),
j AS (
  SELECT p.doc_id, p.source, p.img_vec_id,
         CAST(t.v AS DOUBLE[]) AS vt,
         CAST(list_transform(generate_series(1, len(t.v)),
           i -> (4 - p.w) * t.v[i] + p.w * o.v[i]) AS DOUBLE[]) AS vi
  FROM pairs p
  JOIN e t ON t.vec_id = p.doc_id
  JOIN e o ON o.vec_id = p.img_vec_id
),
gate AS (
  SELECT doc_id, source, img_vec_id,
         CAST(floor(1000000 * (list_dot_product(vt, vi)
           / sqrt(list_dot_product(vt, vt) * list_dot_product(vi, vi))))
           AS BIGINT) AS clip_micro
  FROM j
)"""


@query(
    "clip_pair_gate",
    oracle=f"""
WITH {_CLIP_PAIRS_CTES}
SELECT doc_id, source, img_vec_id, clip_micro,
       clip_micro >= {CLIP_THRESH_MICRO} AS kept
FROM gate
""",
)
def clip_pair_gate(spark, sf_dir):
    """CLIP-score-style cross-modal pair filter (r10 verdict item 4):
    each document pairs its text embedding (vec_id = doc_id) with its
    image's embedding, and the pair is kept when their cosine clears
    the threshold — the alignment gate every multimodal corpus
    applies (LAION-style) before training. The general learned image
    encoder is lib-bound (operators/multimodal.py scope note), so the
    image embedding is the deterministic fixture stand-in: a blend
    (4-w)*text + w*other with w = doc_id % 4, giving pair cosines
    clustered near 1.0 / 0.95 / 0.71 / 0.32 — both sides of the 0.8
    threshold exercised with a safe margin, and the decision compared
    in floor'd integer micros so it is engine-exact.

    Scale (100 TB): the pair evaluation is two 1:1 equi-joins on
    vec_id; locally AQE broadcasts the (tiny) pair list through both,
    so the embedding corpus never shuffles — at cluster scale the
    same plan runs as a bucket-colocated join on vec_id. Cosines via
    the quantized-integer dot-product idiom (module header)."""
    from advisorydatapipeline_spark.operators.similarity import (
        cosine_q,
        dot_q,
        norm_sq_q,
        quantize,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("v")
    )
    n_df = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = (
        docs.crossJoin(F.broadcast(n_df))
        .filter(F.col("doc_id") < F.col("n"))
        .select(
            "doc_id",
            "source",
            (
                (F.col("doc_id") * _PAIR_MULT + _PAIR_SHIFT) % F.col("n")
            ).alias("img_vec_id"),
            (F.col("doc_id") % 4).cast("long").alias("w"),
        )
    )
    t = emb.select(F.col("vec_id").alias("doc_id"), F.col("v").alias("vt"))
    o = emb.select(
        F.col("vec_id").alias("img_vec_id"), F.col("v").alias("vo")
    )
    j = (
        pairs.join(t, "doc_id")
        .join(o, "img_vec_id")
        .withColumn(
            "vi",
            F.zip_with(
                F.col("vt"),
                F.col("vo"),
                lambda x, y: (F.lit(4) - F.col("w")) * x + F.col("w") * y,
            ),
        )
    )
    clip_micro = F.floor(
        F.lit(1000000)
        * cosine_q(
            dot_q(F.col("vt"), F.col("vi")),
            norm_sq_q(F.col("vt")),
            norm_sq_q(F.col("vi")),
        )
    ).cast("long")
    return j.select(
        "doc_id",
        "source",
        "img_vec_id",
        clip_micro.alias("clip_micro"),
        (clip_micro >= CLIP_THRESH_MICRO).alias("kept"),
    )


@query(
    "clip_source_retention",
    oracle=f"""
WITH {_CLIP_PAIRS_CTES}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) FILTER (clip_micro >= {CLIP_THRESH_MICRO})
            AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (clip_micro >= {CLIP_THRESH_MICRO})
            * 1000000 // count(*) AS BIGINT) AS kept_ppm,
       CAST(sum(clip_micro) AS BIGINT) AS sum_clip_micro
FROM gate
GROUP BY source
""",
)
def clip_source_retention(spark, sf_dir):
    """Per-source retention report for the CLIP-score gate: how many
    pairs each source contributes, how many survive the threshold,
    the retention rate in ppm, and the summed alignment score (in
    integer micros, so the sum is order-independent) — the audit
    table a multimodal curation run publishes next to the kept
    corpus, and the input a per-source quota (source_quota_cap)
    rebalances on. Same pair plan as clip_pair_gate plus one
    partial-agg-friendly rollup on source."""
    gate = clip_pair_gate(spark, sf_dir)
    return gate.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
        F.expr(
            "CAST(sum(CAST(kept AS BIGINT)) * 1000000"
            " DIV count(1) AS BIGINT)"
        ).alias("kept_ppm"),
        F.sum("clip_micro").cast("long").alias("sum_clip_micro"),
    )


# --- margin-based bitext mining (r11) ---------------------------------

_BITEXT_K = 4  # k-NN average in the margin denominator
_BITEXT_MARGIN_PPM = 1_150_000  # accept above ratio-margin 1.15


_BITEXT_NPROBE = NPROBE  # X side probes this many centroid buckets


def _bitext_margin_sql(pairs_cte: str) -> str:
    """Margin/mutual-best tail (DuckDB dialect) over a pair CTE chain
    ending in ``p(x_id, y_id, cos_micro)``. The GREATEST(sx+sy, 1)
    guard exists because a sparse candidate subset can leave a <= 0
    k-NN denominator where the dense brute stream can't in practice;
    it also sidesteps DuckDB floor-division vs Spark
    truncation-toward-zero divergence on negative operands, so
    cross-engine agreement is total, not data-dependent."""
    return f"""
WITH {pairs_cte},
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY x_id
           ORDER BY cos_micro DESC, y_id) AS rn_x,
         row_number() OVER (PARTITION BY y_id
           ORDER BY cos_micro DESC, x_id) AS rn_y
  FROM p
),
s AS (
  SELECT *,
         sum(CASE WHEN rn_x <= {_BITEXT_K} THEN cos_micro END)
           OVER (PARTITION BY x_id) AS sx,
         sum(CASE WHEN rn_y <= {_BITEXT_K} THEN cos_micro END)
           OVER (PARTITION BY y_id) AS sy
  FROM r
)
SELECT x_id, y_id, cos_micro,
       CAST(cos_micro * 2 * {_BITEXT_K} * 1000000
            // GREATEST(sx + sy, 1) AS BIGINT) AS margin_ppm,
       cos_micro * 2 * {_BITEXT_K} * 1000000 // GREATEST(sx + sy, 1)
         >= {_BITEXT_MARGIN_PPM} AS accepted
FROM s
WHERE rn_x = 1 AND rn_y = 1
"""


_BITEXT_PAIRS_BRUTE = f"""e AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
p AS (
  SELECT x.vec_id AS x_id, y.vec_id AS y_id,
         CAST(floor(1000000 * (list_dot_product(x.v, y.v)
           / sqrt(list_dot_product(x.v, x.v)
                * list_dot_product(y.v, y.v)))) AS BIGINT) AS cos_micro
  FROM e x, e y
  WHERE x.vec_id % 2 = 0 AND y.vec_id % 2 = 1
)"""


_BITEXT_PAIRS_IVF = f"""e AS (
  SELECT vec_id, {_DUCK_QD} AS v FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, v FROM e WHERE vec_id < {N_CENTROIDS}
),
xs AS (SELECT vec_id AS x_id, v FROM e WHERE vec_id % 2 = 0),
ys AS (SELECT vec_id AS y_id, v FROM e WHERE vec_id % 2 = 1),
y_scored AS (
  SELECT ys.y_id, cent.centroid_id,
         list_dot_product(ys.v, ys.v) + list_dot_product(cent.v, cent.v)
           - 2 * list_dot_product(ys.v, cent.v) AS dist_sq
  FROM ys, cent
),
y_assigned AS (
  SELECT y_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY y_id
      ORDER BY dist_sq ASC, centroid_id ASC) AS rn FROM y_scored
  ) WHERE rn = 1
),
x_scored AS (
  SELECT xs.x_id, cent.centroid_id,
         list_dot_product(xs.v, xs.v) + list_dot_product(cent.v, cent.v)
           - 2 * list_dot_product(xs.v, cent.v) AS dist_sq
  FROM xs, cent
),
x_probes AS (
  SELECT x_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY x_id
      ORDER BY dist_sq ASC, centroid_id ASC) AS rn FROM x_scored
  ) WHERE rn <= {_BITEXT_NPROBE}
),
p AS (
  SELECT xs.x_id, ys.y_id,
         CAST(floor(1000000 * (list_dot_product(xs.v, ys.v)
           / sqrt(list_dot_product(xs.v, xs.v)
                * list_dot_product(ys.v, ys.v)))) AS BIGINT) AS cos_micro
  FROM x_probes xp
  JOIN y_assigned ya ON ya.centroid_id = xp.centroid_id
  JOIN xs ON xs.x_id = xp.x_id
  JOIN ys ON ys.y_id = ya.y_id
)"""


def _bitext_margin_accept(p):
    """DataFrame twin of :func:`_bitext_margin_sql`'s tail: mutual
    best + ratio margin over a scored pair stream
    ``(x_id, y_id, cos_micro)``. Windows shuffle skinny triples only
    — vectors never reach this stage."""
    from pyspark.sql import Window

    wx = Window.partitionBy("x_id").orderBy(
        F.col("cos_micro").desc(), F.col("y_id")
    )
    wy = Window.partitionBy("y_id").orderBy(
        F.col("cos_micro").desc(), F.col("x_id")
    )
    r = p.withColumn("rn_x", F.row_number().over(wx)).withColumn(
        "rn_y", F.row_number().over(wy)
    )
    s = r.withColumn(
        "sx",
        F.sum(
            F.when(F.col("rn_x") <= _BITEXT_K, F.col("cos_micro"))
        ).over(Window.partitionBy("x_id")),
    ).withColumn(
        "sy",
        F.sum(
            F.when(F.col("rn_y") <= _BITEXT_K, F.col("cos_micro"))
        ).over(Window.partitionBy("y_id")),
    )
    margin = F.expr(
        f"CAST(cos_micro * 2 * {_BITEXT_K} * 1000000"
        " DIV GREATEST(sx + sy, 1) AS BIGINT)"
    )
    return s.filter((F.col("rn_x") == 1) & (F.col("rn_y") == 1)).select(
        "x_id",
        "y_id",
        "cos_micro",
        margin.alias("margin_ppm"),
        (margin >= _BITEXT_MARGIN_PPM).alias("accepted"),
    )


def _bitext_sides(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    x = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("x_id"), "embedding"
    )
    y = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("y_id"), "embedding"
    )
    return emb, x, y


@query(
    "bitext_margin_mining",
    oracle=_bitext_margin_sql(_BITEXT_PAIRS_BRUTE),
)
def bitext_margin_mining(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix pairing rule): treat even vec_ids as language X
    and odd as language Y, score every cross-lingual pair by cosine,
    keep MUTUAL best pairs, and accept those whose ratio margin —
    cos(x,y) over the mean of both sides' k-NN cosines — clears the
    threshold. Hubs (vectors near everything) have high denominator
    means, so their pairs are rejected even at high raw cosine;
    that is the whole point of margin over cosine.

    Engine-exact: cosines floor to integer micros FIRST, so the k-NN
    sums, the margin ratio (integer DIV with a GREATEST(.,1) guard),
    and the accept decision are order-independent BIGINT arithmetic;
    ranks tie-break on id.

    This is the EXACT BRUTE BASELINE / recall-truth arm — O(|X||Y|)
    pair scores by definition. The production path at corpus scale is
    :func:`bitext_margin_mining_ivf` (candidate-bounded; see
    bitext_ivf_recall for the measured recall of that arm against
    this one). Scoring here rides the block-partitioned numpy matmul
    (operators/similarity.bitext_pair_scores) — vectors ship
    n * n_blocks rows instead of n^2/4 pair rows, and only skinny
    (x, y, cos_micro) triples reach the margin windows."""
    from advisorydatapipeline_spark.operators.similarity import (
        bitext_pair_scores,
    )

    _, x, y = _bitext_sides(spark, sf_dir)
    return _bitext_margin_accept(bitext_pair_scores(x, y))


@query(
    "bitext_margin_mining_ivf",
    oracle=_bitext_margin_sql(_BITEXT_PAIRS_IVF),
)
def bitext_margin_mining_ivf(spark, sf_dir):
    """Candidate-bounded bitext mining — the PRODUCTION arm (r11
    verdict item 1): X-side vectors probe their NPROBE nearest IVF
    centroids, Y-side vectors sit in their single nearest bucket,
    and only same-bucket cross pairs are scored (one numpy matmul
    per bucket, cogrouped applyInPandas — vectors shuffle once keyed
    on centroid_id, pair rows never carry vectors). The margin /
    mutual-best tail is IDENTICAL to the brute arm, evaluated over
    the candidate stream; k-NN denominators are candidate-local by
    construction (that's the approximation an IVF index buys — see
    bitext_ivf_recall for its measured cost).

    Scale: candidate volume is |X| * nprobe/n_centroids * |Y| in
    expectation and the centroid count is the dial (grows ~sqrt(n)
    in deployment; the test fixture pins {N_CENTROIDS} so the DuckDB
    oracle can replay assignment exactly). No stage touches n^2/4
    pairs: probe lists are |X|*nprobe rows, assignment |Y| rows,
    and the windows shuffle candidate triples only."""
    from advisorydatapipeline_spark.operators.similarity import (
        bitext_ivf_candidate_scores,
    )

    emb, x, y = _bitext_sides(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return _bitext_margin_accept(
        bitext_ivf_candidate_scores(x, y, cent, _BITEXT_NPROBE)
    )


@query(
    "bitext_ivf_recall",
    oracle=f"""
WITH tb AS (
  SELECT x_id, y_id FROM ({_bitext_margin_sql(_BITEXT_PAIRS_BRUTE)})
  WHERE accepted
),
ti AS (
  SELECT x_id, y_id FROM ({_bitext_margin_sql(_BITEXT_PAIRS_IVF)})
  WHERE accepted
),
o AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM tb JOIN ti USING (x_id, y_id)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM tb) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM ti) AS n_ivf,
       (SELECT n FROM o) AS n_overlap,
       CAST((SELECT n FROM o) * 1000000
            // GREATEST((SELECT count(*) FROM tb), 1) AS BIGINT)
         AS recall_ppm,
       CAST((SELECT n FROM o) * 1000000
            // GREATEST((SELECT count(*) FROM ti), 1) AS BIGINT)
         AS precision_ppm
""",
)
def bitext_ivf_recall(spark, sf_dir):
    """Measure, don't guess (lsh_recall_eval / rhp_recall_eval twin
    for bitext mining): accepted-pair recall and precision of the
    IVF-candidate arm against the exact brute arm, in integer ppm.
    The brute side is O(|X||Y|) BY DESIGN — run at gauge scale on a
    sample, never the full corpus; production ships the candidate
    arm and re-runs this gauge when the centroid count or nprobe
    changes."""
    from advisorydatapipeline_spark.operators.similarity import (
        bitext_ivf_candidate_scores,
        bitext_pair_scores,
    )

    emb, x, y = _bitext_sides(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    tb = (
        _bitext_margin_accept(bitext_pair_scores(x, y))
        .filter("accepted")
        .select("x_id", "y_id")
        .persist()
    )
    ti = (
        _bitext_margin_accept(
            bitext_ivf_candidate_scores(x, y, cent, _BITEXT_NPROBE)
        )
        .filter("accepted")
        .select("x_id", "y_id")
        .persist()
    )
    # Materialize the three scalar counts while the persisted pair
    # sets are live, then unpersist — returning a lazy plan over the
    # caches would leak cached blocks into long-lived sessions (r12
    # ADVICE item 3). Gauge entry: three driver-side scalars is the
    # same contract as the graph convergence counters.
    try:
        n_overlap = tb.join(ti, ["x_id", "y_id"]).count()
        nt = tb.count()
        ni = ti.count()
    finally:
        tb.unpersist()
        ti.unpersist()
    return spark.range(1).selectExpr(
        f"CAST({nt} AS BIGINT) AS n_true",
        f"CAST({ni} AS BIGINT) AS n_ivf",
        f"CAST({n_overlap} AS BIGINT) AS n_overlap",
        f"CAST({n_overlap} * 1000000 DIV GREATEST(CAST({nt} AS BIGINT), 1)"
        " AS BIGINT) AS recall_ppm",
        f"CAST({n_overlap} * 1000000 DIV GREATEST(CAST({ni} AS BIGINT), 1)"
        " AS BIGINT) AS precision_ppm",
    )


# --- int8 quantization calibration (r13) ------------------------------------

_CAL_PCT_NUM, _CAL_PCT_DEN = 99, 100  # clip percentile as a rational


@query(
    "quant_calibration_absmax",
    oracle=f"""
WITH act AS (
  SELECT e.vec_id, u.ch, CAST(e.q[u.ch] AS BIGINT) AS vq
  FROM (SELECT vec_id, {_DUCK_Q} AS q FROM embeddings) e,
       unnest(generate_series(1, len(e.q))) AS u(ch)
),
a AS (
  SELECT ch, vec_id, abs(vq) AS av FROM act
),
r AS (
  SELECT ch, av,
         row_number() OVER (PARTITION BY ch
           ORDER BY av ASC, vec_id ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY ch) AS BIGINT) AS n
  FROM a
),
clip AS (
  SELECT ch, n, av AS clip_q FROM r
  WHERE rn = (n * {_CAL_PCT_NUM} + {_CAL_PCT_DEN} - 1) // {_CAL_PCT_DEN}
),
s AS (
  SELECT ch, CAST(max(av) AS BIGINT) AS absmax_q FROM a GROUP BY 1
)
SELECT CAST(s.ch AS BIGINT) AS channel,
       c.n AS n_rows,
       s.absmax_q,
       CAST(s.absmax_q * 1000000 // 127 AS BIGINT) AS scale_micro,
       CAST(c.clip_q AS BIGINT) AS clip_q,
       CAST((SELECT count(*) FROM a x
             WHERE x.ch = s.ch AND x.av > c.clip_q) * 1000000
            // c.n AS BIGINT) AS sat_ppm
FROM s JOIN clip c ON c.ch = s.ch
""",
)
def quant_calibration_absmax(spark, sf_dir):
    """Per-channel int8 quantization calibration — the activation
    pass every weight/activation-quantized deployment runs (absmax
    scaling, Dettmers et al. LLM.int8 style, plus the percentile-clip
    variant): for each of the 64 embedding channels, the corpus
    absmax sets the int8 scale (absmax/127, kept integer-micro), the
    exact 99th-percentile |activation| (k-th order statistic,
    k = ceil(0.99 n) — integer selection, no interpolation) sets the
    clip, and sat_ppm reports how much mass a clipped quantizer
    saturates. Channels ride the established quantized-integer
    fixture (floor(x*1000)), so every statistic is exact BIGINT.

    Scale (100 TB): posexplode to (channel, |v|) rows, then
    channel-partitioned aggregations/windows — 64 balanced
    partitions of corpus-sized groups; at real scale the order
    statistic would switch to a per-channel histogram sketch, and
    the absmax/saturation terms are plain partial aggs either way."""
    from advisorydatapipeline_spark.operators.similarity import quantize
    from pyspark.sql import Window

    act = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", quantize("embedding").alias("q"))
        .select(
            "vec_id",
            F.posexplode("q").alias("ch0", "vq"),
        )
        .select(
            "vec_id",
            (F.col("ch0") + 1).cast("long").alias("ch"),
            F.abs("vq").alias("av"),
        )
    )
    w = Window.partitionBy("ch").orderBy(
        F.col("av").asc(), F.col("vec_id").asc()
    )
    wn = Window.partitionBy("ch")
    r = act.select(
        "ch",
        "av",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    clip = r.filter(
        F.col("rn")
        == F.expr(
            f"(n * {_CAL_PCT_NUM} + {_CAL_PCT_DEN} - 1)"
            f" DIV {_CAL_PCT_DEN}"
        )
    ).select("ch", F.col("n").alias("n_rows"), F.col("av").alias("clip_q"))
    stats = act.groupBy("ch").agg(
        F.max("av").cast("long").alias("absmax_q")
    )
    sat = (
        act.join(clip, "ch")
        .groupBy("ch")
        .agg(
            F.sum((F.col("av") > F.col("clip_q")).cast("long"))
            .cast("long")
            .alias("n_sat")
        )
    )
    return (
        stats.join(clip, "ch")
        .join(sat, "ch")
        .select(
            F.col("ch").alias("channel"),
            "n_rows",
            "absmax_q",
            F.expr("CAST(absmax_q * 1000000 DIV 127 AS BIGINT)").alias(
                "scale_micro"
            ),
            "clip_q",
            F.expr("CAST(n_sat * 1000000 DIV n_rows AS BIGINT)").alias(
                "sat_ppm"
            ),
        )
    )


# --- TracIn influence top-k (r14) -------------------------------------

_TRACIN_C = 24  # candidate shortlist size per test point
_TRACIN_K = 3  # influencers reported per test point
_TRACIN_STRIDE = 131  # candidate map stride (coprime-ish, det.)
_TRACIN_TEST_MOD = 20  # vec_id % 20 == 0 -> test split
# checkpoint = a contiguous gradient slice with a step weight: dims
# [0,21) weight 3, [21,42) weight 2, [42,64) weight 1 (early
# checkpoints dominate TracIn sums)
_TRACIN_SLICES = ((0, 21, 3), (21, 42, 2), (42, 64, 1))


def _tracin_wt_sql(ch: str) -> str:
    """Per-dimension checkpoint weight (1-indexed channel)."""
    parts = " ".join(
        f"WHEN {ch} <= {hi} THEN {w}"
        for _lo, hi, w in _TRACIN_SLICES
    )
    return f"(CASE {parts} ELSE 0 END)"


_TRACIN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, {_DUCK_Q} AS q FROM embeddings
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
cand AS (
  SELECT t.vec_id AS test_id,
         (t.vec_id + k.k * {_TRACIN_STRIDE}) % n.n AS train_id
  FROM e t, n, range(1, {_TRACIN_C} + 1) k(k)
  WHERE t.vec_id % {_TRACIN_TEST_MOD} = 0
),
pairs AS (
  SELECT DISTINCT test_id, train_id FROM cand
  WHERE train_id % {_TRACIN_TEST_MOD} != 0
),
inf AS (
  SELECT p.test_id, p.train_id,
         CAST(SUM({_tracin_wt_sql('u.ch')}
                  * a.q[u.ch] * b.q[u.ch]) AS BIGINT) AS influence
  FROM pairs p
  JOIN e a ON a.vec_id = p.test_id
  JOIN e b ON b.vec_id = p.train_id,
  unnest(generate_series(1, len(a.q))) AS u(ch)
  GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY test_id
             ORDER BY influence DESC, train_id ASC) AS rnk
  FROM inf
)
SELECT test_id, CAST(rnk AS BIGINT) AS rnk, train_id, influence
FROM r WHERE rnk <= {_TRACIN_K}
"""


@query("tracin_influence_topk", oracle=_TRACIN_ORACLE)
def tracin_influence_topk(spark, sf_dir):
    """TracIn training-data influence (Pruthi et al. 2020,
    "Estimating Training Data Influence by Tracing Gradient
    Descent"): influence(train z, test z') = sum over checkpoints c
    of eta_c * grad_c(z) . grad_c(z') — here each checkpoint's
    gradient is a contiguous slice of the (fixture) embedding with a
    step learning-rate weight, so the whole sum collapses into ONE
    per-dimension-weighted exact integer dot product. Per test point
    a deterministic modular shortlist of train candidates is scored
    (the proponent-retrieval setup; production swaps the shortlist
    for the repo's IVF candidate arm) and the top-3 proponents are
    kept by (influence DESC, train_id) — the 'which training
    examples most pushed this prediction' query behind data
    debugging and selection.

    Exactness: quantized-integer embeddings (module idiom), integer
    weights, BIGINT dot; the oracle replays the same weighted dot by
    channel unnest. |influence| <= 3 * 64 * 1000^2 << 2^63.

    Scale: candidates explode map-side from the test split (24 per
    test point); both gradient joins are shuffle hash joins on
    vec_id (bucket-colocated at cluster scale); the top-k window is
    per-test-point bounded. The 1-row corpus-count broadcast rides
    a NESTED_LOOP_OK crossJoin (clip_pair_gate precedent)."""
    from advisorydatapipeline_spark.operators.similarity import quantize

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("q")
    )
    # weighted copy for the test side: fold the checkpoint weights
    # into the dims once, map-side
    wt_cases = " ".join(
        f"WHEN i < {hi} THEN {w}" for _lo, hi, w in _TRACIN_SLICES
    )
    qa = emb.select(
        "vec_id",
        F.expr(
            f"transform(q, (x, i) -> x * (CASE {wt_cases} ELSE 0 END))"
        ).alias("qw"),
    )
    n_df = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tests = emb.filter(
        F.col("vec_id") % _TRACIN_TEST_MOD == 0
    ).select(F.col("vec_id").alias("test_id"))
    cand = (
        tests.crossJoin(F.broadcast(n_df))
        .select(
            "test_id",
            F.explode(
                F.sequence(F.lit(1), F.lit(_TRACIN_C))
            ).alias("k"),
            "n",
        )
        .select(
            "test_id",
            (
                (F.col("test_id") + F.col("k") * _TRACIN_STRIDE)
                % F.col("n")
            ).alias("train_id"),
        )
        .filter(F.col("train_id") % _TRACIN_TEST_MOD != 0)
        .distinct()
    )
    a = qa.select(F.col("vec_id").alias("test_id"), F.col("qw"))
    b = emb.select(F.col("vec_id").alias("train_id"), F.col("q"))
    from advisorydatapipeline_spark.operators.similarity import dot_q

    inf = (
        cand.join(a, "test_id")
        .join(b, "train_id")
        .select(
            "test_id",
            "train_id",
            dot_q(F.col("qw"), F.col("q")).alias("influence"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("test_id").orderBy(
        F.col("influence").desc(), F.col("train_id").asc()
    )
    return (
        inf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TRACIN_K)
        .select(
            "test_id",
            F.col("rnk").cast("long").alias("rnk"),
            "train_id",
            "influence",
        )
    )


# --- Matryoshka truncated-embedding recall (r14) ----------------------

_MAT_DIMS = 16  # truncation prefix (full = 64)

# Brute gauge arms are O(queries x corpus) BY DESIGN (the labeled
# recall-truth ceilings); refuse silently-quadratic blowups past the
# adjudicated gauge scale instead of spilling for hours (the r12
# dedup_jaccard_prefix lesson, bitext QUADRATIC_GUARD_PAIRS twin).
GAUGE_GUARD_PAIRS = 50_000_000


def gauge_pair_guard(n_queries: int, n_corpus: int, op: str) -> None:
    if n_queries * n_corpus > GAUGE_GUARD_PAIRS:
        raise ValueError(
            f"{op}: {n_queries} queries x {n_corpus} corpus = "
            f"{n_queries * n_corpus} brute pairs exceeds the "
            f"{GAUGE_GUARD_PAIRS} gauge bound — run the gauge on a "
            f"fixed-size query sample (production keeps the sample "
            f"constant as the corpus grows)"
        )


_MAT_ORACLE = f"""
WITH e AS (
  SELECT vec_id, {_DUCK_Q} AS q FROM embeddings
),
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(floor(1000000 * (
           CAST(list_dot_product(CAST(c.q AS DOUBLE[]),
                                 CAST(q.q AS DOUBLE[])) AS DOUBLE)
           / sqrt(CAST(list_dot_product(CAST(c.q AS DOUBLE[]),
                                        CAST(c.q AS DOUBLE[]))
                       AS DOUBLE)
                  * CAST(list_dot_product(CAST(q.q AS DOUBLE[]),
                                          CAST(q.q AS DOUBLE[]))
                         AS DOUBLE)))) AS BIGINT) AS cm_full,
         CAST(floor(1000000 * (
           CAST(list_dot_product(CAST(c.q[1:{_MAT_DIMS}] AS DOUBLE[]),
                                 CAST(q.q[1:{_MAT_DIMS}] AS DOUBLE[]))
                AS DOUBLE)
           / sqrt(CAST(list_dot_product(CAST(c.q[1:{_MAT_DIMS}]
                                             AS DOUBLE[]),
                                        CAST(c.q[1:{_MAT_DIMS}]
                                             AS DOUBLE[]))
                       AS DOUBLE)
                  * CAST(list_dot_product(CAST(q.q[1:{_MAT_DIMS}]
                                               AS DOUBLE[]),
                                          CAST(q.q[1:{_MAT_DIMS}]
                                               AS DOUBLE[]))
                         AS DOUBLE)))) AS BIGINT) AS cm_trunc
  FROM e c, e q
  WHERE q.vec_id % {QUERY_MOD} = 0 AND c.vec_id <> q.vec_id
),
rf AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cm_full DESC, neighbor_id ASC) AS rn
  FROM p
),
rt AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cm_trunc DESC, neighbor_id ASC) AS rn
  FROM p
)
SELECT f.query_id,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS recall_ppm
FROM (SELECT * FROM rf WHERE rn <= {K}) f
LEFT JOIN (SELECT * FROM rt WHERE rn <= {K}) t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY 1
"""


@query("matryoshka_recall_eval", oracle=_MAT_ORACLE)
def matryoshka_recall_eval(spark, sf_dir):
    """Matryoshka-embedding truncation gauge (Kusupati et al. 2022,
    "Matryoshka Representation Learning"; the 2024 serving idiom —
    retrieve with the first m dims, optionally rerank with all):
    per query, top-5 by FULL 64-dim cosine is the truth set and
    top-5 by the first-16-dim PREFIX cosine is the candidate set;
    the per-query overlap is the recall the truncated index would
    ship. Cosines in floor'd integer micros over quantized vectors
    (the clip_pair_gate discipline — one double division over one
    sqrt, identical IEEE order in both engines) with neighbor-id
    tiebreaks, so ranks are engine-exact.

    Like the other recall gauges (lsh/rhp/ivf/pq) the truth leg is
    the labeled brute O(corpus x queries) ceiling, run on the
    vec_id % 50 query sample — production computes the truth on a
    sample exactly like this and ships the truncated index.

    Scale: queries broadcast (nested-loop expected, the
    ann_cosine_topk precedent); the corpus scans once; both rank
    windows are per-query bounded."""
    from advisorydatapipeline_spark.operators.similarity import (
        cosine_q,
        dot_q,
        norm_sq_q,
        quantize,
    )
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("q")
    )
    n_corpus = load(spark, sf_dir, "embeddings").count()
    gauge_pair_guard(
        max(n_corpus // QUERY_MOD, 1), n_corpus, "matryoshka_recall_eval"
    )
    trunc = F.slice(F.col("q"), 1, _MAT_DIMS)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("cq"),
        trunc.alias("ct"),
    )
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        trunc.alias("qt"),
    )
    p = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.floor(
                1_000_000
                * cosine_q(
                    dot_q(F.col("cq"), F.col("qq")),
                    norm_sq_q(F.col("cq")),
                    norm_sq_q(F.col("qq")),
                )
            ).cast("long").alias("cm_full"),
            F.floor(
                1_000_000
                * cosine_q(
                    dot_q(F.col("ct"), F.col("qt")),
                    norm_sq_q(F.col("ct")),
                    norm_sq_q(F.col("qt")),
                )
            ).cast("long").alias("cm_trunc"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cm_full").desc(), F.col("neighbor_id").asc()
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cm_trunc").desc(), F.col("neighbor_id").asc()
    )
    # r15 NOTE: fusing both rank windows into one pass (rn_full +
    # rn_trunc on the same rows, no self-join) was A/B-measured and
    # REJECTED (2.02 -> 2.70 s same box): the separate
    # filter-above-window forms each get WindowGroupLimit per-
    # partition top-K pruning, which the fused form forfeits, and
    # the shared pair scan is already deduped by ReuseExchange.
    f = (
        p.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= K)
        .select("query_id", "neighbor_id")
    )
    t = (
        p.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        f.join(t, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_overlap"),
            F.expr(
                "CAST(sum(COALESCE(hit, 0)) * 1000000 DIV count(*)"
                " AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# --- EMA checkpoint averaging (r14) -----------------------------------

_EMA_T = 8  # checkpoints in the series
_EMA_CH = 64  # parameter channels per shard row
_EMA_SCALE = 1000  # EMA carried in milli-units
_EMA_M1 = 2654435761


def _ema_mix(expr: str, idiv: str) -> str:
    """Double 2^31 mix (the mp3_huffman lesson: vec_id*512 varies the
    HIGH bits, and modular multiplication never diffuses high bits
    downward, so % 2001 needs the second fold)."""
    m1 = f"((({expr}) % 2147483648) * {_EMA_M1} % 2147483648)"
    return (
        f"((({m1} {idiv} 65536 + {m1}) % 2147483648)"
        f" * {_EMA_M1} % 2147483648)"
    )


def _ema_v(ch: str, t: str, idiv: str) -> str:
    return (
        f"({_ema_mix(f'vec_id * 512 + ({ch}) * 8 + ({t})', idiv)}"
        f" % 2001)"
    )


_EMA_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(generate_series(0, {_EMA_CH - 1}), ch ->
           reduce(
             [{_ema_v('ch', '0', '//')} * {_EMA_SCALE}]
               || list_transform(generate_series(1, {_EMA_T - 1}),
                                 t -> {_ema_v('ch', 't', '//')}),
             (acc, x) -> (3 * acc + x * {_EMA_SCALE}) // 4
           )) AS emas
  FROM embeddings
)
SELECT vec_id,
       CAST(list_sum(emas) AS BIGINT) AS ema_sum_milli,
       CAST(list_min(emas) AS BIGINT) AS ema_min_milli,
       CAST(list_max(emas) AS BIGINT) AS ema_max_milli
FROM e
"""


@query("ema_checkpoint_average", oracle=_EMA_ORACLE)
def ema_checkpoint_average(spark, sf_dir):
    """EMA (Polyak-style exponential moving average) checkpoint
    averaging — the standard weight-averaging trick behind EMA
    student/teacher models and stable eval checkpoints: per parameter
    the running average e_t = decay * e_(t-1) + (1-decay) * w_t with
    decay 3/4, folded across an 8-checkpoint series. The per-step
    integer floor (milli-units, non-negative domain so Spark DIV ==
    DuckDB //) makes the SEQUENTIAL fold itself the gated object:
    Spark evaluates it as ``aggregate(sequence(...), init, merge)``
    and the oracle replays the identical fold with DuckDB
    ``reduce`` — a per-step-exact sequential-recurrence gate, the
    first fold-shaped oracle in the registry.

    The checkpoint series is a mix-derived fixture (a real run reads
    T checkpoint shards and zips them); per shard row the whole
    64-channel fold is MAP-SIDE — no shuffle anywhere, embarrassingly
    parallel over parameter shards at 100 TB (the realistic layout:
    checkpoints sharded by parameter range, one row per shard per
    channel block)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id")
    emas = F.expr(
        f"transform(sequence(0, {_EMA_CH - 1}), ch -> "
        f"aggregate(sequence(1, {_EMA_T - 1}), "
        f"CAST({_ema_v('ch', '0', 'DIV')} * {_EMA_SCALE} AS BIGINT), "
        f"(acc, t) -> (3 * acc + {_ema_v('ch', 't', 'DIV')}"
        f" * {_EMA_SCALE}) DIV 4))"
    )
    return emb.select("vec_id", emas.alias("emas")).select(
        "vec_id",
        F.expr(
            "CAST(aggregate(emas, CAST(0 AS BIGINT),"
            " (a, x) -> a + x) AS BIGINT)"
        ).alias("ema_sum_milli"),
        F.expr("CAST(array_min(emas) AS BIGINT)").alias(
            "ema_min_milli"
        ),
        F.expr("CAST(array_max(emas) AS BIGINT)").alias(
            "ema_max_milli"
        ),
    )


# --- gradient noise scale (McCandlish et al. 2018; r15) ---------------

_GNS_QUANT = 100  # coarser than the cosine family: keeps n*S2 < 2^53
_GNS_DOUBLE_SAFE = 1 << 53  # exact-integer DOUBLE domain

_GNS_ORACLE = f"""
WITH q AS (
  SELECT label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_GNS_QUANT}) AS BIGINT))
           AS v
  FROM embeddings
),
s2 AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(list_dot_product(CAST(v AS DOUBLE[]),
                                   CAST(v AS DOUBLE[]))) AS BIGINT)
           AS s2
  FROM q GROUP BY 1
),
dims AS (
  SELECT label, u.i AS pos, CAST(sum(v[u.i]) AS BIGINT) AS sv
  FROM q, unnest(generate_series(1, len(v))) AS u(i)
  GROUP BY 1, 2
),
t2 AS (
  SELECT label, CAST(sum(sv * sv) AS BIGINT) AS t2
  FROM dims GROUP BY 1
)
SELECT s2.label,
       s2.n AS n_examples,
       s2.s2 AS sum_sq_norms,
       t2.t2 AS sum_vec_sq,
       s2.n * s2.s2 - t2.t2 AS var_num,
       CASE WHEN s2.n >= 2 AND t2.t2 > 0 THEN
         CAST(floor(1000000.0
           * (CAST(s2.n AS DOUBLE) * CAST(s2.n * s2.s2 - t2.t2 AS DOUBLE))
           / (CAST(s2.n - 1 AS DOUBLE) * CAST(t2.t2 AS DOUBLE)))
           AS BIGINT)
       ELSE NULL END AS gns_micro
FROM s2 JOIN t2 USING (label)
"""


@query("gradient_noise_scale", oracle=_GNS_ORACLE)
def gradient_noise_scale(spark, sf_dir):
    """Gradient noise scale B_simple = tr(Sigma) / |G|^2 (McCandlish
    et al. 2018, "An Empirical Model of Large-Batch Training") — the
    critical-batch-size estimator every large training run uses to
    pick its data parallelism. Per-example gradients are stood in by
    the embedding vectors (quantized integers), grouped per label
    (per-task GNS):

        tr(Sigma) = (S2 - T2/n) / (n-1)    |G|^2 = T2 / n^2
        GNS = n * (n*S2 - T2) / ((n-1) * T2)

    with S2 = sum of per-example squared norms (pure map-side) and
    T2 = squared norm of the per-dimension TOTAL sum. Both are exact
    BIGINTs; the single final division runs in DOUBLE with
    integer-valued operands below 2^53 (IEEE-identical in both
    engines, the cosine_q discipline) and floors to micro units.
    Labels with n < 2 or a zero mean direction emit NULL.

    Scale (100 TB): S2 collapses map-side to one row per label; T2's
    per-dimension sums are a (label, pos) partial-agg shuffle of
    64 * n fixed-width rows that combines to labels x dims rows —
    vectors never shuffle whole. The 2^53 exactness domain is
    GUARDED in-plan (division-form: S2 vs 2^53 DIV n and T2
    directly), raising with the rescale remediation rather than
    silently losing ulps."""
    from advisorydatapipeline_spark.queries.helpers import load as _load

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x * _GNS_QUANT).cast("long"),
        ).alias("v"),
    )
    s2 = q.select(
        "label",
        F.aggregate(
            F.transform("v", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nsq"),
    ).groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nsq").cast("long").alias("s2"),
    )
    dims = q.select(
        "label", F.posexplode("v").alias("pos", "val")
    ).groupBy("label", "pos").agg(
        F.sum("val").cast("long").alias("sv")
    )
    t2 = dims.groupBy("label").agg(
        F.sum(F.col("sv") * F.col("sv")).cast("long").alias("t2")
    )
    return (
        s2.join(t2, "label")
        .select(
            "label",
            F.col("n").alias("n_examples"),
            F.col("s2").alias("sum_sq_norms"),
            F.col("t2").alias("sum_vec_sq"),
            F.expr("n * s2 - t2").alias("var_num"),
            F.expr(
                f"CASE WHEN s2 > {_GNS_DOUBLE_SAFE} DIV n"
                f" OR t2 > {_GNS_DOUBLE_SAFE} THEN "
                f"CAST(raise_error('gradient_noise_scale: moments "
                f"exceed the 2^53 exact-DOUBLE domain; reduce "
                f"_GNS_QUANT') AS BIGINT) "
                f"WHEN n >= 2 AND t2 > 0 THEN "
                f"CAST(floor(1000000.0D"
                f" * (CAST(n AS DOUBLE) * CAST(n * s2 - t2 AS DOUBLE))"
                f" / (CAST(n - 1 AS DOUBLE) * CAST(t2 AS DOUBLE)))"
                f" AS BIGINT) ELSE NULL END"
            ).alias("gns_micro"),
        )
    )
