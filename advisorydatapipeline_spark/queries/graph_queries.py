"""Graph-analytics queries beyond connected components.

``pagerank_suppliers``: fixed-point integer PageRank over the
customer<->supplier interaction graph (edge = customer ordered from
supplier). The DuckDB oracle replays the iteration loop as unrolled
CTEs — every intermediate rank is BIGINT, so three engine-independent
iterations land on identical values (float PageRank cannot be
value-checked across engines; see operators/graph.pagerank_quantized).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from advisorydatapipeline_spark.operators.graph import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_SCALE,
    bfs_hops,
    pagerank_quantized,
)
from advisorydatapipeline_spark.queries.helpers import load
from advisorydatapipeline_spark.registry import query

# customer and supplier key spaces overlap numerically; namespace
# supplier nodes into a disjoint id range
SUPP_OFFSET = 10_000_000
PR_ITERS = 3
_BASE = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN


def _iter_cte(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT u.b AS a,
         CAST({_BASE} + sum(({PR_DAMP_NUM} * r.rank)
                            // ({PR_DAMP_DEN} * d.deg)) AS BIGINT) AS rank
  FROM und u JOIN {prev} r ON u.a = r.a JOIN deg d ON u.a = d.a
  GROUP BY u.b
)"""


@query(
    "pagerank_suppliers",
    oracle=f"""
WITH e0 AS (
  SELECT DISTINCT o.o_custkey AS src,
                  l.l_suppkey + {SUPP_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
und AS (
  SELECT src AS a, dst AS b FROM e0
  UNION
  SELECT dst AS a, src AS b FROM e0
),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
r0 AS (SELECT a, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg),
{_iter_cte('r0', 'r1')},
{_iter_cte('r1', 'r2')},
{_iter_cte('r2', 'r3')}
SELECT a AS node, rank FROM r3
""",
)
def pagerank_suppliers(spark, sf_dir):
    """Integer PageRank (3 fixed iterations, damping 85/100) over the
    customer-supplier order graph. Iterative DataFrame loop with
    per-round localCheckpoint; ranks/degrees are the only shuffled
    payloads. Undirected + namespaced nodes => no dangling mass."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    return pagerank_quantized(edges, "src", "dst", iters=PR_ITERS)


@query(
    "neardup_triangles",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(ts) - 2),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
  FROM toks WHERE len(ts) >= 3
),
hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 100
),
shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  WHERE sh.shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
shh AS (
  SELECT doc_id,
         (('0x' || substr(md5(shingle), 1, 15))::BIGINT) AS sh64
  FROM shc
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM shh a JOIN shh b ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
e AS (
  SELECT p.id_a AS u, p.id_b AS v
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.id_a
  JOIN sizes sb ON sb.doc_id = p.id_b
  WHERE p.shared / CAST(sa.n + sb.n - p.shared AS DOUBLE) >= 0.4
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
roles AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM roles GROUP BY 1
""",
)
def neardup_triangles(spark, sf_dir):
    """Per-doc triangle counts over the near-dup PAIR graph — the
    cluster-cohesion signal (a doc in many triangles sits in a tight
    clone cluster; a bridge doc in none may be a false merge). Edges
    are oriented u < v so each triangle materializes exactly once as
    (a<b<c); counting is three equi-joins on edge endpoints. The
    near-dup graph is SPARSE BY CONSTRUCTION (df-capped shingle join
    + Jaccard floor), which is what makes distributed triangle
    enumeration tractable — the same query on a dense co-occurrence
    graph (e.g. supplier co-order) is inherently cubic and was
    rejected here after measuring a 34s blowup at sf0.1. At larger
    scale the orientation would be by degree rather than id."""
    from advisorydatapipeline_spark.operators.dedup import (
        jaccard_pairs,
        shingle_index,
    )
    from advisorydatapipeline_spark.queries.dedup_queries import (
        MAX_DOC_FREQ,
        MIN_JACCARD,
    )

    docs = load(spark, sf_dir, "documents")
    idx = shingle_index(
        docs, "doc_id", "text", 3, max_doc_freq=MAX_DOC_FREQ
    ).persist()
    edges = (
        jaccard_pairs(idx, "doc_id", MIN_JACCARD)
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .persist()
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    roles = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return roles.groupBy(F.col("node").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_triangles")
    )


BFS_MAX_HOPS = 4


@query(
    "bfs_reachable_hops",
    oracle=f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT o.o_custkey AS src,
                  l.l_suppkey + {SUPP_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
),
und AS (
  SELECT src AS a, dst AS b FROM e0
  UNION
  SELECT dst AS a, src AS b FROM e0
),
bfs AS (
  SELECT (SELECT min(src) FROM e0) AS node, 0 AS hop
  UNION
  SELECT u.b AS node, bfs.hop + 1 AS hop
  FROM bfs JOIN und u ON u.a = bfs.node
  WHERE bfs.hop < {BFS_MAX_HOPS}
)
SELECT node, CAST(min(hop) AS INT) AS hops
FROM bfs GROUP BY node
""",
)
def bfs_reachable_hops(spark, sf_dir):
    """Shortest hop distance (BFS) from the lowest-keyed customer
    with an URGENT order to every node within {4} hops of the
    customer<->supplier trade graph. Spark side is frontier BFS
    (operators/graph.bfs_hops): per-round frontier∶adjacency hash
    join + visited anti-join — frontier bounded by |V|, never by
    path count. The DuckDB oracle is an independent recursive CTE
    whose UNION dedup gives the same min-hop fix-point; min(hop)
    per node reconciles the two formulations."""
    e0 = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .join(
            load(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(SUPP_OFFSET)).alias("dst"),
        )
        .distinct()
    )
    # r16: no .distinct() on the union — e0 is already distinct and
    # the two orientations cannot collide (src < SUPP_OFFSET <= dst
    # by construction), so the union IS duplicate-free and the old
    # distinct was a full extra exchange + agg of the edge set before
    # bfs_hops' own repartition("a") (guide §2.4). The DuckDB
    # oracle's UNION dedups on its side; results are identical.
    und = e0.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionByName(
        e0.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    seeds = e0.agg(F.min("src").alias("node"))
    return bfs_hops(und, seeds, BFS_MAX_HOPS)


# --- k-core decomposition (iterative peeling) -----------------------

# Hard cap on peel rounds: Spark loops until the surviving-edge
# count stops changing (a true fixpoint witness) and RAISES if the
# cap is hit while still changing — the oracle unrolls exactly
# KCORE_MAX_ROUNDS rounds, which equals the fixpoint whenever Spark
# succeeded, because peel rounds past the fixpoint are no-ops.
KCORE_MAX_ROUNDS = 12


def _kcore_oracle() -> str:
    peel = []
    prev = "p0"
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        peel.append(f"""
r{i} AS (
  SELECT e.a, CAST(count(*) AS BIGINT) AS c
  FROM und e JOIN {prev} x ON e.a = x.a JOIN {prev} y ON e.b = y.a
  GROUP BY e.a
),
p{i} AS MATERIALIZED (
  SELECT a FROM r{i} WHERE c >= (SELECT k FROM ks)
)""")
        prev = f"p{i}"
    return f"""
WITH e0 AS (
  SELECT DISTINCT o.o_custkey AS src,
                  l.l_suppkey + {SUPP_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
und AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e0
  UNION
  SELECT dst AS a, src AS b FROM e0
),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
ks AS (
  SELECT GREATEST(4, CAST(sum(deg) AS BIGINT) // count(*) // 3) AS k
  FROM deg
),
p0 AS MATERIALIZED (SELECT a FROM deg),
{",".join(peel)}
SELECT e.a AS node_id, CAST(count(*) AS BIGINT) AS core_degree
FROM und e
JOIN p{KCORE_MAX_ROUNDS} x ON e.a = x.a
JOIN p{KCORE_MAX_ROUNDS} y ON e.b = y.a
GROUP BY e.a
"""


@query("k_core_suppliers", oracle=_kcore_oracle())
def k_core_suppliers(spark, sf_dir):
    """k-core decomposition of the customer<->supplier graph by
    simultaneous peeling: each round recomputes degrees over the
    surviving subgraph and drops every node below k (k = mean
    degree / 3, derived from the data so the cut is meaningful at
    every SF — this co-purchase graph has a sharp core phase
    transition, so an aggressive fixed k would empty it at small
    SF). The k-core is THE density filter for entity graphs — the
    dense kernel that survives is where co-purchase structure is
    real rather than incidental.

    Spark loops until a CONVERGENCE WITNESS fires: the surviving-edge
    count per round, observed via ``observe()`` riding the lineage-cut
    materialization (zero extra jobs). Edge counts only decrease under
    peeling, so an unchanged count is a proof of fixpoint; hitting
    KCORE_MAX_ROUNDS while still changing RAISES rather than returning
    a silently-too-large "core" (the same converge-or-RAISE contract
    as connected_components — the oracle unrolls the identical rounds,
    so the parity gate alone structurally cannot detect truncation).
    The oracle unrolls exactly KCORE_MAX_ROUNDS rounds; rounds past
    the fixpoint are idempotent, so whenever Spark succeeds the two
    agree. Per round: one partial-agg degree count + two hash
    semi-joins that SHRINK the edge list (the edge set is the
    iterating, lineage-cut state) — the same bounded-state iteration
    shape as the CC/BFS/PageRank siblings in operators/graph.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    from advisorydatapipeline_spark.operators.graph import (
        _cut_lineage,
        _loop_edges,
        k_core_peel,
    )

    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    # cut once so neither the k computation nor the peel re-derives
    # the join+distinct; the checkpoint keeps hash(a), which every
    # peel round's degree aggregate (groupBy("a")) reuses with no
    # further exchange (broadcast semi-joins preserve the edge side's
    # partitioning round over round)
    und = _cut_lineage(_loop_edges(e0, "src", "dst", "a"), False)
    deg0 = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # the ks aggregate already scans every degree row, so the exact
    # edge/node counts ride the SAME 1-row cut and k_core_peel skips
    # its own counting job
    stats = _cut_lineage(
        deg0.agg(
            F.greatest(
                F.lit(4).cast("long"),
                F.expr("CAST(sum(c) AS BIGINT) DIV count(*) DIV 3"),
            ).alias("k"),
            F.sum("c").cast("long").alias("n_edges"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        ),
        False,
    )
    srow = stats.first()
    edges = k_core_peel(
        und,
        stats.select("k"),
        max_rounds=KCORE_MAX_ROUNDS,
        n_edges=int(srow["n_edges"] or 0),
        n_nodes=int(srow["n_nodes"] or 0),
    )
    return (
        edges.groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("a").alias("node_id"), "core_degree")
    )


# --- label propagation communities (synchronous majority) -----------

LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
v{i} AS (
  SELECT e.a, l.lab, CAST(count(*) AS BIGINT) AS votes
  FROM und e JOIN {prev} l ON l.a = e.b
  GROUP BY e.a, l.lab
),
l{i} AS (
  SELECT a, lab FROM (
    SELECT a, lab, row_number() OVER (
      PARTITION BY a ORDER BY votes DESC, lab ASC
    ) AS rn FROM v{i}
  ) WHERE rn = 1
)""")
        prev = f"l{i}"
    return f"""
WITH e0 AS (
  SELECT DISTINCT o.o_custkey AS src,
                  l.l_suppkey + {SUPP_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
und AS (
  SELECT src AS a, dst AS b FROM e0
  UNION
  SELECT dst AS a, src AS b FROM e0
),
l0 AS (SELECT DISTINCT a, a AS lab FROM und),
{",".join(rounds)}
SELECT lab AS community_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(a) AS BIGINT) AS min_member,
       CAST(sum(CASE WHEN a < {SUPP_OFFSET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_customers
FROM l{LPA_ROUNDS}
GROUP BY lab
"""


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark, sf_dir):
    """Synchronous label-propagation COMMUNITY detection on the
    customer<->supplier graph: each round every node adopts the
    majority label among its neighbors (votes desc, min label on
    ties — deterministic, unlike classic randomized LPA). Communities
    are dense neighborhoods, NOT connected components — one giant
    component typically fragments into many communities, which is
    what makes LPA a partitioning/locality signal where CC is only a
    reachability one. Fixed rounds in both engines (synchronous LPA
    oscillates on bipartite structure rather than converging, so a
    fixed budget IS the algorithm here; the round-parity labels are
    deterministic either way).

    Per round: one hash join of the edge list against the label
    table + one (node, label) vote count + one top-1 window — the
    same bounded-iteration shape as pagerank/k-core, lineage cut per
    round."""
    from advisorydatapipeline_spark.operators.graph import (
        label_propagation,
    )

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    # label_propagation adds the reverse orientation and dedups
    labels = label_propagation(e0.toDF("a", "b"), LPA_ROUNDS)
    return labels.groupBy(F.col("lab").alias("community_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("a").cast("long").alias("min_member"),
        F.sum((F.col("a") < SUPP_OFFSET).cast("long"))
        .cast("long")
        .alias("n_customers"),
    )
