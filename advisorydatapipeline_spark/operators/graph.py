"""Distributed graph operators: connected components, PageRank, BFS,
k-core peeling and label propagation.

Connected components is the missing step between near-dup PAIRS and
dedup GROUPS: pairs from MinHash/SimHash/Jaccard are edges of a
similarity graph, and the unit of deduplication is its connected
component (keep one doc per component).

Every operator is a Pregel-style loop expressed as DataFrame joins,
windows and aggregates over bare node ids (document payloads never
enter the graph). Where a loop joins a per-round side against the
edges, the loop-invariant edge side is built once by
:func:`_loop_edges` — pre-partitioned on the per-round join key and
materialized — so only the small per-round side shuffles or
broadcasts. ``localCheckpoint`` truncates lineage each round; without
it the plan doubles per iteration and the driver, not the cluster,
becomes the bottleneck. It is the only lineage cut, and it writes to
executor block storage, so a lost executor fails the job. The
converging operators (connected components, k-core) share one
converge-or-raise loop, :func:`_fixpoint`: the driver only reads a
scalar witness observed on each round's lineage cut, never row data.
Every loop labels its rounds' Spark jobs ``<op>:<round>``
(:func:`_rounds`).

Connected components is star contraction: alternating large-star and
small-star rounds over canonical ``(lo, hi)`` edge pairs (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014). It
rewrites the edge list until each component is one star centred on
its minimum node, in O(log^2 n) rounds (about log n observed), and
never joins a table with itself.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

#: Broadcast-pin bound for the per-iteration small side (rank/label/
#: alive/frontier tables — all provably <= node count). Two-long rows
#: cost ~50 B each in a broadcast HashedRelation, so 4M rows is a
#: ~200 MB broadcast — comfortably inside a normal executor and far
#: above the 10 MB autoBroadcastJoinThreshold whose size-ESTIMATE
#: misses on a mid-plan aggregate caused the measured x1->x2 shuffle
#: cliff (k-core 14.9 -> 106.7 MB: AQE flips broadcast -> sort-merge
#: and every round starts paying a label-side exchange + a sort).
#: Above the bound (billion-node graphs, where a broadcast would OOM
#: every executor) the fallback is an EXPLICIT shuffle_hash hint: the
#: loop-invariant edge side is already persisted pre-partitioned on
#: the join key so it never re-exchanges, and the small side shuffles
#: linearly — sort-merge is never the plan.
GRAPH_BROADCAST_MAX_ROWS = 4_000_000


def _iter_side(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Pin the join strategy for a per-iteration small side.

    ``n_rows`` is a driver-side scalar UPPER BOUND on the side's row
    count (node count, or the cheaper edge count where the node count
    isn't already known) — measured once per operator call, never per
    round. Within :data:`GRAPH_BROADCAST_MAX_ROWS` the side is pinned
    ``F.broadcast`` (zero shuffle per round); beyond it, or when the
    bound is unknown, ``shuffle_hash`` keeps the hash-join family
    without sorting the big persisted side."""
    if n_rows is not None and n_rows <= GRAPH_BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate plan lineage between iterations with
    ``localCheckpoint``: the rows go to executor block storage, so a
    lost executor fails the job rather than replaying the loop."""
    return df.localCheckpoint()


def _observed_cut(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, dict]:
    """Cut ``df``'s lineage and return it with ``metrics`` — aggregate
    columns observed while the cut materializes, so reading them costs
    no extra job."""
    obs = Observation(name)
    return _cut_lineage(df.observe(obs, *metrics)), obs.get


@contextmanager
def _rounds(df: DataFrame, op: str, *, owned: bool = False):
    """Scope of one operator's loop. The yielded ``mark(i)`` labels
    the Spark jobs that follow ``<op>:<i>`` (the
    ``spark.job.description`` local property, shown per job in the UI
    and the event log). On every exit the caller's description is
    restored and, when ``owned``, the persisted ``df`` the rounds read
    is unpersisted."""
    sc = df.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    try:
        yield lambda i: sc.setLocalProperty(
            "spark.job.description", f"{op}:{i}"
        )
    finally:
        sc.setLocalProperty("spark.job.description", caller)
        if owned:
            df.unpersist()


def _fixpoint(step, state, witness, prev, max_rounds, name):
    """The converge-or-raise loop: ``state = step(i, state)`` each
    round, lineage-cut with the scalar ``witness`` aggregate observed
    on the cut, until the witness repeats its previous value (``prev``
    seeds round 0; ``None`` never repeats). The witness must be
    strictly monotone while the state changes, so a repeat proves the
    fixpoint. Hitting ``max_rounds`` RAISES: a truncated run returns
    plausible but WRONG results."""
    with _rounds(state, name) as mark:
        for i in range(max_rounds):
            mark(i)
            state, seen = _observed_cut(
                step(i, state), f"{name}_{i}", witness.alias("w")
            )
            if seen["w"] == prev:
                return state
            prev = seen["w"]
    raise RuntimeError(
        f"{name} did not converge to a fixpoint within {max_rounds} "
        "rounds — raise the round cap (a truncated run returns "
        "WRONG results, not approximate ones)"
    )


def _loop_edges(
    edges: DataFrame, src: str, dst: str, key: str
) -> DataFrame:
    """The loop-invariant edge frame ``(a, b)``: both orientations of
    ``src``/``dst``, deduplicated and hash-partitioned on the
    per-round join key ``key``. Repartitioning BEFORE the dedup lets
    hashpartitioning(key) satisfy the dedup aggregate's
    ClusteredDistribution((a, b)), so the edge set crosses one
    exchange. The caller persists or lineage-cuts it once, and every
    round reuses that partitioning."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .repartition(key)
        .dropDuplicates()
    )


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    max_iter: int = 100,
) -> DataFrame:
    """Components of the undirected graph given by (src, dst) pairs.

    Returns (node, component) where component is the minimum node id
    reachable from ``node``; every node appearing in any edge gets a
    row, so a node whose only edge is a self-loop is a component of
    its own. Deterministic: the result is a function of the edge set.

    Star contraction over canonical ``(lo, hi)`` rows, ``lo <= hi``.
    The rows start as each edge's canonical pair plus a self row
    ``(x, x)`` for each endpoint. Each round is one large-star and one
    small-star phase, each one window over a single partition key, so
    no node's neighbour list ever lands in one row:

    - large star: ``m(u)`` is the least id among ``u`` and all its
      neighbours; each row ``(lo, hi)`` becomes ``(m(lo), hi)``.
    - small star: ``m(hi)`` is the least ``lo`` among the rows ending
      at ``hi``; a row whose ``lo`` is not ``m(hi)`` becomes
      ``(m(hi), lo)``, and the row ``(m(hi), hi)`` stays.
    - duplicate rows are dropped between the phases.

    Both phases preserve every component, and every node keeps at
    least one row ending at it. Kiveris et al. bound the alternation
    at O(log^2 n) rounds; about log n are observed (a 300-node
    ascending path takes 10). More than ``max_iter`` rounds RAISES
    rather than returning split components.

    Convergence is CHECKED, not assumed. The witness is
    ``(count(*), sum(lo + hi))`` in ``decimal(38,0)``, and it is
    strictly monotone:

    - in both phases each input row maps to one row whose endpoints
      are no larger;
    - the dedup can only drop rows;
    - so the count never rises, and when it holds the sum can only
      hold if every row mapped to itself. An equal witness after a
      round therefore proves that neither phase changed the row set,
      and that it has no duplicates.

    A set fixed by both phases is a star forest centred on each
    component's minimum. By the small star every node ends exactly
    one row. By the large star no ``lo`` has a smaller neighbour, so
    the row ending at a centre is its self row and every other row
    joins a leaf to a centre smaller than it. The ``lo`` of the row
    ending at a node is therefore its component, with no aggregate.
    """
    # each edge's canonical row plus a self row per endpoint, from one
    # scan of the caller's plan
    lo, hi = F.least(src, dst), F.greatest(src, dst)
    rows = edges.select(F.inline(F.array(*(
        F.struct(x.alias("lo"), y.alias("hi"))
        for x, y in ((lo, hi), (lo, lo), (hi, hi))
    ))))
    witness = F.expr(
        "struct(count(*), sum(CAST(lo AS DECIMAL(38,0)) + "
        "CAST(hi AS DECIMAL(38,0))))"
    )

    def star(_i: int, e: DataFrame) -> DataFrame:
        # large star over both orientations, so the window sees every
        # neighbour of lo
        large = (
            e.selectExpr(
                "inline(array(struct(lo, hi), struct(hi AS lo, lo AS hi)))"
            )
            .withColumn("m", F.min("hi").over(Window.partitionBy("lo")))
            .where("hi >= lo")
            .select(F.least("lo", "m").alias("lo"), "hi")
        )
        # small star; repartitioning before the dedup lets its
        # aggregate and the window share one exchange
        return (
            large.repartition("hi")
            .dropDuplicates()
            .withColumn("m", F.min("lo").over(Window.partitionBy("hi")))
            .selectExpr("m AS lo", "IF(lo = m, hi, lo) AS hi")
        )

    stars = _fixpoint(
        star, rows, witness, None, max_iter, "connected_components"
    )
    return stars.selectExpr("hi AS node", "lo AS component")


PR_SCALE = 1_000_000  # rank fixed-point scale
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as a ratio


def pagerank_quantized(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected graph, computed in
    pure fixed-point BIGINT arithmetic.

    rank_0(v)   = PR_SCALE
    rank_k+1(v) = (1-d)*PR_SCALE + sum_in  d * rank_k(u) DIV deg(u)
    with d applied as the exact integer ratio 85/100 *inside* the
    floor: contribution = (85 * rank_k(u)) DIV (100 * deg(u)).

    Why integers: float PageRank sums are association-order-dependent
    — unreproducible across partitionings and engines. The fixed-point
    form is bit-identical everywhere (an oracle replays the loop as
    unrolled SQL CTEs), at the cost of a bounded rounding bias
    (< deg ulps per node per iteration).

    Scale design: per iteration one hash join of each node's
    contribution against the edge list on the source key and one
    partial-aggregated sum on the destination key; node payloads are
    a few longs only. Each node's degree rides the rank table: in the
    deduplicated both-orientation edge frame a node's in-degree
    equals its out-degree, so every round's aggregate recounts it at
    no extra pass. Fixed ``iters`` (no
    convergence collect) keeps the job graph static — the driver
    never inspects data.
    """
    und = _loop_edges(edges, src, dst, "a").persist()
    base = (1 * PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    with _rounds(und, "pagerank_quantized", owned=True) as mark:
        # und is already hash-partitioned by "a", so this aggregate adds
        # no exchange
        ranks = und.groupBy("a").agg(
            F.lit(PR_SCALE).cast("long").alias("rank"),
            F.count(F.lit(1)).cast("long").alias("deg"),
        )
        # node count measured ONCE (the count also fills the und cache):
        # the rank table holds exactly n_nodes rows every round, so one
        # scalar pins the per-iteration join strategy for the whole loop
        n_nodes = ranks.count()
        for i in range(iters):
            mark(i)
            share = ranks.select(
                "a",
                F.expr(
                    f"({PR_DAMP_NUM} * rank) DIV ({PR_DAMP_DEN} * deg)"
                ).alias("c"),
            )
            ranks = (
                und.join(_iter_side(share, n_nodes), "a")
                .groupBy(F.col("b").alias("a"))
                .agg(
                    (F.lit(base).cast("long") + F.sum("c")).alias("rank"),
                    F.count(F.lit(1)).cast("long").alias("deg"),
                )
            )
            # lineage grows by one join + one agg per round; cutting it
            # EVERY round pays an eager materialization each time. Cut
            # every second round — deep enough to stay cheap, shallow
            # enough that the plan never compounds
            if i % 2 == 1 and i != iters - 1:
                ranks = _cut_lineage(ranks)
    return ranks.select(F.col("a").alias("node"), "rank")


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """Frontier BFS: minimum hop count from any seed to every
    reachable node within ``max_hops``.

    ``edges`` is directed ``(a, b)`` — pass both orientations for an
    undirected graph. ``seeds`` is a one-column ``(node)`` relation
    (a DataFrame, not a collected list: seed selection stays a
    distributed plan).

    Node-centric, not path-centric: each round joins only the NEW
    frontier against the adjacency (pre-partitioned on ``a`` and
    persisted once — the loop-invariant side never reshuffles), then
    anti-joins the visited set so a node expands exactly once. Path
    enumeration — what a naive recursive self-join does — grows
    multiplicatively with hop count; the frontier here is bounded by
    |V| regardless of edge density, which is what makes BFS feasible
    on a 100 TB edge list.

    Every hop's LEVEL is lineage-cut eagerly: the frontier feeds both
    the next hop's join AND the visited set, so a lazy frontier would
    embed every prior hop's join+distinct+anti subtree in each later
    hop. One bounded materialization per hop keeps each job
    frontier-sized, the anti-join side a flat union of materialized
    levels, and the plan depth constant in ``max_hops``. The level's
    row count rides that cut, and the loop stops at the first empty
    frontier rather than paying a checkpoint per remaining hop.
    """
    adj = edges.repartition("a").persist()
    with _rounds(adj, "bfs_hops", owned=True) as mark:
        mark(0)
        level = _cut_lineage(
            seeds.select(
                F.col(seeds.columns[0]).alias("node"),
                F.lit(0).cast("int").alias("hops"),
            )
        )
        levels = [level]
        for h in range(1, max_hops + 1):
            mark(h)
            # visited = flat union of already-materialized levels — a
            # cheap scan, never a recomputation
            visited = levels[0].select("node")
            for lv in levels[1:]:
                visited = visited.unionByName(lv.select("node"))
            # deliberately NOT _iter_side/broadcast: broadcasting the
            # frontier re-executes its plan as a separate collect job per
            # hop (measured A/B at x4: broadcast 391 MB / 14-20 s vs
            # pinned shuffle_hash 258 MB / ~10 s). The shuffle_hash hint
            # still keeps the hash-join family — the persisted adj side
            # is never re-exchanged or sorted
            level, seen = _observed_cut(
                level.hint("shuffle_hash")
                .join(adj, level["node"] == adj["a"])
                .select(F.col("b").alias("node"))
                .distinct()
                .join(visited.hint("shuffle_hash"), "node", "left_anti")
                .withColumn("hops", F.lit(h).cast("int")),
                f"bfs_level_{h}",
                F.count(F.lit(1)).alias("n"),
            )
            if seen["n"] == 0:
                break
            levels.append(level)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def k_core_peel(
    und: DataFrame,
    ks: DataFrame,
    *,
    max_rounds: int = 12,
    n_edges: int | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Simultaneous k-core peeling over an undirected edge list
    ``(a, b)``: each round recomputes degrees on the surviving
    subgraph and drops every node below ``k`` (``ks``: one-row
    DataFrame with column ``k`` — broadcast into the degree filter).
    Returns the surviving edges.

    Runs in :func:`_fixpoint` with the surviving-edge count as the
    witness: edge counts only decrease under peeling, so an unchanged
    count proves the fixpoint, and hitting ``max_rounds`` while still
    changing RAISES rather than returning a too-large "core". Per
    round: one partial-agg degree count + two hash semi-joins that
    SHRINK the edge list.

    ``n_edges`` / ``n_nodes``: caller-supplied exact counts of the
    input edge rows and distinct ``a`` values. When BOTH are given
    (and the caller passes an already-materialized ``und``), the
    initial observe + checkpoint job that would count them is
    skipped."""
    if n_edges is not None and n_nodes is not None:
        edges, prev_n, alive_bound = und, int(n_edges), int(n_nodes)
    else:
        edges, seen = _observed_cut(
            und,
            "k_core_peel_seed",
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("a").alias("nodes"),
        )
        prev_n = seen["n"]
        # the alive side only ever SHRINKS, so the initial node count
        # bounds every round's broadcast decision; approx_count_
        # distinct's ~5% rsd gets a 1.1x safety margin — fine for a
        # strategy threshold with 2x headroom
        alive_bound = int(seen["nodes"] * 1.1)

    def peel(_i: int, edges: DataFrame) -> DataFrame:
        # the degree-agg subtree appears in BOTH semi-joins of one
        # plan; exchange reuse dedupes it, so no cache is needed
        alive = (
            edges.groupBy("a")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .crossJoin(F.broadcast(ks))
            .filter(F.col("c") >= F.col("k"))
            .select("a")
        )
        return edges.join(
            _iter_side(alive.withColumnRenamed("a", "xa"), alive_bound),
            F.col("a") == F.col("xa"),
            "left_semi",
        ).join(
            _iter_side(alive.withColumnRenamed("a", "ya"), alive_bound),
            F.col("b") == F.col("ya"),
            "left_semi",
        )

    return _fixpoint(
        peel, edges, F.count(F.lit(1)), prev_n, max_rounds, "k_core_peel"
    )


def label_propagation(und: DataFrame, rounds: int) -> DataFrame:
    """Synchronous deterministic label propagation over an undirected
    edge list ``(a, b)``: each round every node adopts the majority
    label among its neighbors (votes desc, min label on ties).
    Returns (a, lab) after exactly ``rounds`` rounds — fixed rounds
    IS the algorithm (synchronous LPA oscillates on bipartite
    structure rather than converging; round-parity labels are
    deterministic either way). Per round: one hash join of the edge
    list against the label table (the edge side is pre-partitioned
    on the join key ONCE and persisted, so only the small label side
    shuffles per round) + one vote count + a ``max_by`` top-1
    aggregate (votes desc, min lab on ties via struct ordering) —
    partial-agg friendly, no per-round window sort. Bounded-state
    iteration, lineage cut per round.

    Either orientation of an edge suffices: the edge frame adds the
    reverse of every row and drops duplicate ``(a, b)`` rows (which
    would double votes), so callers need not symmetrize or
    pre-distinct."""
    undp = _loop_edges(und, "a", "b", "b").persist()
    with _rounds(undp, "label_propagation", owned=True) as mark:
        labels = undp.select("a").distinct().withColumn("lab", F.col("a"))
        # node count measured once (warms the undp persist); the label
        # table holds exactly n_nodes rows every round
        n_nodes = labels.count()
        for i in range(rounds):
            mark(i)
            votes = (
                undp.join(
                    _iter_side(
                        labels.select(F.col("a").alias("b"), F.col("lab")),
                        n_nodes,
                    ),
                    "b",
                )
                .groupBy("a", "lab")
                .agg(F.count(F.lit(1)).cast("long").alias("votes"))
            )
            labels = _cut_lineage(
                votes.groupBy("a").agg(
                    F.expr(
                        "max_by(lab, named_struct('v', votes, 'l', -lab))"
                    ).alias("lab")
                )
            )
    return labels
