"""Connected-components operator tests."""

from __future__ import annotations

from advisorydatapipeline_spark.operators.graph import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df, "id_a", "id_b").collect()
    return {r.node: r.component for r in rows}


def test_chain_triangle_and_pair(spark):
    # chain 1-2-3-4-5, triangle 10-11-12 (+chord), isolated pair 20-21
    got = _cc(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
    )
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_reversed_and_duplicate_edges(spark):
    got = _cc(spark, [(7, 3), (3, 7), (7, 3), (9, 7)])
    assert got == {3: 3, 7: 3, 9: 3}


def test_long_chain_converges(spark):
    n = 40  # deeper than any plausible near-dup cluster
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert set(got.values()) == {0} and len(got) == n + 1


def test_pagerank_quantized_matches_python_replay(spark):
    """Integer PageRank on a path graph a-b-c: replay the exact
    fixed-point recurrence in Python and compare values."""
    from pyspark.sql import Row

    from advisorydatapipeline_spark.operators.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
        pagerank_quantized,
    )

    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3)]
    )
    got = {
        r.node: r.rank
        for r in pagerank_quantized(edges, "src", "dst", iters=3).collect()
    }

    und = {(1, 2), (2, 1), (2, 3), (3, 2)}
    deg = {1: 1, 2: 2, 3: 1}
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    rank = {n: PR_SCALE for n in deg}
    for _ in range(3):
        nxt = {n: base for n in deg}
        for a, b in und:
            nxt[b] += (PR_DAMP_NUM * rank[a]) // (PR_DAMP_DEN * deg[a])
        rank = nxt
    assert got == rank
    # symmetry: the two leaves are structurally identical
    assert got[1] == got[3]


def _bfs(spark, edges, seeds, k):
    from advisorydatapipeline_spark.operators.graph import bfs_hops

    e = spark.createDataFrame(edges, "a long, b long")
    und = e.union(e.select("b", "a"))
    s = spark.createDataFrame([(x,) for x in seeds], "node long")
    rows = bfs_hops(und, s, k).collect()
    return {r.node: r.hops for r in rows}


def test_bfs_chain_hops(spark):
    got = _bfs(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], [1], 3)
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is beyond max_hops


def test_bfs_min_hop_wins_on_multiple_paths(spark):
    # 1-2-4 and 1-3-4 plus shortcut 1-4: node 4 is hop 1, not 2
    got = _bfs(spark, [(1, 2), (2, 4), (1, 3), (3, 4), (1, 4)], [1], 3)
    assert got == {1: 0, 2: 1, 3: 1, 4: 1}


def test_bfs_multi_seed_and_unreachable(spark):
    got = _bfs(spark, [(1, 2), (10, 11)], [1, 10], 2)
    assert got == {1: 0, 10: 0, 2: 1, 11: 1}


def test_bfs_cycle_terminates(spark):
    got = _bfs(spark, [(1, 2), (2, 3), (3, 1)], [1], 4)
    assert got == {1: 0, 2: 1, 3: 1}


def test_connected_components_long_path(spark):
    """Regression for the round-5 truncation bug: a 60-edge path
    graph (diameter 60) must collapse to ONE component labeled by its
    minimum node — the old max_iter=25 silent cap returned a SPLIT
    component here with no error."""
    from advisorydatapipeline_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "a long, b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "a", "b").collect()
    }
    assert got == {i: 0 for i in range(61)}


def test_connected_components_raises_when_capped(spark):
    """A cap too small for the diameter must RAISE, never return
    truncated labels."""
    import pytest as _pytest

    from advisorydatapipeline_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, "a", "b", max_iter=2).collect()


def test_k_core_peel_converges_and_raises(spark):
    from advisorydatapipeline_spark.operators.graph import k_core_peel

    # path graph 1-2-3-4-5 with k=2: peeling strips endpoints one
    # round at a time until nothing survives (needs several rounds)
    edges = [(i, i + 1) for i in range(1, 5)]
    und = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "a long, b long"
    )
    ks = spark.createDataFrame([(2,)], "k long")
    surviving = k_core_peel(und, ks, max_rounds=10)
    assert surviving.count() == 0  # no 2-core in a path
    # triangle + pendant: the triangle IS the 2-core
    tri = [(1, 2), (2, 3), (1, 3), (3, 4)]
    und2 = spark.createDataFrame(
        tri + [(b, a) for a, b in tri], "a long, b long"
    )
    core = k_core_peel(und2, ks, max_rounds=10)
    nodes = {r.a for r in core.select("a").distinct().collect()}
    assert nodes == {1, 2, 3}
    # max_rounds too small for the path peel -> loud failure
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="fixpoint"):
        k_core_peel(und, ks, max_rounds=1).count()


def test_label_propagation_two_cliques(spark):
    from advisorydatapipeline_spark.operators.graph import (
        label_propagation,
    )

    def clique(ids):
        return [
            (a, b) for a in ids for b in ids if a != b
        ]

    # two 4-cliques joined by one bridge edge: LPA should settle each
    # clique on its min label
    e = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10), (10, 4)]
    und = spark.createDataFrame(e, "a long, b long")
    labs = {r.a: r.lab for r in label_propagation(und, 4).collect()}
    assert labs[1] == labs[2] == labs[3] == 1
    assert labs[11] == labs[12] == labs[13] == 10


def test_bfs_stops_at_empty_frontier(spark, monkeypatch):
    """Once the frontier drains, BFS pays no further per-hop cut: a
    3-node path from one end needs the seed cut plus 3 hops (the
    third finds nothing), not one cut per allowed hop."""
    from advisorydatapipeline_spark.operators import graph

    calls = []
    real = graph._cut_lineage

    def counting(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(graph, "_cut_lineage", counting)
    got = _bfs(spark, [(1, 2), (2, 3)], [1], 20)
    assert got == {1: 0, 2: 1, 3: 2}
    assert len(calls) == 4


def test_connected_components_plan_size_estimate_stays_bounded(spark):
    """Each lineage cut keeps the statistics of the plan it cut. The
    per-round edge join multiplies its sides' estimates, which adds
    about 10 bits per round on this graph (11 rounds: the minimum
    node sits 11 hops from both chain ends); a per-round self-join of
    the labels would square the estimate instead and pass 2**128
    within a few rounds."""
    import sys

    order = [17, 4, 21, 9, 13, 6, 19, 2, 11, 22, 7, 0, 15, 1, 18, 10, 3,
             20, 8, 14, 5, 16, 12]
    edges = spark.createDataFrame(
        list(zip(order, order[1:])), "a long, b long"
    )
    cc = connected_components(edges, "a", "b")
    assert {r.component for r in cc.collect()} == {0}
    limit = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)
    try:
        # py4j hands the Scala BigInt over as a decimal string
        size = cc._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    finally:
        sys.set_int_max_str_digits(limit)
    assert size < 2**128


def test_raising_loops_release_their_cache(spark, monkeypatch):
    """A loop that hits its round cap, or whose round raises, must
    still unpersist the edge frame it cached."""
    import pytest as _pytest

    from advisorydatapipeline_spark.operators.graph import k_core_peel

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, "a", "b", max_iter=2)
    assert cache.isEmpty()
    path = [(i, i + 1) for i in range(1, 5)]
    und = spark.createDataFrame(
        path + [(b, a) for a, b in path], "a long, b long"
    )
    ks = spark.createDataFrame([(2,)], "k long")
    with _pytest.raises(RuntimeError, match="fixpoint"):
        k_core_peel(und, ks, max_rounds=1)
    assert cache.isEmpty()

    # the fixed-round loops release it when a round raises
    from advisorydatapipeline_spark.operators import graph

    def boom(df):
        raise RuntimeError("lineage cut failed")

    monkeypatch.setattr(graph, "_cut_lineage", boom)
    seeds = spark.createDataFrame([(0,)], "node long")
    for run in (
        lambda: graph.pagerank_quantized(edges, "a", "b", iters=3),
        lambda: graph.label_propagation(edges, 2),
        lambda: graph.bfs_hops(edges, seeds, 3),
    ):
        with _pytest.raises(RuntimeError, match="lineage cut failed"):
            run()
        assert cache.isEmpty()


def _recording_cuts(monkeypatch, spark):
    """Patch the lineage cut to record the job description each cut
    runs under."""
    from advisorydatapipeline_spark.operators import graph

    seen = []
    real = graph._cut_lineage

    def recording(df):
        seen.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return real(df)

    monkeypatch.setattr(graph, "_cut_lineage", recording)
    return seen


def test_ascending_path_converges_in_log_rounds(spark, monkeypatch):
    """A 300-node path numbered in ascending order, one round per hop
    under min-label propagation, is one component within
    2 * ceil(log2(300)) = 18 rounds."""
    cuts = _recording_cuts(monkeypatch, spark)
    got = _cc(spark, [(i, i + 1) for i in range(299)])
    assert got == {i: 0 for i in range(300)}
    assert 2 <= len(cuts) <= 18


def test_empty_edge_list(spark, monkeypatch):
    cuts = _recording_cuts(monkeypatch, spark)
    df = spark.createDataFrame([], "id_a long, id_b long")
    cc = connected_components(df, "id_a", "id_b")
    assert cc.collect() == []
    assert cc.schema.simpleString() == "struct<node:bigint,component:bigint>"
    assert len(cuts) <= 2


def test_self_loops_duplicates_and_negative_ids(spark):
    got = _cc(
        spark,
        [(5, 5), (5, 5),  # a node whose only edge is a self-loop
         (8, 7), (7, 7),  # a self-loop on a node with a neighbour
         (-3, -1), (-1, 2), (2, -3), (2, -1),
         (9, 4), (4, 9), (9, 4)],
    )
    assert got == {5: 5, 7: 7, 8: 7, -3: -3, -1: -3, 2: -3, 4: 4, 9: 4}


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its set's minimum
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_random_graph_matches_union_find(spark):
    import random

    rng = random.Random(20141103)
    edges = [
        (rng.randrange(-100, 400), rng.randrange(-100, 400))
        for _ in range(350)
    ]
    assert _cc(spark, edges) == _union_find(edges)


def test_rounds_label_their_jobs_and_restore_the_caller(spark, monkeypatch):
    """Each round's jobs run under ``connected_components:<round>``,
    and the caller's description is back after a normal and after a
    raising exit."""
    import pytest as _pytest

    sc = spark.sparkContext
    cuts = _recording_cuts(monkeypatch, spark)
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        _cc(spark, [(i, i + 1) for i in range(60)])
        assert cuts == [f"connected_components:{i}" for i in range(len(cuts))]
        assert len(cuts) >= 2
        assert sc.getLocalProperty("spark.job.description") == "caller"
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(60)], "a long, b long"
        )
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, "a", "b", max_iter=2)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
