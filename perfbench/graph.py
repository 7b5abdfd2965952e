"""The five public operators of ``operators/graph.py`` on one seeded
BIGINT edge list, the graph half of the ``graph_and_queries`` workload.

Each step is one operator call (its eager fixpoint loop) followed by a
collect of its result. The work is driver- and scheduler-bound: many
tiny jobs per call, no parquet read or written.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from advisorydatapipeline_spark.operators import graph as G
from perfbench import gen, graph_ref
from perfbench.harness import Step
from perfbench.trace import NullTracer

N_CHAINS, CHAIN_LEN, N_CLUSTERS = 6, 23, 400
WARMUP_CHAINS, WARMUP_CHAIN_LEN, WARMUP_CLUSTERS = 1, 8, 20
PR_ITERS, LPA_ROUNDS, BFS_HOPS, KCORE_K = 3, 2, 3, 4
OPS = (
    "connected_components",
    "pagerank_quantized",
    "label_propagation",
    "bfs_hops",
    "k_core_peel",
)


class Case:
    """One edge list, its DataFrames and its reference results."""

    def __init__(self, inputs: gen.GraphInputs):
        self.inputs = inputs
        edges = [tuple(map(int, e)) for e in inputs.edges.tolist()]
        adj = graph_ref.adjacency(edges)
        self.expected = {
            "connected_components": graph_ref.components(edges),
            "pagerank_quantized": graph_ref.pagerank(adj, PR_ITERS),
            "label_propagation": graph_ref.label_propagation(adj, LPA_ROUNDS),
            "bfs_hops": graph_ref.bfs(adj, inputs.seeds.tolist(), BFS_HOPS),
            "k_core_peel": graph_ref.k_core_edges(adj, KCORE_K),
        }

    def bind(self, spark) -> None:
        self.edges = spark.createDataFrame(
            pd.DataFrame(self.inputs.edges, columns=["src", "dst"])
        )
        self.und = self.edges.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        ).unionByName(self.edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        self.seeds = spark.createDataFrame(pd.DataFrame({"node": self.inputs.seeds}))
        self.ks = spark.range(1).select(F.lit(KCORE_K).cast("long").alias("k"))

    def call(self, op: str):
        if op == "connected_components":
            return G.connected_components(self.edges, "src", "dst")
        if op == "pagerank_quantized":
            return G.pagerank_quantized(self.edges, "src", "dst", iters=PR_ITERS)
        if op == "label_propagation":
            return G.label_propagation(self.und, LPA_ROUNDS)
        if op == "bfs_hops":
            return G.bfs_hops(self.und, self.seeds, BFS_HOPS)
        return G.k_core_peel(self.und, self.ks)

    def check(self, op: str, rows) -> list[str]:
        want = self.expected[op]
        got = set(rows) if op == "k_core_peel" else dict(rows)
        if len(rows) != len(got):
            return [f"{op}: duplicate keys in output"]
        if got == want:
            return []
        if op == "k_core_peel":
            return [f"{op}: {len(got ^ want)} edges differ from the reference"]
        bad = sorted(k for k in want.keys() | got.keys() if got.get(k) != want.get(k))
        return [
            f"{op}: {len(bad)} nodes differ, e.g. {bad[0]}: "
            f"got {got.get(bad[0])} want {want.get(bad[0])}"
        ]


class GraphFixpoint:
    def __init__(self, seed: int):
        self.tracer = NullTracer()
        self.main = Case(gen.graph_inputs(seed, N_CHAINS, CHAIN_LEN, N_CLUSTERS))
        self.warm = Case(
            gen.graph_inputs(seed + 1, WARMUP_CHAINS, WARMUP_CHAIN_LEN, WARMUP_CLUSTERS)
        )
        self.input_rows = self.main.inputs.input_rows

    def bind(self, spark) -> None:
        self.main.bind(spark)
        self.warm.bind(spark)

    def _run(self, case: Case, op: str):
        with self.tracer.span(f"graph.{op}.call"):
            df = case.call(op)
        with self.tracer.span(f"graph.{op}.collect"):
            return [tuple(r) for r in df.collect()]

    def _steps(self, case: Case, ops=OPS):
        for op in ops:
            yield Step(
                f"graph.{op}",
                lambda op=op: self._run(case, op),
                lambda rows, op=op: case.check(op, rows),
            )

    def warmup_steps(self):
        """Connected components on a small graph. The first Spark jobs
        of a session pay several seconds of class loading and JIT;
        this call pays them, and its joins, aggregates, lineage cuts
        and observations are the plan shapes the other operators use."""
        return self._steps(self.warm, OPS[:1])

    def steps(self):
        return self._steps(self.main)

    def layer_metrics(self, spans, spark_by_span) -> dict[str, float]:
        out = {}
        for op in OPS:
            for part in ("call", "collect"):
                out[f"graph.{op}.{part}_s"] = spans.median_duration(f"graph.{op}.{part}")
            out[f"graph.{op}.jobs"] = spans.median_jobs(f"graph.{op}", spark_by_span)
        return out
