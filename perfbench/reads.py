"""``graph_and_queries``: the read side of the engine in one workload.

A pass runs the five graph operators (``graph.py``) and then the
registry entries over the seeded corpus (``corpus.py``), in the seed's
order. Both halves are read-only and driver-heavy; they share one
session so that their set-up (process and JVM start, the first Spark
jobs) is paid once per run. The warm-up is both halves' warm-ups:
connected components on a small graph, then every registry entry
checked against its DuckDB oracle.
"""

from __future__ import annotations

from perfbench.corpus import CorpusQueries
from perfbench.graph import GraphFixpoint


class GraphAndQueries:
    def __init__(self, seed: int, run_dir: str):
        self.graph = GraphFixpoint(seed)
        self.corpus = CorpusQueries(seed, run_dir)
        self.input_rows = self.graph.input_rows + self.corpus.input_rows

    @property
    def tracer(self):
        return self.graph.tracer

    @tracer.setter
    def tracer(self, tracer) -> None:
        self.graph.tracer = self.corpus.tracer = tracer

    def bind(self, spark) -> None:
        self.graph.bind(spark)
        self.corpus.bind(spark)

    def warmup_steps(self):
        yield from self.graph.warmup_steps()
        yield from self.corpus.warmup_steps()

    def steps(self):
        yield from self.graph.steps()
        yield from self.corpus.steps()

    def layer_metrics(self, spans, spark_by_span) -> dict[str, float]:
        return self.graph.layer_metrics(spans, spark_by_span) | self.corpus.layer_metrics(
            spans, spark_by_span
        )
