"""Registry entries over a seeded corpus, the query half of the
``graph_and_queries`` workload.

Each step builds one registry entry (``queries()[name](spark, dir)``,
including any eager jobs the entry runs) and materializes it to the
``noop`` sink, the registry contract, with ``clearCache`` between
steps. The seed permutes the entry order in every pass.

The warm-up pass runs every entry once through
``tools/check_oracle.compare_query``: Spark's collected rows against
DuckDB running the entry's oracle SQL over the same parquet. Timed
steps then check the row count the noop write observed against the
oracle's.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench.harness import Step
from perfbench.trace import NullTracer

# one entry each for dedup, ranking and scan/aggregate; the LM and
# quality groups (kn_trigram_scores, quality_gate_pipeline) do not fit
# the run budget (README.md)
ENTRIES = ("dedup_simhash64", "tfidf_top_terms", "pricing_summary")
N_DOCS, N_LINEITEM = 500, 20_000

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def documents(seed: int, n: int) -> pd.DataFrame:
    """Documents of 10-100 words over a 30-word vocabulary; 5 % are
    near-duplicates (an earlier document plus ``dup``) and 0.2 % exact
    duplicates, so the dedup entries find pairs."""
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(_VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for ln in lens.tolist():
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, n, size=n)
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[j]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def lineitem(seed: int, n: int) -> pd.DataFrame:
    """TPC-H-shaped line items with 2-decimal money columns, so the
    engines' DECIMAL(18,2) sums agree exactly."""
    rng = np.random.default_rng([seed, 4])
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(1, n // 4 + 2, size=n).astype(np.int64),
            "l_partkey": rng.integers(1, 20_001, size=n).astype(np.int64),
            "l_suppkey": rng.integers(1, 1_001, size=n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.integers(900, 2_000, size=n), 2),
            "l_discount": rng.integers(0, 11, size=n) / 100,
            "l_tax": rng.integers(0, 9, size=n) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], size=n),
            "l_linestatus": rng.choice(["F", "O"], size=n),
            "l_shipdate": pd.to_datetime("1992-01-02")
            + pd.to_timedelta(rng.integers(0, 2_526, size=n), unit="D"),
        }
    )


TABLES = ("documents", "lineitem")


def write_corpus(seed: int, out_dir: str) -> int:
    """Write the seeded tables as parquet; returns their row count."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"documents": documents(seed, N_DOCS), "lineitem": lineitem(seed, N_LINEITEM)}
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return sum(len(df) for df in tables.values())


def connect_duck(corpus_dir: str):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


class CorpusQueries:
    def __init__(self, seed: int, run_dir: str):
        self.tracer = NullTracer()
        self.dir = os.path.join(run_dir, "corpus")
        self.input_rows = write_corpus(seed, self.dir)
        self.rng = np.random.default_rng([seed, 5])
        self.expected_rows: dict[str, int] = {}

    def bind(self, spark) -> None:
        import __spark_entry__

        self.spark = spark
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def warmup_steps(self):
        """One pass, each entry collected and compared with DuckDB."""
        from tools.check_oracle import compare_query

        con = connect_duck(self.dir)
        for name in ENTRIES:

            def run(name=name):
                return compare_query(
                    self.spark, con, name, self.queries[name], self.oracles[name], self.dir
                )

            def check(out, name=name):
                problems, n_rows, _, _ = out
                self.expected_rows[name] = n_rows
                return [f"{name}: {p}" for p in problems]

            yield Step(f"query.{name}", run, check)

    def steps(self):
        for i in self.rng.permutation(len(ENTRIES)).tolist():
            name = ENTRIES[i]
            yield Step(
                f"query.{name}",
                lambda name=name: self._run(name),
                lambda rows, name=name: self._check(name, rows),
            )

    def _run(self, name: str) -> int:
        with self.tracer.span(f"query.{name}.build"):
            df = self.queries[name](self.spark, self.dir)
        obs = Observation(f"rows_{name}")
        with self.tracer.span(f"query.{name}.exec"):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
        return obs.get["n"]

    def _check(self, name: str, rows: int) -> list[str]:
        want = self.expected_rows.get(name)
        if rows != want:
            return [f"{name}: noop write saw {rows} rows, the oracle returned {want}"]
        return []

    def layer_metrics(self, spans, spark_by_span) -> dict[str, float]:
        out = {}
        for name in ENTRIES:
            for part in ("build", "exec"):
                out[f"query.{name}.{part}_s"] = spans.median_duration(f"query.{name}.{part}")
        return out
