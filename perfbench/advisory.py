"""``advisory_incremental``: the paper's ingest -> enrich -> state-machine
pipeline, one run-id after another against one fresh base dir.

The base dir starts with an enrichment cache left by earlier runs
(``gen.seeded_cache``) and no prod table. Run 1 is the cold backfill
into prod; it is the warm-up, checked but not timed. Each later run
churns :data:`CHURN` of the feed and advances the injected clock by
:data:`CLOCK_STEP` against a :data:`TTL` cache, so every run finds
about half its keys fresh in the cache, about half expired, and the
churned-in keys missing. A step is one run-id, and a pass is two, so
that each of the two halves of the keys is refetched once in a pass.
Two offline resolvers with different priorities answer every fetch.

A Python model of the same sequence predicts, for every run, how many
keys the sources must fetch and the state every prod row must hold
(the FSM twin in ``operators/state_machine.py``).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import types as T

from advisorydatapipeline_spark import pipeline, schemas
from advisorydatapipeline_spark.config import PipelineConfig
from advisorydatapipeline_spark.operators.enrichment import UpstreamSource
from advisorydatapipeline_spark.operators.state_machine import _norm_py, apply_transition
from advisorydatapipeline_spark.sources.io import read_table
from perfbench import gen
from perfbench.harness import Step
from perfbench.trace import NullTracer

N_ADVISORIES, CHURN = 5_000, 0.05
RUNS_PER_PASS = 2
TTL = timedelta(hours=24)
CLOCK_STEP = timedelta(hours=13)
T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
SOURCES = (("nvd", 5), ("osv", 3))  # (name, priority): nvd wins conflicts

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("found", T.BooleanType(), True),
        T.StructField("upstream_fixed_version", T.StringType(), True),
        T.StructField("upstream_status", T.StringType(), True),
        T.StructField("query_timestamp", T.TimestampType(), True),
    ]
)
ADV_COLS = ["package_name", "cve_id", "fixed_version"]
OV_COLS = ["cve_id", "package", "status", "fixed_version", "internal_status"]
CACHE_COLS = [f.name for f in schemas.ENRICHMENT_CACHE_SCHEMA.fields]


class Resolver:
    """Picklable fetch function: ``gen.resolve`` at one clock epoch,
    counting every call in a Spark accumulator."""

    def __init__(self, source: str, epoch: int, now: datetime, calls):
        self.source, self.epoch, self.now, self.calls = source, epoch, now, calls

    def __call__(self, cve_id: str, package: str) -> dict:
        self.calls.add(1)
        return gen.resolve(self.source, self.epoch, cve_id, package) | {
            "query_timestamp": self.now
        }


def candidate_state(answer: dict) -> str:
    """``pipeline.default_normalize``'s state rule, in Python."""
    if answer["found"] and answer.get("upstream_fixed_version") is not None:
        return "fixed"
    return "pending_upstream" if answer["found"] else "will_not_fix"


class Model:
    """The expected outcome of each run, advanced one run at a time."""

    def __init__(self, overrides, cache):
        self.ov_state = {(c.lower(), p.lower()): _norm_py(s) for c, p, _, _, s in overrides}
        self.last_fetch: dict[tuple, datetime] = {
            (source, (cve, pkg)): ts for cve, pkg, source, ts in cache
        }
        self.prod: dict[tuple[str, str], str] = {}

    def advance(self, r: int, now: datetime, feed) -> tuple[int, int]:
        """Apply run ``r``; returns (fetches, worklist keys), both
        summed over the sources."""
        keys = {(cve, pkg) for pkg, cve, _ in feed}
        work = {k for k in keys if (k[0].lower(), k[1].lower()) not in self.ov_state}
        todo = {
            name: {
                k for k in work
                if (name, k) not in self.last_fetch or self.last_fetch[(name, k)] < now - TTL
            }
            for name, _ in SOURCES
        }
        for name, _ in SOURCES:
            for k in todo[name]:
                self.last_fetch[(name, k)] = now
        for k in keys:
            ov = self.ov_state.get((k[0].lower(), k[1].lower()))
            if ov is not None:
                self.prod[k] = ov
                continue
            # the highest-priority source that fetched k this run wins
            best = next((n for n, _ in SOURCES if k in todo[n]), None)
            if best is None:
                self.prod[k] = _norm_py(self.prod.get(k))
            else:
                cand = candidate_state(gen.resolve(best, r, k[0], k[1]))
                self.prod[k] = apply_transition(self.prod.get(k), cand)
        return sum(len(t) for t in todo.values()), len(work) * len(SOURCES)


class AdvisoryIncremental:
    def __init__(self, seed: int, run_dir: str):
        self.tracer = NullTracer()
        self.base = os.path.join(run_dir, "base")
        self.feed = gen.AdvisoryFeed(seed, N_ADVISORIES, CHURN)
        cache = gen.seeded_cache(self.feed.feed, [n for n, _ in SOURCES], T0, TTL, CLOCK_STEP)
        self.model = Model(self.feed.overrides, cache)
        cache_df = pd.DataFrame(cache, columns=CACHE_COLS)
        # microseconds: the session reads parquet nanosecond timestamps as longs
        cache_df["last_accessed"] = cache_df["last_accessed"].astype("datetime64[us, UTC]")
        cache_dir = PipelineConfig(self.base).cache_path
        os.makedirs(cache_dir)
        cache_df.to_parquet(f"{cache_dir}/part-00000.parquet", index=False)
        self.overrides = pd.DataFrame(self.feed.overrides, columns=OV_COLS)
        self.input_rows = RUNS_PER_PASS * N_ADVISORIES + len(self.feed.overrides)
        self.input_bytes = len(self.overrides.to_csv(index=False)) + len(cache_df.to_csv(index=False))
        self.runs = 0
        # (fetch calls, worklist keys) of every run made with spans on
        self.traced_counts: list[tuple[int, int]] = []

    def bind(self, spark) -> None:
        self.spark = spark
        self.calls = spark.sparkContext.accumulator(0)
        self.ov = spark.createDataFrame(self.overrides)

    def warmup_steps(self):
        """The cold backfill, run 1."""
        yield self._next_run()

    def steps(self):
        for _ in range(RUNS_PER_PASS):
            yield self._next_run()

    def _next_run(self) -> Step:
        r = self.runs
        self.runs += 1
        now = T0 + r * CLOCK_STEP
        feed_rows = self.feed.next_feed()
        feed = pd.DataFrame(feed_rows, columns=ADV_COLS)
        self.input_bytes += len(feed.to_csv(index=False))
        expected_fetches, work = self.model.advance(r, now, feed_rows)
        expected_prod = dict(self.model.prod)
        spark = self.spark
        cfg = PipelineConfig(self.base, cache_ttl_hours=TTL / timedelta(hours=1), clock=lambda: now)
        adv = spark.createDataFrame(feed)
        sources = [
            pipeline.NormalizedSource(
                upstream=UpstreamSource(
                    name, Resolver(name, r, now, self.calls), RESULT_SCHEMA, priority=prio
                ),
                normalize=pipeline.default_normalize(name, prio, now),
            )
            for name, prio in SOURCES
        ]
        run_id = f"r{r + 1}"
        calls_before = self.calls.value
        traced = not isinstance(self.tracer, NullTracer)

        def run():
            with self.tracer.span("pipeline.ingest"):
                a, o = pipeline.run_ingest_phase(spark, cfg, run_id, adv, self.ov)
            with self.tracer.span("pipeline.enrich"):
                norm = pipeline.run_enrich_phase(spark, cfg, run_id, a, o, sources)
            with self.tracer.span("pipeline.state_machine"):
                pipeline.run_state_machine_phase(spark, cfg, run_id, a, o, norm)

        def check(_):
            fetches = self.calls.value - calls_before
            if traced:
                self.traced_counts.append((fetches, work))
            return self._check(run_id, cfg, fetches, expected_fetches, expected_prod)

        return Step("pipeline.run", run, check)

    def _check(self, run_id, cfg, fetches, expected_fetches, expected_prod) -> list[str]:
        problems = []
        if fetches != expected_fetches:
            problems.append(f"{run_id}: {fetches} fetch calls, expected {expected_fetches}")
        rows = read_table(
            self.spark, f"{cfg.prod_path}/state_machine/cve_state_machine", schemas.STATE_MACHINE_SCHEMA
        ).select("cve_id", "package", "status").collect()
        got = {(x.cve_id, x.package): x.status for x in rows}
        if len(got) != len(rows):
            problems.append(f"{run_id}: {len(rows) - len(got)} duplicate (cve_id, package) rows in prod")
        if got.keys() != expected_prod.keys():
            problems.append(f"{run_id}: prod holds {len(got)} keys, expected {len(expected_prod)}")
        bad = [k for k, v in expected_prod.items() if got.get(k) != v]
        if bad:
            problems.append(
                f"{run_id}: {len(bad)} prod states differ from the model, "
                f"e.g. {bad[0]}: got {got.get(bad[0])} want {expected_prod[bad[0]]}"
            )
        return problems

    def layer_metrics(self, spans, spark_by_span) -> dict[str, float]:
        runs = spans.named("pipeline.run")
        io = [spans.subtree_agg(s["id"], spark_by_span) for s in runs]
        per_pass = RUNS_PER_PASS / len(runs)
        fetches = sum(f for f, _ in self.traced_counts)
        return {
            "pipeline.ingest_s": spans.median_duration("pipeline.ingest"),
            "pipeline.enrich_s": spans.median_duration("pipeline.enrich"),
            "pipeline.state_machine_s": spans.median_duration("pipeline.state_machine"),
            "enrichment.fetch_calls": fetches * per_pass,
            "ttl_cache.hit_ratio": 1 - fetches / sum(w for _, w in self.traced_counts),
            "io.bytes_written_mb": sum(a.output_bytes for a in io) * per_pass / (1 << 20),
            "io.files_written": sum(a.files_written for a in io) * per_pass,
            "io.write_amplification": _du(self.base) / self.input_bytes,
        }


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
