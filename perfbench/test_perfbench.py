"""Tests of the benchmark's own parts: seeded generators, the
pure-Python graph references and the event-log parser.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus, gen, graph_ref  # noqa: E402
from perfbench.trace import (  # noqa: E402
    GROUP_PREFIX,
    Tracer,
    by_span,
    event_log_conf,
    find_event_log,
    parse_event_log,
)


def _advisory_bytes(seed: int) -> bytes:
    feed = gen.AdvisoryFeed(seed, 500, 0.05)
    runs = [feed.next_feed() for _ in range(4)]
    return repr((runs, feed.overrides)).encode()


def test_advisory_feed_is_seeded():
    assert _advisory_bytes(7) == _advisory_bytes(7)
    assert _advisory_bytes(7) != _advisory_bytes(8)


def test_advisory_feed_churns_distinct_keys():
    feed = gen.AdvisoryFeed(3, 1000, 0.05)
    first = feed.next_feed()
    second = feed.next_feed()
    keys = [(cve, pkg) for pkg, cve, _ in first]
    assert len(set(keys)) == len(first) == len(second) == 1000
    assert len(set(first) & set(second)) == 950
    lowered = {(c.lower(), p.lower()) for c, p, *_ in feed.overrides}
    assert len(lowered) == len(feed.overrides)
    assert any(c != c.upper() for c, *_ in feed.overrides)  # case differs from the feed


def test_seeded_cache_splits_keys_into_two_cohorts():
    feed = gen.AdvisoryFeed(3, 1000, 0.05)
    t0, ttl, step = datetime(2026, 1, 1, tzinfo=timezone.utc), timedelta(hours=24), timedelta(hours=13)
    rows = gen.seeded_cache(feed.feed, ["nvd", "osv"], t0, ttl, step)
    assert rows == gen.seeded_cache(feed.feed, ["nvd", "osv"], t0, ttl, step)
    keys = {(cve, pkg) for pkg, cve, _ in feed.feed}
    assert {(c, p) for c, p, _, _ in rows} <= keys
    expired_now = sum(ts < t0 - ttl for *_, ts in rows)
    expired_next = sum(t0 - ttl <= ts < t0 + step - ttl for *_, ts in rows)
    assert expired_now + expired_next == len(rows)
    assert 0.8 < expired_now / expired_next < 1.25
    assert 0.85 * 2000 < len(rows) < 0.95 * 2000


def test_graph_inputs_are_seeded():
    a, b, c = (gen.graph_inputs(s, 2, 6, 20) for s in (5, 5, 6))
    assert a.edges.tobytes() == b.edges.tobytes()
    assert a.seeds.tobytes() == b.seeds.tobytes()
    assert a.edges.tobytes() != c.edges.tobytes()


def test_graph_shape_does_not_depend_on_the_seed():
    # each component, with its nodes renamed by rank inside it, is the
    # same for every seed, so the operators run the same rounds
    def shapes(seed):
        edges = [tuple(e) for e in gen.graph_inputs(seed, 3, 10, 5).edges.tolist()]
        comp = graph_ref.components(edges)
        members = defaultdict(list)
        for n, c in comp.items():
            members[c].append(n)
        rank = {n: i for ns in members.values() for i, n in enumerate(sorted(ns))}
        per = defaultdict(set)
        for a, b in edges:
            per[comp[a]].add(tuple(sorted((rank[a], rank[b]))))
        return sorted(tuple(sorted(es)) for es in per.values())

    assert shapes(1) == shapes(2)


def _corpus_bytes(seed: int, tmp_path) -> bytes:
    out = tmp_path / str(seed)
    corpus.write_corpus(seed, str(out))
    return b"".join(
        pq.read_table(out / f"{t}.parquet").to_pandas().to_csv(index=False).encode()
        for t in corpus.TABLES
    )


def test_corpus_is_seeded(tmp_path):
    assert _corpus_bytes(4, tmp_path) == _corpus_bytes(4, tmp_path)
    assert _corpus_bytes(4, tmp_path) != _corpus_bytes(5, tmp_path)


def test_resolver_is_stable():
    # crc32, not the per-process salted hash(): fixed across processes
    assert gen.crc("nvd", "CVE-1", "pkg", 0) == 119_884_403
    assert gen.resolve("nvd", 0, "CVE-1", "pkg") == gen.resolve("nvd", 0, "CVE-1", "pkg")


def test_graph_references_on_a_small_graph():
    # triangle 1-2-3 with a tail 3-4-5, and a separate edge 10-11
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (10, 11)]
    adj = graph_ref.adjacency(edges)
    assert graph_ref.components(edges) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    assert graph_ref.bfs(adj, [5], 2) == {5: 0, 4: 1, 3: 2}
    assert graph_ref.k_core_edges(adj, 2) == {
        (1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)
    }
    lab = graph_ref.label_propagation(adj, 1)
    assert lab[10] == 11 and lab[11] == 10  # one vote each way
    assert lab[5] == 4  # its only neighbour
    ranks = graph_ref.pagerank(adj, 1)
    # node 5 receives 0.85 * rank(4) / deg(4) from its only neighbour
    assert ranks[5] == 150_000 + (85 * 1_000_000) // (100 * 2)


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from advisorydatapipeline_spark.session import get_spark

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(
        "perfbench-test",
        master="local[2]",
        extra_conf={"spark.ui.showConsoleProgress": "false"} | event_log_conf(log_dir),
    )
    yield spark, log_dir
    spark.stop()


def test_event_log_parsed_per_span(traced_spark):
    spark, log_dir = traced_spark
    if spark.sparkContext.getConf().get("spark.eventLog.enabled") != "true":
        pytest.skip("a session without the event log was already running")
    tracer = Tracer(spark.sparkContext, "test")
    with tracer.span("outer"):
        with tracer.span("inner"):
            rows = (
                spark.range(0, 10_000, numPartitions=4)
                .selectExpr("id % 7 AS k")
                .groupBy("k")
                .count()
                .collect()
            )
    spark.range(10).count()  # outside every span
    spark.sparkContext.stop()
    assert len(rows) == 7
    groups = parse_event_log(find_event_log(log_dir))
    spans = by_span(groups)
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"]
    agg = spans[inner["id"]]
    assert agg.jobs >= 1 and agg.stages >= 1 and agg.tasks >= 4
    assert agg.executor_run_ms >= 0 and agg.shuffle_write_bytes > 0
    assert agg.shuffle_read_bytes > 0
    assert outer["id"] not in spans  # every job ran inside the inner span
    assert None in groups  # the untraced job has no group
    assert all(g is None or g.startswith(GROUP_PREFIX) for g in groups)
    selfs = tracer.self_times()
    total = outer["end"] - outer["start"]
    assert selfs[outer["id"]] + selfs[inner["id"]] == pytest.approx(total)
