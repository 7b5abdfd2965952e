"""Secret/credential detection (secret_entropy_scrub) + crawl
politeness plan (crawl_politeness_plan) — the collision arithmetic on
adversarial strings, the shape-rule/entropy-rule split, and the
per-host scheduling invariants. Full-corpus value gates live in the
registry oracle twins."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from advisorydatapipeline_spark.queries.web_queries import (
    AWS_KEY_RE,
    SECRET_COLL_PPM,
    SECRET_MIN_DISTINCT,
    crawl_politeness_plan,
    secret_entropy_scrub,
)


def coll_ppm_ref(tok: str) -> int:
    """Pure-python Renyi-2 collision reference: sum(c_i^2)*1e6 //
    n^2 — the exact definition both engines replay."""
    c = Counter(tok)
    return sum(v * v for v in c.values()) * 1_000_000 // (len(tok) ** 2)


def _scan(spark, text: str):
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    df.createOrReplaceTempView("_t")
    # run the registry entry against a one-doc scratch dir
    import tempfile

    with tempfile.TemporaryDirectory(prefix="adp_secret_") as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return secret_entropy_scrub(spark, d).collect()[0]


def test_low_entropy_shape_lookalike_rejected(spark):
    # doc_id 0 plants all three: AKIA key (%3), md5 blob (%4),
    # 'ab'*14 lookalike (%5). The lookalike must be candidate #3 but
    # never a secret.
    row = _scan(spark, "plain words only")
    assert row.n_candidates == 3
    assert row.n_shape_keys == 1
    assert row.n_secrets == 2
    assert "ababababababababababababab" not in row.secrets_csv
    assert "AKIA" in row.secrets_csv


def test_collision_reference_agrees_with_plan(spark):
    toks = [
        "ab" * 14,  # periodic: 500000 ppm
        "x" * 24,  # constant: 1000000 ppm
        "deadbeefdeadbeefdeadbeef",  # repeated hex
        "0123456789abcdefghijKLMN",  # near-uniform
    ]
    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "t string")
    from advisorydatapipeline_spark.queries.web_queries import (
        SECRET_CAND_RE,
    )

    cands = F.regexp_extract_all(F.col("t"), F.lit(SECRET_CAND_RE), F.lit(0))
    got = df.select(cands.alias("c")).collect()[0].c
    assert got == toks
    # replay the plan's min_coll over a corpus of exactly these tokens
    row = _scan(spark, text)
    assert row.min_coll_ppm == min(
        [coll_ppm_ref(t) for t in got]
        + [coll_ppm_ref(t) for t in row.secrets_csv.split(",") if t]
    )
    assert coll_ppm_ref("ab" * 14) == 500_000
    assert coll_ppm_ref("x" * 24) == 1_000_000
    assert coll_ppm_ref("0123456789abcdefghijKLMN") <= SECRET_COLL_PPM


def test_entropy_rule_boundary(spark):
    # exactly SECRET_MIN_DISTINCT distinct chars, uniform -> coll =
    # 1e6/8 = 125000 <= threshold: accepted; 7 distinct: rejected
    tok8 = "abcdefgh" * 3  # 24 chars, 8 distinct, coll 125000
    tok7 = "abcdefg" * 3 + "abc"  # 24 chars, 7 distinct
    assert coll_ppm_ref(tok8) == 125_000
    row = _scan(spark, f"zz {tok8} zz")
    assert row.n_secrets == 3  # the two doc-0 plants + tok8
    row = _scan(spark, f"zz {tok7} zz")
    assert row.n_secrets == 2  # plants only: distinct floor rejects
    assert SECRET_MIN_DISTINCT == 8


def test_aws_shape_wins_regardless_of_entropy(spark):
    import re

    # a low-entropy AKIA body would fail the collision gate but the
    # shape rule must still flag it
    tok = "AKIA" + "AAAAAAAA00000000"
    assert re.match(AWS_KEY_RE, tok)
    assert coll_ppm_ref(tok) > SECRET_COLL_PPM
    row = _scan(spark, f"cred {tok} end")
    assert row.n_shape_keys == 2  # planted doc-0 key + this one
    assert tok in row.secrets_csv


def test_politeness_slots_and_ranks(spark, sf_dir):
    df = crawl_politeness_plan(spark, sf_dir)
    rows = df.collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    for host, rs in by_host.items():
        ranks = sorted(r.host_rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), host  # tie-free
        for r in rs:
            assert r.queue_depth == len(rs)
            assert r.fetch_slot_s == (r.host_rank - 1) * r.delay_s
            assert r.host_makespan_s == (len(rs) - 1) * r.delay_s
            assert 1 <= r.delay_s <= 5


def test_politeness_priority_is_house_mix(spark, sf_dir):
    # rank order within a host must follow the 2^31 multiplicative
    # mix of doc_id, ascending
    df = crawl_politeness_plan(spark, sf_dir).filter(
        F.col("queue_depth") > 1
    )
    rows = df.collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    host, rs = next(iter(by_host.items()))
    rs.sort(key=lambda r: r.host_rank)
    mixes = [
        ((r.doc_id % 2147483648) * 2654435761) % 2147483648 for r in rs
    ]
    assert mixes == sorted(mixes), host


def test_web_pipeline_verdicts_decompose(spark, sf_dir):
    from advisorydatapipeline_spark.queries.web_queries import (
        web_corpus_pipeline,
    )

    rows = web_corpus_pipeline(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.selected == (
            r.crawl_ok and r.unique_ok and r.length_ok and r.clean_ok
        )
    # every verdict arm must actually vary somewhere in the corpus
    # except crawl_ok, which is all-true at tiny sf (path universe
    # stays inside the allowed prefixes until pg exceeds cat2)
    for col in ("unique_ok", "clean_ok", "selected"):
        vals = {getattr(r, col) for r in rows}
        assert vals == {True, False}, col


def test_license_matrix_verdicts(spark, sf_dir):
    from advisorydatapipeline_spark.queries.web_queries import (
        LICENSE_MATRIX,
        license_compat_audit,
    )

    rows = license_compat_audit(spark, sf_dir).collect()
    m = {l: (r, d, c) for l, r, d, c in LICENSE_MATRIX}
    seen = set()
    for r in rows:
        seen.add(r.license)
        rr, dd, cc = m[r.license]
        assert (r.redistributable, r.derivatives_ok, r.commercial_ok) \
            == (rr, dd, cc)
        assert r.release_ok == (rr and dd and cc)
        assert r.n_blocked == (0 if r.release_ok else r.n_docs)
    assert {"cc-by-nc", "unknown"} & seen  # blockers present
    assert any(r.release_ok for r in rows)


def test_refresh_intervals_clamped_and_ranked(spark, sf_dir):
    from advisorydatapipeline_spark.queries.web_queries import (
        REFRESH_MAX_S,
        REFRESH_MIN_S,
        crawl_frontier_refresh,
    )

    rows = crawl_frontier_refresh(spark, sf_dir).collect()
    assert rows
    order = sorted(rows, key=lambda r: (r.next_crawl_s, r.page_id))
    for i, r in enumerate(order, 1):
        assert REFRESH_MIN_S <= r.refresh_interval_s <= REFRESH_MAX_S
        assert r.next_crawl_s - r.refresh_interval_s >= 0
        assert r.crawl_rank == i  # global order matches schedule
    # Laplace smoothing: pages with more changes refresh no slower
    # than an identical-span page with fewer changes
    by_span = {}
    for r in rows:
        by_span.setdefault(r.span_s, []).append(r)
    for span, rs in by_span.items():
        rs.sort(key=lambda r: r.n_changes)
        ivals = [r.refresh_interval_s for r in rs]
        assert ivals == sorted(ivals, reverse=True), span
