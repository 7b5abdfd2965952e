"""Scale-behavior smoke: measure how the dedup/curation operators'
wall time grows as the corpus multiplies.

The sf tables cap out at sf0.1 (5k docs), so this synthesizes larger
corpora by replicating sf0.1 `documents` R times with perturbed tails
(replicas become NEAR-dups of each other — the worst realistic load
for near-dup mining: every document belongs to an R-sized clone
cluster). It then times the core operators at R in {1, 2, 4} and
prints time ratios next to the input ratios. Sub-linear or ~linear
ratios = the plan scales; super-linear = a blowup the df-cap/banding
should have prevented.

Usage: python tools/scale_smoke.py [sf_dir] (writes SCALE.md)
The driver heap must fit in RAM: on a 16 GB box set
SPARK_GRAFT_DRIVER_MEM=8g, or the JVM dies in the PPJoin x8 step.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from advisorydatapipeline_spark.session import get_spark  # noqa: E402
from advisorydatapipeline_spark.sources.io import scratch_dir  # noqa: E402
from advisorydatapipeline_spark.operators.dedup import (  # noqa: E402
    exact_dedup_groups,
    jaccard_pairs,
    minhash_near_dupes,
    shingle_index,
    simhash64_near_dupes,
)
from advisorydatapipeline_spark.operators.graph import (  # noqa: E402
    connected_components,
)
from advisorydatapipeline_spark.operators.ranking import (  # noqa: E402
    span_dup_profile,
    tfidf_topk,
)
from advisorydatapipeline_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    ivf_topk,
)
from advisorydatapipeline_spark.queries.graph_queries import SUPP_OFFSET  # noqa: E402

REPLICAS = [1, 2, 4]
MAX_DOC_FREQ = 100
MIN_JACCARD = 0.4


def corpus(spark, sf_dir: str, r: int, base: str) -> str:
    """Replicate documents r times with perturbed tails; parquet out."""
    path = f"{base}/docs_x{r}"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("_r"),
        "doc_id",
        "text",
        "lang",
    ).select(
        (F.col("doc_id") + F.col("_r") * 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" tail"), F.col("_r").cast("string")).alias(
            "text"
        ),
        "lang",
    )
    big.write.mode("overwrite").parquet(path)
    return path


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 2)


def run(spark, path: str) -> dict[str, float]:
    docs = spark.read.parquet(path)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}
    out["exact_dedup"] = timed(
        lambda: noop(exact_dedup_groups(docs, "doc_id", "text"))
    )
    out["minhash_lsh"] = timed(
        lambda: noop(
            minhash_near_dupes(
                docs, "doc_id", "text", max_doc_freq=MAX_DOC_FREQ
            )
        )
    )
    # corpus-sized candidate keys (simhash_plan_blocks): at smoke
    # scale the policy still picks b=4, but the restructured plan
    # (inline XOR-popcount verification, no candidate distinct, no
    # signature re-joins) is what's under test here
    n_docs = docs.count()
    out["simhash64"] = timed(
        lambda: noop(
            simhash64_near_dupes(
                docs, "doc_id", "text", plan_rows=n_docs
            )
        )
    )

    def clusters():
        idx = shingle_index(
            docs, "doc_id", "text", 3, max_doc_freq=MAX_DOC_FREQ
        ).persist()
        pairs = jaccard_pairs(idx, "doc_id", MIN_JACCARD)
        noop(connected_components(pairs, "id_a", "id_b"))
        idx.unpersist()

    out["jaccard_cc"] = timed(clusters)
    out["tfidf_topk"] = timed(
        lambda: noop(tfidf_topk(docs, "doc_id", "text", k=5))
    )
    out["span_dup"] = timed(
        lambda: noop(span_dup_profile(docs, "doc_id", "text", n=3, hot_df=4))
    )

    def containment():
        from advisorydatapipeline_spark.operators.dedup import (
            containment_pairs,
        )

        idx = shingle_index(
            docs, "doc_id", "text", 3, max_doc_freq=MAX_DOC_FREQ
        ).persist()
        noop(containment_pairs(idx, "doc_id", 0.5))
        idx.unpersist()

    out["containment"] = timed(containment)

    def bloom():
        from advisorydatapipeline_spark.operators.dedup import (
            bloom_build,
            bloom_probe_docs,
        )

        idx = shingle_index(docs, "doc_id", "text", 3).persist()
        is_new = F.col("doc_id") % 10 == 7
        bl = bloom_build(idx.filter(~is_new), "shingle")
        noop(bloom_probe_docs(idx.filter(is_new), bl, "doc_id"))
        idx.unpersist()

    out["bloom_probe"] = timed(bloom)

    def passages():
        from advisorydatapipeline_spark.operators.dedup import (
            duplicate_passages,
        )

        noop(
            duplicate_passages(
                docs,
                "doc_id",
                "text",
                8,
                max_doc_freq=MAX_DOC_FREQ,
                min_run_tokens=15,
            )
        )

    out["dup_passages"] = timed(passages)
    return out


def emb_corpus(spark, sf_dir: str, r: int, base: str) -> str:
    """Replicate embeddings r times (offset ids, labels kept)."""
    path = f"{base}/emb_x{r}"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    big = emb.select(
        F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("_r"),
        "vec_id",
        "embedding",
        "label",
    ).select(
        (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
        "embedding",
        "label",
    )
    big.write.mode("overwrite").parquet(path)
    return path


def run_similarity(spark, path: str) -> dict[str, float]:
    """ANN brute vs IVF under corpus growth, FIXED query set: brute
    cost grows with corpus x queries, IVF only with the probed
    fraction — the contrast is the whole point of the IVF path."""
    emb = spark.read.parquet(path)
    # FIXED query set: base-replica ids only (replica offsets are
    # multiples of 1M, which % 500 would re-select — the query count
    # must not grow with the corpus or brute-force cost reads as R^2)
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1_000_000)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}
    out["ann_brute"] = timed(lambda: noop(cosine_topk(emb, queries, 5)))
    out["ann_ivf"] = timed(
        lambda: noop(ivf_topk(emb, queries, centroids, 5, 2))
    )

    def rhp():
        from advisorydatapipeline_spark.operators.similarity import (
            rhp_near_dupes,
            rhp_plan_size,
            rhp_weights,
        )

        # POLICY-SIZED bands (rhp_plan_size): the band key space must
        # scale with the corpus so buckets stay ~target_bucket — a
        # fixed band width saturates (x4 ratio 8.99 in round 4's
        # smoke) because buckets grow O(n) and the candidate equi-join
        # O(n^2 / keys). The planes matrix stays a plan literal.
        n = emb.count()
        n_planes, band_bits = rhp_plan_size(n)
        noop(
            rhp_near_dupes(
                emb, rhp_weights(n_planes, 64), 0.35, band_bits=band_bits
            )
        )

    # rhp pairs grow ~R^2 by construction (replicas are exact clones
    # in embedding space); candidate-bounded like the text LSH ops
    out["rhp_lsh"] = timed(rhp)

    def pq():
        from advisorydatapipeline_spark.operators.similarity import (
            pq_adc_topk,
            pq_codebook,
        )

        cb = pq_codebook(emb, n_sub=8, sub_dim=8, n_code=16)
        noop(pq_adc_topk(emb, queries, cb, 5, n_sub=8, sub_dim=8))

    # PQ ADC scans corpus x queries like brute, but each pair is 8
    # table lookups instead of a 64-dim dot — the slope should track
    # ann_brute's R ratio with a much smaller constant
    out["ann_pq_adc"] = timed(pq)

    def ivfpq():
        from advisorydatapipeline_spark.operators.similarity import (
            ivf_pq_topk,
        )

        noop(
            ivf_pq_topk(
                emb, queries, centroids, 5,
                nprobe=2, n_sub=8, sub_dim=8, n_code=16,
            )
        )

    # IVF+PQ touches only the probed fraction AND pays lookups per
    # pair — both levers at once; the ratio should track ann_ivf
    out["ann_ivf_pq"] = timed(ivfpq)
    return out


def edge_corpus(spark, sf_dir: str, r: int, base: str) -> str:
    """Replicate the customer<->supplier edge list r times as DISJOINT
    copies (node ids offset per replica): the honest scaling for the
    iterative graph family — structure is preserved, per-round
    shuffle volume grows r-fold, and iteration counts stay put (a
    denser graph would instead change the algorithmic work)."""
    path = f"{base}/edges_x{r}"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    big = e0.select(
        F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("_r"),
        "src",
        "dst",
    ).select(
        (F.col("src") + F.col("_r") * 100_000_000).alias("src"),
        (F.col("dst") + F.col("_r") * 100_000_000).alias("dst"),
    )
    big.write.mode("overwrite").parquet(path)
    return path


def _shuffle_write_bytes(spark) -> int | None:
    """Cumulative shuffle-write bytes from the executor summaries
    (UI REST) — diffing this around an op gives its per-run shuffle
    volume. The per-stage listing is NOT usable for this: it retains
    a bounded window (spark.ui.retainedStages) and evictions make the
    sum non-monotonic; executor totals are lifetime-cumulative."""
    import json as _json
    import urllib.request

    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        url = f"{ui}/api/v1/applications/{app}/executors"
        with urllib.request.urlopen(url, timeout=10) as rsp:
            execs = _json.loads(rsp.read())
        return sum(e.get("totalShuffleWrite", 0) for e in execs)
    except Exception:
        return None


def run_graph(spark, path: str):
    """The iterative graph family on the replicated edge corpus:
    wall time AND shuffle-write bytes per op (iteration shuffles are
    the 100 TB cost driver; times alone hide a super-linear shuffle
    behind executor parallelism headroom)."""
    from advisorydatapipeline_spark.operators.graph import (
        bfs_hops,
        k_core_peel,
        label_propagation,
        pagerank_quantized,
    )
    from advisorydatapipeline_spark.operators.similarity import (
        dbscan_chebyshev,
    )
    from advisorydatapipeline_spark.functions.text import hash64
    from advisorydatapipeline_spark.queries.similarity_queries import (
        DB_EPS,
        DB_MINPTS,
    )

    edges = spark.read.parquet(path)
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    shuffles: dict[str, float | None] = {}

    def run_op(name: str, fn) -> None:
        b0 = _shuffle_write_bytes(spark)
        times[name] = timed(fn)
        b1 = _shuffle_write_bytes(spark)
        shuffles[name] = (
            round((b1 - b0) / 1e6, 1)
            if b0 is not None and b1 is not None
            else None
        )
        spark.catalog.clearCache()

    run_op(
        "connected_components",
        lambda: noop(connected_components(edges, "src", "dst")),
    )
    run_op(
        "pagerank",
        lambda: noop(pagerank_quantized(edges, "src", "dst", iters=3)),
    )
    seeds = edges.agg(F.min("src").alias("node"))
    run_op("bfs_hops", lambda: noop(bfs_hops(und, seeds, 4)))

    def kcore():
        u = und.localCheckpoint()
        deg0 = u.groupBy("a").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        ks = deg0.agg(
            F.greatest(
                F.lit(4).cast("long"),
                F.expr("CAST(sum(c) AS BIGINT) DIV count(*) DIV 3"),
            ).alias("k")
        ).localCheckpoint()
        noop(
            k_core_peel(u, ks)
            .groupBy("a")
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        )

    run_op("k_core", kcore)
    run_op(
        "lpa",
        lambda: noop(label_propagation(und.localCheckpoint(), 4)),
    )

    def dbscan():
        ids = und.select(F.col("a").alias("id")).distinct()
        # SMOOTH density policy for the smoke (grid area ~ 273*n, the
        # registry ladder's density at its sf0.01 operating point):
        # the stepwise _DB_GRID_SQL ladder is oracle-tied and jumps
        # density up to ~4x at its thresholds, which makes cross-scale
        # timing ratios meaningless — holding expected neighbor count
        # constant is the comparable-load contract here
        grid = ids.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.greatest(
                F.lit(96), F.ceil(F.lit(16.5) * F.sqrt("n")).cast("long")
            ).alias("grid")
        )
        k = F.col("id").cast("string")
        pts = ids.crossJoin(F.broadcast(grid)).select(
            "id",
            (hash64(F.concat(F.lit("dx"), k)) % F.col("grid")).alias("x"),
            (hash64(F.concat(F.lit("dy"), k)) % F.col("grid")).alias("y"),
        )
        mp = grid.select(F.lit(DB_MINPTS).cast("long").alias("minpts"))
        noop(dbscan_chebyshev(pts, DB_EPS, mp))

    run_op("dbscan", dbscan)
    return times, shuffles


STREAM_N_FILES = 6


def event_stream_corpus(spark, sf_dir: str, r: int, base: str) -> str:
    """Replicate the events table r times with DISJOINT user ids
    (event times unchanged) as STREAM_N_FILES time-ordered parquet
    files: windows stay put while per-window state rows grow r-fold —
    the honest scaling for watermarked streaming state. Files are
    written in event-time order (FileStreamSource schedules by mtime)
    so watermark advancement matches a live in-order feed."""
    import glob
    import os
    import shutil as _sh

    path = f"{base}/stream_x{r}"
    os.makedirs(path, exist_ok=True)
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("ts").isNotNull())
    )
    big = ev.select(
        F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("_r"), ev["*"]
    ).select(
        (F.col("event_id") + F.col("_r") * 100_000_000).alias("event_id"),
        (F.col("user_id") + F.col("_r") * 10_000_000).alias("user_id"),
        "event_type",
        "ts",
        "value",
    )
    # approxQuantile does not support TIMESTAMP/TIMESTAMP_NTZ columns
    # (the physical type of events.ts since driver round 2), so the
    # time-split bounds are computed on an epoch-seconds long view and
    # the per-file filters compare the same cast — ordering identical.
    # (TIMESTAMP_NTZ has no direct long cast; TIMESTAMP does)
    big = big.withColumn(
        "_ts_s", F.col("ts").cast("timestamp").cast("long")
    )
    bounds = big.select("_ts_s").approxQuantile(
        "_ts_s", [i / STREAM_N_FILES for i in range(1, STREAM_N_FILES)], 0.001
    )
    lo = [None] + bounds
    hi = bounds + [None]
    for i in range(STREAM_N_FILES):
        part = big
        if lo[i] is not None:
            part = part.filter(F.col("_ts_s") >= lo[i])
        if hi[i] is not None:
            part = part.filter(F.col("_ts_s") < hi[i])
        part = part.drop("_ts_s")
        tmp = f"{path}/_tmp_{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        for j, f in enumerate(sorted(glob.glob(f"{tmp}/part-*.parquet"))):
            _sh.move(f, f"{path}/{i:02d}_{j}.parquet")
        _sh.rmtree(tmp)
    return path


def run_streaming(spark, path: str) -> dict[str, dict]:
    """The stateful streaming family on the replicated event stream:
    drain wall time, micro-batch count, MAX per-batch latency, and
    MAX state-store rows per query (state rows and batch latency are
    the streaming scale currencies — wall time alone hides state
    blowups behind executor headroom)."""
    from advisorydatapipeline_spark.streaming.pipeline import (
        read_event_stream,
        running_transitions,
        windowed_event_counts,
    )

    def drain(stream_df, mode: str) -> dict:
        t0 = time.time()
        q = (
            stream_df.writeStream.format("noop")
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        wall = round(time.time() - t0, 2)
        import json as _json

        progresses = [
            p if isinstance(p, dict) else _json.loads(p.json)
            for p in (q.recentProgress or [])
        ]
        q.stop()
        batches = [p for p in progresses if p.get("numInputRows", 0) > 0]
        lat = [
            p.get("durationMs", {}).get("triggerExecution", 0)
            for p in batches
        ]
        state = [
            s.get("numRowsTotal", 0)
            for p in batches
            for s in (p.get("stateOperators") or [])
        ]
        return {
            "wall": wall,
            "batches": len(batches),
            "max_batch_ms": max(lat) if lat else 0,
            "max_state_rows": max(state) if state else 0,
        }

    out: dict[str, dict] = {}
    ev = read_event_stream(spark, path, max_files_per_trigger=1)
    out["hourly_counts"] = drain(windowed_event_counts(ev), "update")
    ev = read_event_stream(spark, path, max_files_per_trigger=1)
    sliding = (
        ev.withWatermark("event_time", "2 hours")
        .groupBy(
            F.window("event_time", "1 hour", "30 minutes").alias("win"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
    )
    out["sliding_distinct"] = drain(sliding, "update")
    ev = read_event_stream(spark, path, max_files_per_trigger=1)
    out["transitions"] = drain(
        running_transitions(
            ev.select("user_id", "event_id", "ts", "event_type")
        ),
        "update",
    )
    return out


def run_ppjoin(spark, path: str):
    """PPJoin (prefix+positional) vs the df-capped all-pairs plan,
    measured head to head on the identical capped index: wall time
    AND candidate-pair counts (the df-capped plan's hash-join
    candidates vs PPJoin's prefix candidates before/after the
    positional filter). The PPJoin claim is that its candidate curve
    grows slower than the capped plan's as clone clusters multiply —
    count it, don't argue it."""
    from advisorydatapipeline_spark.functions.text import hash64
    from advisorydatapipeline_spark.operators.dedup import (
        jaccard_pairs_prefix,
        prefix_candidates,
    )

    docs = spark.read.parquet(path)
    idx = shingle_index(
        docs, "doc_id", "text", 3, max_doc_freq=MAX_DOC_FREQ
    ).persist()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, float | int] = {}
    out["t_capped"] = timed(
        lambda: noop(jaccard_pairs(idx, "doc_id", MIN_JACCARD))
    )
    out["t_ppjoin"] = timed(
        # guard_max_docs=None: this IS the deliberate oversized
        # baseline A/B run the guard exists to prevent elsewhere
        lambda: noop(
            jaccard_pairs_prefix(idx, "doc_id", 2, 5, guard_max_docs=None)
        )
    )
    # candidate volumes (counts are measurement, not the hot path)
    key = hash64(F.col("shingle")).alias("_sh")
    a = idx.select(F.col("doc_id").alias("id_a"), key)
    b = idx.select(F.col("doc_id").alias("id_b"), key)
    out["cand_capped"] = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    out["cand_prefix"] = prefix_candidates(
        idx, "doc_id", 2, 5, positional=False
    ).count()
    out["cand_positional"] = prefix_candidates(
        idx, "doc_id", 2, 5, positional=True
    ).count()
    idx.unpersist()
    spark.catalog.clearCache()
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        "scale-smoke", extra_conf={"spark.ui.enabled": "true"}
    )
    base = scratch_dir("scale")
    results: dict[int, dict[str, float]] = {}
    counts: dict[int, int] = {}
    for r in REPLICAS:
        path = corpus(spark, sf_dir, r, base)
        epath = emb_corpus(spark, sf_dir, r, base)
        counts[r] = spark.read.parquet(path).count()
        # warm-up once at the smallest size so codegen/JIT one-time
        # costs don't masquerade as scaling
        if r == REPLICAS[0]:
            run(spark, path)
            run_similarity(spark, epath)
        results[r] = run(spark, path)
        results[r].update(run_similarity(spark, epath))
        print(f"x{r} ({counts[r]} docs): {results[r]}", flush=True)

    # rhp-only x8 extension: the policy claim is that band sizing
    # bends the curve PAST the range where fixed bands saturated, so
    # measure one more doubling for just this op (full x8 for every
    # op would double smoke wall time for no extra signal).
    from advisorydatapipeline_spark.operators.similarity import (
        rhp_near_dupes,
        rhp_plan_size,
        rhp_weights,
    )

    rhp_rs = REPLICAS + [8]
    rhp_times: dict[int, float] = {
        r: results[r]["rhp_lsh"] for r in REPLICAS
    }
    rhp_bits: dict[int, int] = {}
    for r in rhp_rs:
        epath = f"{base}/emb_x{r}"
        if r not in results:
            epath = emb_corpus(spark, sf_dir, r, base)
        emb = spark.read.parquet(epath)
        n = emb.count()
        n_planes, band_bits = rhp_plan_size(n)
        rhp_bits[r] = band_bits
        if r not in results:
            t0 = time.time()
            rhp_near_dupes(
                emb, rhp_weights(n_planes, 64), 0.35, band_bits=band_bits
            ).write.format("noop").mode("overwrite").save()
            rhp_times[r] = round(time.time() - t0, 2)
    print(f"rhp x8 extension: {rhp_times} band_bits={rhp_bits}", flush=True)

    # iterative graph family on disjoint-replicated edge corpora,
    # with per-op shuffle-write bytes (the scale currency)
    graph_times: dict[int, dict[str, float]] = {}
    graph_shuf: dict[int, dict[str, float | None]] = {}
    graph_edges: dict[int, int] = {}
    for r in REPLICAS:
        gpath = edge_corpus(spark, sf_dir, r, base)
        graph_edges[r] = spark.read.parquet(gpath).count()
        if r == REPLICAS[0]:
            run_graph(spark, gpath)  # JIT warm-up
        graph_times[r], graph_shuf[r] = run_graph(spark, gpath)
        print(
            f"graph x{r} ({graph_edges[r]} edges): {graph_times[r]} "
            f"shuffleMB={graph_shuf[r]}",
            flush=True,
        )

    # stateful streaming family on time-ordered replicated streams
    stream_res: dict[int, dict[str, dict]] = {}
    for r in REPLICAS:
        spath = event_stream_corpus(spark, sf_dir, r, base)
        if r == REPLICAS[0]:
            run_streaming(spark, spath)  # JIT/stream-init warm-up
        stream_res[r] = run_streaming(spark, spath)
        print(f"streaming x{r}: {stream_res[r]}", flush=True)

    # PPJoin vs df-capped all-pairs, times + candidate counts, to x8
    pp_rs = REPLICAS + [8]
    pp: dict[int, dict[str, float | int]] = {}
    for r in pp_rs:
        dpath = f"{base}/docs_x{r}"
        if r == 8:
            dpath = corpus(spark, sf_dir, 8, base)
        pp[r] = run_ppjoin(spark, dpath)
        print(f"ppjoin x{r}: {pp[r]}", flush=True)

    ops = list(results[REPLICAS[0]].keys())
    lines = [
        "# SCALE — operator scaling smoke\n",
        f"Replicated sf0.1 documents (perturbed tails => R-sized "
        f"near-dup clone clusters, the worst realistic near-dup load). "
        f"Base corpus {counts[REPLICAS[0]]} docs; JIT warmed before "
        "measurement.\n",
        "Reading the ratios: input grows R-fold but the near-dup PAIR "
        "count grows ~R^2-fold by construction (every replica matches "
        "R-1 others), so a pair-emitting op (minhash_lsh, simhash64, "
        "jaccard_cc) tracking well below the R^2 output curve is "
        "candidate-bounded, not blowing up. ann_brute grows with "
        "corpus x fixed queries (linear here, the labeled ground-truth "
        "ceiling) while ann_ivf probes a fixed cluster fraction — the "
        "gap between those two rows is the IVF scale story. "
        "bloom_probe should be the flattest row of all: the corpus "
        "side collapses into a fixed-size bitmap (<= m/32 rows however "
        "large the corpus) and the probe side is a broadcast join, so "
        "only the probe batch scales. rhp_lsh uses rhp_plan_size's "
        "corpus-sized bands (key space grows with n, buckets stay "
        "~constant) and containment (same df-capped index join as "
        "jaccard) is candidate-bounded like the text LSH rows. "
        "ann_pq_adc scans the same corpus x queries as ann_brute but "
        "pays 8 table lookups per pair instead of a 64-dim dot (same "
        "slope, smaller constant); ann_ivf_pq combines the probe "
        "pruning with the lookup ranking and should track ann_ivf.\n",
        "| op | " + " | ".join(f"x{r} ({counts[r]} docs)" for r in REPLICAS)
        + " | t(x4)/t(x1) vs 4.0 input ratio |",
        "|---|" + "---|" * (len(REPLICAS) + 1),
    ]
    for op in ops:
        ts = [results[r][op] for r in REPLICAS]
        ratio = round(ts[-1] / ts[0], 2) if ts[0] else float("nan")
        lines.append(
            f"| {op} | " + " | ".join(f"{t}s" for t in ts) + f" | {ratio} |"
        )
    lines += [
        "",
        "## rhp_lsh x8 extension (policy-sized bands)",
        "",
        "`rhp_plan_size` grows the per-band key space with the corpus "
        "(expected random bucket ~64 rows), so the candidate join "
        "tracks the true-dup curve instead of saturating like a fixed "
        "band width. band_bits chosen per scale: "
        + ", ".join(f"x{r}->{rhp_bits[r]}b" for r in rhp_rs)
        + ".",
        "",
        "| op | "
        + " | ".join(f"x{r}" for r in rhp_rs)
        + " | t(x8)/t(x1) vs 8.0 input ratio |",
        "|---|" + "---|" * (len(rhp_rs) + 1),
        "| rhp_lsh | "
        + " | ".join(f"{rhp_times[r]}s" for r in rhp_rs)
        + f" | {round(rhp_times[8] / rhp_times[1], 2) if rhp_times[1] else float('nan')} |",
    ]
    g_ops = list(graph_times[REPLICAS[0]].keys())
    lines += [
        "",
        "## Iterative graph family (disjoint-replicated edge corpus)",
        "",
        "Edges replicate as DISJOINT copies (structure preserved, "
        "iteration counts unchanged), so the honest expectation is "
        "~linear time AND ~linear shuffle-write. Shuffle MB per run "
        "comes from the UI REST stage metrics — a super-linear "
        "shuffle row is a blowup even when executor headroom hides "
        "it from wall time. dbscan here runs on hash-synthetic "
        "points derived from the corpus node ids with the "
        "corpus-aware grid ladder (density held ~constant).",
        "",
        "| op | "
        + " | ".join(
            f"x{r} ({graph_edges[r]} edges)" for r in REPLICAS
        )
        + " | t(x4)/t(x1) | shufMB "
        + "/".join(f"x{r}" for r in REPLICAS)
        + " | shuf(x4)/shuf(x1) | shuf(x4)/shuf(x2) steady |",
        "|---|" + "---|" * (len(REPLICAS) + 4),
    ]
    for op in g_ops:
        ts = [graph_times[r][op] for r in REPLICAS]
        ratio = round(ts[-1] / ts[0], 2) if ts[0] else float("nan")
        sws = [graph_shuf[r][op] for r in REPLICAS]
        if all(s is not None for s in sws) and sws[0]:
            sratio = round(sws[-1] / sws[0], 2)
            stxt = "/".join(str(s) for s in sws)
            # x2->x4 is the broadcast-free steady-state slope: at x1
            # small iterating sides often broadcast (no shuffle
            # write), making the x1-based ratio look super-linear
            steady = round(sws[-1] / sws[1], 2) if sws[1] else "n/a"
        else:
            sratio, stxt, steady = "n/a", "n/a", "n/a"
        lines.append(
            f"| {op} | "
            + " | ".join(f"{t}s" for t in ts)
            + f" | {ratio} | {stxt} | {sratio} | {steady} |"
        )
    s_ops = list(stream_res[REPLICAS[0]].keys())
    lines += [
        "",
        "## Stateful streaming family (time-ordered replicated stream)",
        "",
        "Events replicate with DISJOINT user ids and unchanged event "
        "times, split into time-ordered files drained availableNow at "
        "1 file/micro-batch: per-window state rows should grow "
        "~linearly with r (state is per (window,user) / per user, "
        "never per event) and MAX per-batch latency should track the "
        "per-batch input, not the total stream — a super-linear "
        "max_state_rows row means watermark eviction is broken; a "
        "super-linear max_batch_ms means a batch is re-scanning "
        "accumulated state.",
        "",
        "| query | "
        + " | ".join(f"x{r}" for r in REPLICAS)
        + " | state(x4)/state(x1) | maxbatch(x4)/maxbatch(x1) |",
        "|---|" + "---|" * (len(REPLICAS) + 2),
    ]
    for op in s_ops:
        cells = [
            (
                f"{stream_res[r][op]['wall']}s/"
                f"{stream_res[r][op]['batches']}b/"
                f"{stream_res[r][op]['max_batch_ms']}ms/"
                f"{stream_res[r][op]['max_state_rows']}rows"
            )
            for r in REPLICAS
        ]
        s1 = stream_res[REPLICAS[0]][op]["max_state_rows"]
        s4 = stream_res[REPLICAS[-1]][op]["max_state_rows"]
        l1 = stream_res[REPLICAS[0]][op]["max_batch_ms"]
        l4 = stream_res[REPLICAS[-1]][op]["max_batch_ms"]
        sr = round(s4 / s1, 2) if s1 else "n/a"
        lr = round(l4 / l1, 2) if l1 else "n/a"
        lines.append(f"| {op} | " + " | ".join(cells) + f" | {sr} | {lr} |")
    lines += [
        "",
        "## PPJoin (prefix+positional) vs df-capped all-pairs",
        "",
        "Same capped index, output-identical plans. `cand_capped` is "
        "the df-capped hash self-join's distinct candidate pairs; "
        "`cand_prefix` is PPJoin's after the prefix join + length "
        "filter; `cand_positional` after the positional upper-bound "
        "prune. The PPJoin case rests on its candidate curve growing "
        "slower than the capped plan's as clone clusters multiply — "
        "these are the measured counts.",
        "",
        "| x | t_capped | t_ppjoin | cand_capped | cand_prefix | "
        "cand_positional |",
        "|---|---|---|---|---|---|",
    ]
    for r in pp_rs:
        d = pp[r]
        lines.append(
            f"| x{r} | {d['t_capped']}s | {d['t_ppjoin']}s | "
            f"{d['cand_capped']} | {d['cand_prefix']} | "
            f"{d['cand_positional']} |"
        )
    with open("SCALE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("SCALE.md written")


if __name__ == "__main__":
    main()
