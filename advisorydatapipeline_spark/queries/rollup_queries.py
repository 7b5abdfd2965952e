"""Multi-granularity time rollup (hypertable-style continuous
aggregate shape) — beyond-reference; the reference has no grouping
sets/rollup/cube at all (SURVEY.md §2.4).

Day/hour buckets come from integer DIV on the epoch-ns column —
exact, portable, and pushdown-friendly (no timezone/calendar calls in
the hot path; the data is UTC and epoch-aligned).

Scale notes: ROLLUP(d, h) expands each input row to its grouping-set
combinations *after* partial aggregation at the finest grain in
Spark's Expand-then-aggregate plan; the shuffle carries only
|days x hours| x 3 rows. This is the plan a 100 TB hypertable rollup
wants — one pass, no self-unions of the fact table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from advisorydatapipeline_spark.queries.helpers import load, scratch_dir
from advisorydatapipeline_spark.registry import query

US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000


@query(
    "time_rollup",
    oracle=f"""
WITH e AS (
  SELECT (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY} AS day_us,
         (epoch_us(ts) // {US_PER_HOUR}) % 24 AS hour_of_day,
         value
  FROM events WHERE ts IS NOT NULL
)
SELECT day_us, hour_of_day,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(GROUPING(day_us, hour_of_day) AS BIGINT) AS gid
FROM e
GROUP BY ROLLUP(day_us, hour_of_day)
""",
)
def time_rollup(spark, sf_dir):
    """Hour -> day -> grand-total rollup of event counts in one pass
    (Expand + partial agg). min/max are order-independent and exact on
    both engines (a double sum is not)."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    e = ev.select(
        (F.expr(f"ts DIV {US_PER_DAY * 1000}") * US_PER_DAY).alias("day_us"),
        F.expr(f"(ts DIV {US_PER_HOUR * 1000}) % 24").alias("hour_of_day"),
        "value",
    )
    return (
        e.rollup("day_us", "hour_of_day")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


@query(
    "skew_salted_agg",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       min(l_shipdate) AS min_ship,
       max(l_shipdate) AS max_ship
FROM lineitem
GROUP BY l_returnflag
""",
)
def skew_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation on the 3-value (maximally skewed)
    l_returnflag key — identical results to the plain GROUP BY oracle;
    the salt only changes the physical distribution (operators/skew)."""
    from advisorydatapipeline_spark.operators.skew import salted_aggregate

    li = load(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n": ("1", "count"),
            "sum_qty_dec": ("CAST(l_quantity AS DECIMAL(18,2))", "sum"),
            "min_ship": ("l_shipdate", "min"),
            "max_ship": ("l_shipdate", "max"),
        },
        salt_buckets=16,
        salt_on="l_orderkey",
    )
    return out.select(
        "l_returnflag",
        "n",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        "min_ship",
        "max_ship",
    )


@query(
    "grouping_sets_returns",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
""",
)
def grouping_sets_returns(spark, sf_dir):
    """Explicit GROUPING SETS through the DataFrame API (Spark 4
    ``groupingSets``): an arbitrary set list — (flag, status),
    (status), grand total — that ROLLUP/CUBE can't express. Same
    one-pass Expand + partial-agg plan as `time_rollup`; grouping_id
    disambiguates the NULL rows."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


@query(
    "unpivot_metrics",
    oracle="""
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price,
         CAST(count(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, metric, val
FROM wide UNPIVOT (val FOR metric IN (sum_qty, sum_price, n_rows))
""",
)
def unpivot_metrics(spark, sf_dir):
    """Unpivot/melt (wide metrics -> long (metric, value) rows) — the
    inverse of pivot_event_matrix, via the Spark 3.4+ DataFrame
    ``unpivot`` API against DuckDB's UNPIVOT. Melt is a narrow
    row-local expansion: zero extra shuffles after the aggregate."""
    li = load(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "n_rows"],
        "metric",
        "val",
    )


@query(
    "skew_salted_join",
    oracle="""
WITH dim AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS type_sum,
         CAST(count(*) AS BIGINT) AS type_n
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value, d.type_sum, d.type_n
FROM events e JOIN dim d ON e.event_type = d.event_type
WHERE e.value > 90
""",
)
def skew_salted_join(spark, sf_dir):
    """Skew-safe equi-join: the fact's join key has ~5 distinct
    values (every key is hot), the worst shuffle-join case — one
    reducer per key would own 1/5 of the table. ``salted_join``
    splits each hot key across 16 salt buckets and replicates the dim
    row per bucket; the result is row-identical to the plain join
    (this oracle IS the plain join). At test scale the replicated dim
    still broadcasts; at 100 TB with a too-big-to-broadcast dim the
    same operator keeps per-reducer load bounded at 1/16th of a hot
    key (see tests/test_skew.py for the plan-level assertions)."""
    from advisorydatapipeline_spark.operators.skew import salted_join

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    d = F.col("value").cast("decimal(18,2)")
    dim = ev.groupBy("event_type").agg(
        F.sum(d).cast("double").alias("type_sum"),
        F.count("*").alias("type_n"),
    )
    return salted_join(
        ev.filter(F.col("value") > 90),
        dim,
        ["event_type"],
        salt_buckets=16,
        salt_on="event_id",
    ).select("event_id", "event_type", "value", "type_sum", "type_n")


US_PER_DAY_SPINE = 86_400_000_000


@query(
    "calendar_spine_fill",
    oracle=f"""
WITH e AS (
  SELECT epoch_us(ts) // {US_PER_DAY_SPINE} AS d, value
  FROM events WHERE ts IS NOT NULL
),
daily AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
  FROM e GROUP BY 1
),
b AS (SELECT min(d) AS lo, max(d) AS hi FROM e),
spine AS (SELECT unnest(generate_series(lo, hi)) AS d FROM b)
SELECT s.d AS day_idx,
       COALESCE(daily.n, 0) AS n_events,
       COALESCE(daily.sv, 0.0) AS sum_value
FROM spine s LEFT JOIN daily ON daily.d = s.d
""",
)
def calendar_spine_fill(spark, sf_dir):
    """Time-series gap filling: a generated day spine (sequence over
    the observed [min, max] day range — a 1-row broadcast aggregate,
    never a driver collect) left-joined to the daily rollup so silent
    days appear as explicit zeros. Integer day indices from epoch-us
    division keep the bucketing exact; the spine explode is narrow
    (one row per day, not per event)."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = F.expr(f"(ts DIV 1000) DIV {US_PER_DAY_SPINE}")
    daily = ev.groupBy(day.alias("d")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sv"),
    )
    bounds = ev.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    return (
        spine.join(daily, "d", "left")
        .select(
            F.col("d").alias("day_idx"),
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias(
                "n_events"
            ),
            F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
        )
    )


@query(
    "incremental_rollup_merge",
    oracle=f"""
WITH e AS (
  SELECT (epoch_us(ts) // {US_PER_DAY}) AS day, event_type,
         value, user_id
  FROM events WHERE ts IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS qvalue_sum,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(count(DISTINCT day) AS BIGINT) AS n_days
FROM e
GROUP BY event_type
""",
)
def incremental_rollup_merge(spark, sf_dir):
    """Incremental aggregate maintenance — the other half of the
    100 TB precompute-and-merge pattern next to `hll_shard_union`:
    per-DAY partial aggregates are materialized once (in production, a
    parquet table appended per ingested partition; here a scratch
    write per sf_dir), and the cross-period query MERGES the partials
    (sum of counts, sum of quantized sums, min of mins, max of maxes)
    instead of rescanning raw events. Every aggregate here is
    decomposable, which is exactly what makes it incrementally
    maintainable; the oracle computes the same answer directly from
    the raw table, proving merge == direct. Value sums are quantized
    to integer cents so partial-then-merge is bit-identical to
    one-shot."""
    from pathlib import Path

    # per-process scratch (never a fixed /tmp path): a marker surviving
    # across processes would serve STALE partials if the source data
    # is ever regenerated between runs
    base = Path(
        scratch_dir("incr_rollup_" + sf_dir.strip("/").replace("/", "_"))
    )
    daily_path = str(base / "daily")
    marker = base / "_staged"
    if not marker.exists():
        base.mkdir(parents=True, exist_ok=True)
        ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
        daily = (
            ev.select(
                F.expr(f"ts DIV {US_PER_DAY * 1000}").alias("day"),
                "event_type",
                "value",
            )
            .groupBy("day", "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.floor(F.col("value") * 100).cast("long")
                ).alias("qvalue_sum"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )
        # one file per day partition — the layout an append-per-day
        # production table would have
        daily.write.mode("overwrite").partitionBy("day").parquet(daily_path)
        marker.write_text("ok")
    partials = spark.read.parquet(daily_path)
    return partials.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("qvalue_sum").cast("long").alias("qvalue_sum"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.countDistinct("day").cast("long").alias("n_days"),
    )


CMS_D, CMS_W = 4, 64  # depth (hash rows) x width (counters per row)

_CMS_DH = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
_CMS_KEY = "'cms' || CAST(u.i AS VARCHAR) || ':' || {t}"


@query(
    "countmin_estimates",
    oracle=f"""
WITH cells AS (
  SELECT u.i AS i,
         {_CMS_DH.format(x=_CMS_KEY.format(t='event_type'))} % {CMS_W}
           AS col,
         CAST(count(*) AS BIGINT) AS n
  FROM events, unnest([0, 1, 2, 3]) AS u(i)
  GROUP BY 1, 2
),
types AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY 1
),
probes AS (
  SELECT t.event_type, t.true_n, u.i AS i,
         {_CMS_DH.format(x=_CMS_KEY.format(t='t.event_type'))} % {CMS_W}
           AS col
  FROM types t, unnest([0, 1, 2, 3]) AS u(i)
)
SELECT p.event_type, p.true_n,
       CAST(min(c.n) AS BIGINT) AS cms_estimate,
       CAST(min(c.n) - p.true_n AS BIGINT) AS overestimate
FROM probes p JOIN cells c ON c.i = p.i AND c.col = p.col
GROUP BY 1, 2
""",
)
def countmin_estimates(spark, sf_dir):
    """Count-min sketch as a RELATIONAL composition: the {4}x{64}
    cell matrix is a groupBy over (row, portable-hash % width) — one
    partial-agg shuffle whose map-side combine IS the per-shard
    sketch merge (the sketch is mergeable because addition is) — and
    point estimates are min-over-rows via an equi-join of the probe
    keys. Every cell and estimate is an exact integer under the
    md5-portable hash family, so the oracle rebuilds the identical
    sketch and the CMS guarantee (estimate >= true count, here
    surfaced as `overestimate`) is value-checked, not just claimed.
    At 100 TB the sketch stays {4}x{64} BIGINTs regardless of input;
    only the probe set scales."""
    from advisorydatapipeline_spark.functions.text import hash64

    ev = load(spark, sf_dir, "events")

    def rowcol(tcol):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (
                            hash64(
                                F.concat(F.lit(f"cms{i}:"), F.col(tcol))
                            )
                            % CMS_W
                        ).alias("col"),
                    )
                    for i in range(CMS_D)
                ]
            )
        )

    cells = (
        ev.select(rowcol("event_type").alias("rc"))
        .select("rc.i", "rc.col")
        .groupBy("i", "col")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    types = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    probes = types.select(
        "event_type", "true_n", rowcol("event_type").alias("rc")
    ).select("event_type", "true_n", "rc.i", "rc.col")
    return (
        probes.join(cells, ["i", "col"])
        .groupBy("event_type", "true_n")
        .agg(
            F.min("n").alias("cms_estimate"),
            (F.min("n") - F.col("true_n")).alias("overestimate"),
        )
    )


KMV_K = 64
_KMV_HMAX = 1 << 60  # portable md5-60bit hash space


@query(
    "kmv_distinct_sketch",
    oracle=f"""
WITH h AS (
  SELECT DISTINCT
    (('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
     ::BIGINT) AS hv
  FROM events
),
ranked AS (
  SELECT hv, row_number() OVER (ORDER BY hv) AS rk FROM h
),
kth AS (SELECT hv AS kth_hash FROM ranked WHERE rk = {KMV_K}),
truth AS (SELECT CAST(count(*) AS BIGINT) AS true_distinct FROM h)
SELECT CAST({KMV_K} AS BIGINT) AS k,
       kth_hash,
       CAST(({_KMV_HMAX} // kth_hash) * ({KMV_K} - 1) AS BIGINT)
         AS kmv_estimate,
       true_distinct
FROM kth CROSS JOIN truth
""",
)
def kmv_distinct_sketch(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch: keep the {64}
    smallest portable hashes of the key; the k-th smallest fixes the
    estimate (k-1) * H / h_(k). The third mergeable distinct
    estimator in the suite (HLL: fixed registers; Theta: sampled
    set; KMV: order statistics) — and uniquely, BOTH the sketch
    content (the k-th hash) and the estimate are exact integers, so
    the oracle value-checks the estimator itself, not a tolerance
    claim. Distributed shape: the k smallest hashes come from
    orderBy + limit — TakeOrderedAndProject (per-partition top-k,
    k-row merge), NOT a single-partition rank window over the
    distinct-hash table; the k-th value is then max() of the k-row
    result and the estimate math is one row."""
    from advisorydatapipeline_spark.functions.text import hash64

    ev = load(spark, sf_dir, "events")
    h = ev.select(
        hash64(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
        ).alias("hv")
    ).distinct()
    # the count guard preserves the rank-window semantics when the
    # corpus has fewer than k distinct keys (oracle: rk = k matches
    # nothing -> empty result, not a smaller-k estimate)
    kth = (
        h.orderBy("hv")
        .limit(KMV_K)
        .agg(
            F.max("hv").alias("kth_hash"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") == KMV_K)
        .select("kth_hash")
    )
    truth = h.agg(F.count(F.lit(1)).alias("true_distinct"))
    return (
        kth.crossJoin(F.broadcast(truth))
        .select(
            F.lit(KMV_K).cast("long").alias("k"),
            "kth_hash",
            # divide FIRST: (k-1) * H overflows BIGINT; the
            # reordered floor costs < (k-1) absolute error on an
            # O(true_distinct) estimate — noise for an estimator
            F.expr(
                f"CAST(({_KMV_HMAX} DIV kth_hash) * ({KMV_K} - 1)"
                " AS BIGINT)"
            ).alias("kmv_estimate"),
            "true_distinct",
        )
    )


# --- AMS F2 moment sketch (Alon-Matias-Szegedy 1996; r15) -------------

AMS_J = 16  # independent +/-1 estimators; lower median reported

_AMS_DH = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
_AMS_KEY = "'ams' || CAST(u.j AS VARCHAR) || '#' || term"


@query(
    "ams_f2_moment",
    oracle=f"""
WITH tok AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'),
           x -> x <> '')) AS term
  FROM documents
),
cnt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
),
z AS (
  SELECT u.j AS j,
         CAST(sum(cnt * (1 - 2 * ({_AMS_DH.format(x=_AMS_KEY)} % 2)))
              AS BIGINT) AS z
  FROM cnt, unnest(generate_series(0, {AMS_J - 1})) AS u(j)
  GROUP BY 1
),
est AS (SELECT j, z, z * z AS est FROM z),
med AS (
  SELECT CAST(est AS BIGINT) AS est_median FROM (
    SELECT est, row_number() OVER (ORDER BY est ASC, j ASC) AS rn
    FROM est
  ) WHERE rn = {AMS_J // 2}
),
mn AS (
  SELECT CAST(sum(est) // {AMS_J} AS BIGINT) AS est_mean FROM est
),
f2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact
  FROM cnt
)
SELECT f2.n_terms, f2.n_tokens, f2.f2_exact, med.est_median,
       mn.est_mean,
       CAST(CASE WHEN med.est_median >= f2.f2_exact THEN 1 ELSE -1
            END AS BIGINT) AS bias_sign,
       abs(med.est_median - f2.f2_exact) * 1000000 // f2.f2_exact
         AS err_ppm
FROM f2, med, mn
""",
)
def ams_f2_moment(spark, sf_dir):
    """AMS second-frequency-moment sketch (Alon, Matias & Szegedy
    1996 — the tug-of-war sketch; F2 = sum of squared term counts is
    the self-join size / repeat-rate statistic a shuffle planner
    wants without materializing the count table): {16} independent
    +/-1 projections z_j = sum_t cnt(t) * sign_j(t) with
    E[z^2] = F2; BOTH the lower median of z^2 (robust) and the
    unbiased mean (sum DIV 16) are reported next to the exact F2
    and a signed integer-ppm error — the estimator and its ground
    truth in one plan, the countmin/kmv audit discipline. Signs come
    from the portable md5 hash64 parity (engine-exact). J=16 is a
    DEMO width: a single fixed hash family is one draw from a
    chi-square-like distribution (~sqrt(2/J) relative std, worse
    under heavy hitters); production raises J and uses
    median-of-means over groups.

    Scale: one shuffle builds the term-count table; the {16}-way
    sign expansion runs over TERMS (not occurrences) and
    partial-aggs to 16 rows; the median is a window over those 16
    rows (constant, allowlisted). Sketch merge = adding z vectors —
    the map-side combine is the merge."""
    from advisorydatapipeline_spark.functions.text import (
        hash64,
        tokens,
    )
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    je = cnt.select(
        "term",
        "cnt",
        F.explode(
            F.array(*[F.lit(j) for j in range(AMS_J)])
        ).alias("j"),
    )
    sign = 1 - 2 * (
        hash64(
            F.concat(
                F.lit("ams"),
                F.col("j").cast("string"),
                F.lit("#"),
                F.col("term"),
            )
        )
        % 2
    )
    z = je.groupBy("j").agg(
        F.sum(F.col("cnt") * sign).cast("long").alias("z")
    )
    est = z.select("j", "z", (F.col("z") * F.col("z")).alias("est"))
    w = Window.orderBy(F.col("est").asc(), F.col("j").asc())
    med = (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == AMS_J // 2)
        .select(F.col("est").cast("long").alias("est_median"))
    )
    mn = est.agg(
        F.expr(f"CAST(sum(est) DIV {AMS_J} AS LONG)").alias(
            "est_mean"
        )
    )
    f2 = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias(
            "f2_exact"
        ),
    )
    return (
        f2.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mn))
        .select(
            "n_terms",
            "n_tokens",
            "f2_exact",
            "est_median",
            "est_mean",
            F.expr(
                "CAST(CASE WHEN est_median >= f2_exact THEN 1"
                " ELSE -1 END AS LONG)"
            ).alias("bias_sign"),
            F.expr(
                "abs(est_median - f2_exact) * 1000000 DIV f2_exact"
            ).alias("err_ppm"),
        )
    )
