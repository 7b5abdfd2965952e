"""MapType, RANGE-frame window, and CUBE coverage with oracles.

- ``props_map_stats``: JSON -> typed ``map<string,long>`` -> explode —
  the MapType path (from_json/explode_outer stay JVM-side; the
  reference parses JSON in driver Python, fetch.py:16-43).
- ``range_frame_rolling_sum``: a RANGE window frame over event-time
  nanoseconds — value-based frames are a different physical window
  operator than ROWS frames (peer groups by ordering value), and the
  60-minute rolling metric is the canonical time-series feature.
  Sums run on quantized integer cents: exact, order-independent.
- ``cube_event_matrix``: CUBE totals with grouping_id (Spark) /
  GROUPING (DuckDB) — bit order verified to match.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from advisorydatapipeline_spark.queries.helpers import load, scratch_dir
from advisorydatapipeline_spark.registry import query


@query(
    "props_map_stats",
    oracle="""
WITH kv AS (
  SELECT unnest(json_keys(props)) AS key,
         CAST(json_extract(props, '$.' || unnest(json_keys(props)))
              AS BIGINT) AS val
  FROM events WHERE props IS NOT NULL
)
SELECT key,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(val) AS BIGINT) AS min_val,
       CAST(max(val) AS BIGINT) AS max_val,
       CAST(sum(val) AS BIGINT) AS sum_val
FROM kv GROUP BY key
""",
)
def props_map_stats(spark, sf_dir):
    """Typed-map JSON flatten: from_json to map<string,long>, explode
    to (key, val) rows, aggregate per key. All JVM-side — the scan
    stage does the parse, nothing reaches Python."""
    ev = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    m = F.from_json(
        "props", T.MapType(T.StringType(), T.LongType())
    ).alias("m")
    kv = ev.select(F.explode(m).alias("key", "val"))
    return kv.groupBy("key").agg(
        F.count("*").cast("long").alias("n"),
        F.min("val").cast("long").alias("min_val"),
        F.max("val").cast("long").alias("max_val"),
        F.sum("val").cast("long").alias("sum_val"),
    )


NS_HOUR = 3_600_000_000_000


@query(
    "range_frame_rolling_sum",
    oracle=f"""
SELECT user_id, event_id,
       epoch_us(ts) AS ts_us,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY epoch_ns(ts)
         RANGE BETWEEN {NS_HOUR} PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_cents,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY epoch_ns(ts)
         RANGE BETWEEN {NS_HOUR} PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_in_window
FROM events
WHERE ts IS NOT NULL
""",
)
def range_frame_rolling_sum(spark, sf_dir):
    """60-minute rolling (sum, count) per user via a RANGE frame over
    epoch-ns — the value-based frame operator (peers = equal ordering
    value), distinct from ROWS frames. Integer cents keep the running
    sum exact under any evaluation order. One shuffle on the user
    key; the frame is evaluated with a sliding aggregator, not
    per-row rescans."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(-NS_HOUR, 0)
    )
    cents = F.floor(F.col("value") * 100).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.sum(cents).over(w).cast("long").alias("rolling_cents"),
        F.count("*").over(w).cast("long").alias("n_in_window"),
    )


@query(
    "cube_event_matrix",
    oracle="""
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(GROUPING(event_type) * 2
            + GROUPING(CAST(json_extract(props, '$.k') AS BIGINT) % 10)
            AS BIGINT) AS gid
FROM events
WHERE props IS NOT NULL
GROUP BY CUBE (event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) % 10)
""",
)
def cube_event_matrix(spark, sf_dir):
    """CUBE over (event_type, k_bucket): all four grouping-set levels
    in one pass (Expand under the hood — one shuffle), grouping_id
    disambiguates real NULLs from subtotal rows."""
    ev = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k_bucket = (
        F.get_json_object("props", "$.k").cast("long") % 10
    ).alias("k_bucket")
    return (
        ev.select("event_type", k_bucket)
        .cube("event_type", "k_bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


_REC_SQL = """
WITH RECURSIVE chain (node, anc, depth) AS (
  SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
         CAST(0 AS BIGINT)
  FROM {table}
  UNION ALL
  SELECT c.node, c.anc - 5, c.depth + 1 FROM chain c WHERE c.anc >= 5
)
SELECT node, anc, depth FROM chain
"""


@query("recursive_cte_chain", oracle=_REC_SQL.format(table="nation"))
def recursive_cte_chain(spark, sf_dir):
    """WITH RECURSIVE (new in Spark 4): transitive ancestor closure
    over a synthetic parent chain on the nation table (parent = key-5)
    — the *same SQL text* runs on Spark and DuckDB. Spark executes
    recursion as an iterative union-loop, the declarative twin of the
    hand-built loops in operators/graph.py (which remain the scale
    path: recursion depth there is driver-controlled with
    localCheckpoint lineage truncation)."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("_nation_rec")
    return spark.sql(_REC_SQL.format(table="_nation_rec"))


@query(
    "variant_extract",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod
FROM events WHERE props IS NOT NULL
""",
)
def variant_extract(spark, sf_dir):
    """VARIANT semi-structured type (new in Spark 4): parse_json into
    the binary variant encoding, typed variant_get extraction — the
    open-lakehouse replacement for string-typed JSON columns (parse
    once, extract many, no per-access re-parse like get_json_object).
    The twin string-path query is json_extract_props."""
    ev = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return ev.select(
        "event_id", k.alias("k"), (k % 7).alias("k_mod")
    )


MIN_QTY_PARAM = 30
FLAG_PARAM = "R"


@query(
    "parameterized_sql_filter",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem
WHERE l_quantity >= {MIN_QTY_PARAM} AND l_returnflag = '{FLAG_PARAM}'
GROUP BY 1, 2
""",
)
def parameterized_sql_filter(spark, sf_dir):
    """Named-parameter SQL (Spark 4 `spark.sql(..., args=...)`):
    placeholders bind as typed literals in the parser — no string
    interpolation, no injection surface, and Catalyst still constant-
    folds and pushes the bound predicates into the parquet scan
    exactly like hand-written literals."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_param")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_price
        FROM _li_param
        WHERE l_quantity >= :min_qty AND l_returnflag = :flag
        GROUP BY 1, 2
        """,
        args={"min_qty": MIN_QTY_PARAM, "flag": FLAG_PARAM},
    )


@query(
    "sql_udf_revenue",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY 1
""",
)
def sql_udf_revenue(spark, sf_dir):
    """Declarative SQL UDF (Spark 4 CREATE FUNCTION ... RETURN expr):
    the function body is inlined into the plan at resolution time, so
    unlike Python UDFs it stays inside whole-stage codegen and costs
    nothing — the right way to share scalar business logic (here the
    repo-wide exact-decimal revenue rule) across queries."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION line_revenue(
            price DOUBLE, discount DOUBLE)
        RETURNS DECIMAL(38,4)
        RETURN CAST(price AS DECIMAL(18,2))
               * (1 - CAST(discount AS DECIMAL(18,2)))
        """
    )
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_sqludf")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(line_revenue(l_extendedprice, l_discount))
                    AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM _li_sqludf
        GROUP BY 1
        """
    )


@query(
    "sql_dml_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders
GROUP BY 1
""",
)
def sql_dml_roundtrip(spark, sf_dir):
    """Catalog DML round trip: CTAS seeds a parquet table with the
    finished orders, INSERT INTO appends the rest, and the read-back
    aggregate must equal the one-shot aggregate over the source —
    proving the write path loses nothing across the two DML batches.
    Fresh external LOCATION per run keeps the query idempotent under
    any session."""
    import shutil as _sh

    load(spark, sf_dir, "orders").createOrReplaceTempView("_ord_dml")
    # stable location per sf, wiped before recreate: a fresh location
    # per call would keep one full orders copy per invocation (DROP
    # on an external table leaves its files behind)
    loc = f"{scratch_dir('dml')}/{sf_dir.strip('/').replace('/', '_')}"
    spark.sql("DROP TABLE IF EXISTS adp_dml_orders")
    _sh.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"""
        CREATE TABLE adp_dml_orders USING PARQUET LOCATION '{loc}'
        AS SELECT * FROM _ord_dml WHERE o_orderstatus = 'F'
        """
    )
    spark.sql(
        """
        INSERT INTO adp_dml_orders
        SELECT * FROM _ord_dml
        WHERE o_orderstatus IS DISTINCT FROM 'F'
        """
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_price
        FROM adp_dml_orders
        GROUP BY 1
        """
    )


@query(
    "modern_sql_aggregates",
    oracle="""
WITH agg AS (
  SELECT o_orderstatus,
         string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
           AS priorities,
         CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
           AS n_large,
         CAST(floor(median(o_totalprice) * 100) AS BIGINT)
           AS median_price_cents,
         COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  FILTER (WHERE o_custkey % 1000 = 0) AS DOUBLE), 0.0)
           AS vip_total
  FROM orders
  GROUP BY o_orderstatus
),
pc AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
),
-- mode with an EXPLICIT tiebreak (lowest value among the most
-- frequent) instead of bare mode(), whose tie behavior DuckDB does
-- not document — mirrors the Spark side's row_number formulation
tp AS (
  SELECT o_orderstatus, o_orderpriority AS top_priority
  FROM (SELECT o_orderstatus, o_orderpriority,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY n DESC, o_orderpriority) AS rk
        FROM pc)
  WHERE rk = 1
)
SELECT a.o_orderstatus, a.priorities, t.top_priority, a.n_large,
       a.median_price_cents, a.vip_total
FROM agg a JOIN tp t USING (o_orderstatus)
""",
)
def modern_sql_aggregates(spark, sf_dir):
    """The modern-SQL aggregate surface in one gated row set:
    ``listagg``/``string_agg`` (ordered, distinct), ``mode`` (most
    frequent value — deterministic-lowest on ties to match DuckDB),
    ``count_if`` filtered counting, exact ``median``, and a
    FILTERed decimal sum with null-coalesced empty groups. All
    built-in JVM aggregates over one partial-agg shuffle — no UDFs.
    Ties in mode(): both engines return the minimum of the most
    frequent values via the min_by-over-counts formulation, so the
    hash compare is deterministic."""
    od = load(spark, sf_dir, "orders")
    # mode with a deterministic tiebreak (lowest value among the most
    # frequent) — expressed as min_by over per-value counts so the
    # result is engine-independent, unlike bare mode() in Spark
    counts = od.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("_n")
    )
    from pyspark.sql import Window as W

    best = (
        counts.withColumn(
            "_rk",
            F.row_number().over(
                W.partitionBy("o_orderstatus").orderBy(
                    F.col("_n").desc(), F.col("o_orderpriority")
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("top_priority"))
    )
    agg = od.groupBy("o_orderstatus").agg(
        F.listagg_distinct(F.col("o_orderpriority"), F.lit("|"))
        .alias("_pr"),
        F.count_if(F.col("o_totalprice") > 200000)
        .cast("long")
        .alias("n_large"),
        # floor-quantized cents, NOT a decimal cast: a median landing
        # on a .xx5 midpoint rounds HALF_UP in Spark's decimal cast
        # but HALF_EVEN in DuckDB — floor of the identical IEEE
        # double is deterministic on both engines
        F.floor(F.median("o_totalprice") * 100)
        .cast("long")
        .alias("median_price_cents"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("o_custkey") % 1000 == 0,
                    F.col("o_totalprice").cast("decimal(18,2)"),
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("vip_total"),
    )
    # listagg_distinct has no ORDER BY form in the DataFrame API;
    # sort the joined string deterministically via split+array_sort
    agg = agg.withColumn(
        "priorities",
        F.array_join(F.array_sort(F.split(F.col("_pr"), r"\|")), "|"),
    ).drop("_pr")
    return agg.join(best, "o_orderstatus").select(
        "o_orderstatus",
        "priorities",
        "top_priority",
        "n_large",
        "median_price_cents",
        "vip_total",
    )


# --- Spark 4 SQL pipe syntax --------------------------------------------------


@query(
    "pipe_syntax_aggregate",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def pipe_syntax_aggregate(spark, sf_dir):
    """SQL pipe syntax (Spark 4 `|>` operators): the same
    filter->aggregate expressed as a left-to-right pipeline — parity
    surface for the modern SQL dialect; the oracle is the standard
    formulation, proving the dialects agree. Decimal-sum inside,
    double outside: float SUM would be association-order-dependent
    across partitionings."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_pipe_orders")
    return spark.sql(
        """
        FROM _pipe_orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total_price
           GROUP BY o_orderpriority
        """
    )


@query(
    "rfm_segments",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_day,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY 1
),
scored AS (
  SELECT o_custkey, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY last_day, o_custkey) AS r_quartile,
         ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_quartile,
         ntile(4) OVER (ORDER BY monetary_cents, o_custkey) AS m_quartile
  FROM cust
)
SELECT r_quartile, f_quartile, m_quartile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
FROM scored GROUP BY 1, 2, 3
""",
)
def rfm_segments(spark, sf_dir):
    """RFM segmentation: per-customer recency/frequency/monetary
    quartiles (ntile with the customer key as tiebreak — rank-based
    splits are engine-identical only under a TOTAL order) rolled to
    the 4x4x4 segment grid with counts and exact floor-cents value.
    One shuffle to the customer rollup; the three ntile windows run
    over that rollup (global sorts of |customers| rows — at real
    scale swap for percent_rank against broadcast quantile cuts; the
    quartile SEMANTICS here are the contract)."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
        ).alias("monetary_cents"),
    )
    def nt(order):
        return F.ntile(4).over(
            Window.orderBy(F.col(order), F.col("o_custkey"))
        )
    scored = cust.select(
        "o_custkey",
        "frequency",
        "monetary_cents",
        nt("last_day").alias("r_quartile"),
        nt("frequency").alias("f_quartile"),
        nt("monetary_cents").alias("m_quartile"),
    )
    return scored.groupBy(
        "r_quartile", "f_quartile", "m_quartile"
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").alias("segment_cents"),
    )


@query(
    "benford_screen",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS lead_digit
  FROM orders WHERE o_totalprice > 0
)
SELECT lead_digit,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) * 1000000 // sum(count(*)) OVER () AS BIGINT)
         AS freq_ppm
FROM d GROUP BY 1
""",
)
def benford_screen(spark, sf_dir):
    """Benford's-law screen: leading-digit distribution of order
    values (ppm), the classic fabricated-data / unit-mixing smell
    test auditors run over financial columns. The leading digit is
    taken from the DECIMAL STRING of exact floor-cents — no
    log10/pow, so no libm variance — and the ppm shares are integer.
    One scan + partial agg to nine rows; the normalizing window
    touches only those nine."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").cast(
                "string"
            ),
            1,
            1,
        )
        .cast("long")
        .alias("lead_digit")
    )
    return (
        d.groupBy("lead_digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr(
            "lead_digit",
            "n",
            "n * 1000000 DIV sum(n) OVER () AS freq_ppm",
        )
    )


@query(
    "pareto_skyline",
    oracle="""
WITH pts AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY 1
)
SELECT a.o_custkey, a.frequency, a.monetary_cents
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.frequency >= a.frequency
    AND b.monetary_cents >= a.monetary_cents
    AND (b.frequency > a.frequency
         OR b.monetary_cents > a.monetary_cents)
)
""",
)
def pareto_skyline(spark, sf_dir):
    """Pareto skyline (maximal vectors): customers not strictly
    dominated on (order frequency, monetary value). The oracle is
    the O(n^2) NOT EXISTS definition; the Spark plan is the
    O(n log n) sort-window algorithm — a point survives iff its
    monetary beats every point with strictly HIGHER frequency (a
    RANGE frame excluding the current frequency) AND it is the
    monetary max within its own frequency (same-frequency domination
    + exact-tie points both kept). Two window passes over one
    (frequency-ordered) sort; at scale the global sort range-
    partitions and everything else is per-row."""
    o = load(spark, sf_dir, "orders")
    pts = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
        ).alias("monetary_cents"),
    )
    w_higher = (
        Window.orderBy(F.col("frequency").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_equal = Window.partitionBy("frequency")
    scored = pts.select(
        "o_custkey",
        "frequency",
        "monetary_cents",
        F.max("monetary_cents").over(w_higher).alias("_best_higher"),
        F.max("monetary_cents").over(w_equal).alias("_best_equal"),
    )
    return scored.filter(
        (
            F.col("_best_higher").isNull()
            | (F.col("monetary_cents") > F.col("_best_higher"))
        )
        & (F.col("monetary_cents") == F.col("_best_equal"))
    ).select("o_custkey", "frequency", "monetary_cents")


@query(
    "lorenz_revenue_deciles",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
decs AS (
  SELECT o_custkey, cents,
         ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
  FROM cust
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS decile_cents,
       CAST(sum(cents) * 1000000
            // CAST(sum(sum(cents)) OVER () AS BIGINT) AS BIGINT)
         AS share_ppm,
       CAST(sum(sum(cents)) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) * 1000000
            // CAST(sum(sum(cents)) OVER () AS BIGINT) AS BIGINT)
         AS cum_share_ppm
FROM decs GROUP BY decile
""",
)
def lorenz_revenue_deciles(spark, sf_dir):
    """Revenue-concentration (Lorenz) curve: customers ranked into
    revenue deciles (total order, custkey tiebreak), each decile's
    exact floor-cents share and cumulative share in integer ppm —
    the 'top 10% of customers drive X% of revenue' answer, and the
    discrete Lorenz curve a Gini computation reads off. One customer
    rollup, one global ntile (range-partitioned sort at scale), and
    the share windows run on the 10-row decile table."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
        ).alias("cents")
    )
    decs = cust.select(
        "cents",
        F.ntile(10)
        .over(Window.orderBy(F.col("cents").desc(), F.col("o_custkey")))
        .alias("decile"),
    )
    g = decs.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("decile_cents"),
    )
    return g.selectExpr(
        "decile",
        "n_customers",
        "decile_cents",
        "decile_cents * 1000000 DIV sum(decile_cents) OVER ()"
        " AS share_ppm",
        "sum(decile_cents) OVER (ORDER BY decile ROWS UNBOUNDED"
        " PRECEDING) * 1000000 DIV sum(decile_cents) OVER ()"
        " AS cum_share_ppm",
    )


@query(
    "decile_migration_matrix",
    oracle="""
WITH bounds AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS mn,
         max(CAST(o_orderdate AS DATE)) AS mx
  FROM orders
),
halves AS (
  SELECT o_custkey,
         CASE WHEN date_diff('day', b.mn, CAST(o_orderdate AS DATE)) * 2
                   <= date_diff('day', b.mn, b.mx)
              THEN 1 ELSE 2 END AS half,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders, bounds b
),
per AS (
  SELECT o_custkey, half,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM halves GROUP BY 1, 2
),
d1 AS (
  SELECT o_custkey,
         ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS q1
  FROM per WHERE half = 1
),
d2 AS (
  SELECT o_custkey,
         ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS q2
  FROM per WHERE half = 2
)
SELECT d1.q1, d2.q2, CAST(count(*) AS BIGINT) AS n_customers
FROM d1 JOIN d2 ON d1.o_custkey = d2.o_custkey
GROUP BY 1, 2
""",
)
def decile_migration_matrix(spark, sf_dir):
    """Customer value-migration matrix: revenue QUINTILE in the first
    time-half vs the second (who moved up, who churned down) — the
    retention-economics view a CRM team reads quarterly. The halving
    cutoff is the doubled-datediff midpoint (integer, no float
    halving); quintiles are total-order ntiles; the matrix join keys
    on customer and rolls up to 25 cells. Two rollup windows + one
    equi-join, all over customer-keyed exchanges."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("mn"),
        F.max(F.to_date("o_orderdate")).alias("mx"),
    )
    halves = o.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        F.when(
            F.datediff(F.to_date("o_orderdate"), F.col("mn")) * 2
            <= F.datediff(F.col("mx"), F.col("mn")),
            F.lit(1),
        )
        .otherwise(F.lit(2))
        .alias("half"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
            "cents"
        ),
    )
    per = halves.groupBy("o_custkey", "half").agg(
        F.sum("cents").alias("cents")
    )
    w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey"))
    d1 = per.filter(F.col("half") == 1).select(
        "o_custkey", F.ntile(5).over(w).alias("q1")
    )
    d2 = per.filter(F.col("half") == 2).select(
        "o_custkey", F.ntile(5).over(w).alias("q2")
    )
    return (
        d1.join(d2, "o_custkey")
        .groupBy("q1", "q2")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- correlated LATERAL top-N join ----------------------------------

_LATERAL_K = 2


@query(
    "lateral_topn_join",
    oracle=f"""
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice, t.rn
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS rn
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT {_LATERAL_K}
) t ON TRUE
WHERE c.c_mktsegment = 'BUILDING'
""",
)
def lateral_topn_join(spark, sf_dir):
    """Correlated LATERAL subquery (Spark 3.4+ SQL surface): per
    customer, the top-{k} orders by price — the for-each-row join
    shape users reach for before discovering window functions.

    Catalyst DECORRELATES the lateral subquery into the same
    shuffle+window physical plan as the window formulation (verify
    with .explain: no nested-loop per-row execution survives), so the
    declarative per-row semantics cost one hash join + one bounded
    window at any scale. The outer filter prunes the probe side
    before the join.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "_cust_lateral"
    )
    load(spark, sf_dir, "orders").createOrReplaceTempView("_ord_lateral")
    return spark.sql(
        f"""
        SELECT c.c_custkey, c.c_mktsegment,
               t.o_orderkey, t.o_totalprice, t.rn
        FROM _cust_lateral c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (
                   ORDER BY o_totalprice DESC, o_orderkey
                 ) AS rn
          FROM _ord_lateral o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT {_LATERAL_K}
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


# --- leave-one-out target encoding ----------------------------------

_TE_PRIOR_W = 10  # smoothing pseudo-count toward the global mean


@query(
    "target_encode_segment",
    oracle=f"""
WITH o AS (
  SELECT o_custkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
per_cust AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CAST(COALESCE(sum(o.cents), 0) AS BIGINT) AS own_cents,
         CAST(count(o.cents) AS BIGINT) AS own_n
  FROM customer c LEFT JOIN o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
seg AS (
  SELECT c_mktsegment,
         CAST(sum(own_cents) AS BIGINT) AS seg_cents,
         CAST(sum(own_n) AS BIGINT) AS seg_n
  FROM per_cust GROUP BY 1
),
g AS (
  SELECT CAST(sum(seg_cents) AS BIGINT) AS tot_cents,
         CAST(sum(seg_n) AS BIGINT) AS tot_n
  FROM seg
)
SELECT p.c_custkey, p.c_mktsegment, p.own_n,
       CAST((s.seg_cents - p.own_cents
              + {_TE_PRIOR_W} * (g.tot_cents // g.tot_n)) * 1000
            // (s.seg_n - p.own_n + {_TE_PRIOR_W}) AS BIGINT)
         AS enc_milli_cents
FROM per_cust p
JOIN seg s ON s.c_mktsegment = p.c_mktsegment
CROSS JOIN g
""",
)
def target_encode_segment(spark, sf_dir):
    """Leave-one-out target encoding of the segment category against
    order value: each customer's encoding is their segment's mean
    EXCLUDING their own orders, smoothed toward the global mean with
    a pseudo-count prior — the ML feature-engineering op where naive
    (non-LOO) encoding leaks the row's own target into its feature.
    Exact integer arithmetic end to end (milli-cents, floor
    division), so the encoding is reproducible across engines and
    retrains.

    Plan: one fact rollup to per-customer sums, a segment rollup on
    its back (~5 rows, broadcast), a 1-row global scalar; the
    encode itself is per-row math on the join."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("long")
            .alias("own_cents"),
            F.count("cents").cast("long").alias("own_n"),
        )
    )
    seg = per_cust.groupBy("c_mktsegment").agg(
        F.sum("own_cents").cast("long").alias("seg_cents"),
        F.sum("own_n").cast("long").alias("seg_n"),
    )
    g = seg.agg(
        F.sum("seg_cents").cast("long").alias("tot_cents"),
        F.sum("seg_n").cast("long").alias("tot_n"),
    )
    return (
        per_cust.join(F.broadcast(seg), "c_mktsegment")
        .crossJoin(F.broadcast(g))
        .select(
            "c_custkey",
            "c_mktsegment",
            "own_n",
            F.expr(
                f"CAST((seg_cents - own_cents"
                f" + {_TE_PRIOR_W} * (tot_cents DIV tot_n)) * 1000"
                f" DIV (seg_n - own_n + {_TE_PRIOR_W}) AS BIGINT)"
            ).alias("enc_milli_cents"),
        )
    )


# --- quantile normalization across groups ---------------------------

_QN_TILES = 20


@query(
    "quantile_normalize_balance",
    oracle=f"""
WITH t AS (
  SELECT c_mktsegment,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
         ntile({_QN_TILES}) OVER (
           PARTITION BY c_mktsegment
           ORDER BY c_acctbal, c_custkey
         ) AS tile
  FROM customer
),
pooled AS (
  SELECT tile,
         CAST(sum(cents) AS BIGINT) AS pool_cents,
         CAST(count(*) AS BIGINT) AS pool_n
  FROM t GROUP BY tile
)
SELECT t.c_mktsegment, t.tile,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(t.cents) // count(*) AS BIGINT) AS raw_mean_cents,
       CAST(p.pool_cents // p.pool_n AS BIGINT) AS normalized_cents
FROM t JOIN pooled p ON p.tile = t.tile
GROUP BY t.c_mktsegment, t.tile, p.pool_cents, p.pool_n
""",
)
def quantile_normalize_balance(spark, sf_dir):
    """Quantile normalization (the genomics/batch-correction move)
    across segments: rank every row within its group into
    {_QN_TILES} tiles, then replace each tile's value with the
    POOLED cross-group tile mean — after which every group has an
    identical distribution and only rank information survives. The
    raw-vs-normalized mean columns per (segment, tile) show exactly
    what the transform removed. Batch-effect correction for features
    computed per source/shard before a joint model sees them.

    Plan: one ntile window per group (range-partition + local sort,
    the exact-quantile cost class), a {_QN_TILES}-row pooled rollup
    broadcast back, one final rollup. Integer cents + floor DIV —
    engine-exact."""
    from pyspark.sql.window import Window

    t = load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.ntile(_QN_TILES)
        .over(
            Window.partitionBy("c_mktsegment").orderBy(
                "c_acctbal", "c_custkey"
            )
        )
        .alias("tile"),
    )
    pooled = t.groupBy("tile").agg(
        F.sum("cents").cast("long").alias("pool_cents"),
        F.count(F.lit(1)).cast("long").alias("pool_n"),
    )
    return (
        t.join(F.broadcast(pooled), "tile")
        .groupBy("c_mktsegment", "tile", "pool_cents", "pool_n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias(
                "raw_mean_cents"
            ),
        )
        .select(
            "c_mktsegment",
            "tile",
            "n_rows",
            "raw_mean_cents",
            F.expr("CAST(pool_cents DIV pool_n AS BIGINT)").alias(
                "normalized_cents"
            ),
        )
    )


# --- Spark 4 SQL surface: session variables + GROUP/ORDER BY ALL ----

_SQLVAR_MIN_PRICE = 200000.0


@query(
    "sql_session_variables",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
FROM orders WHERE o_totalprice > {_SQLVAR_MIN_PRICE}
GROUP BY ALL
""",
)
def sql_session_variables(spark, sf_dir):
    """Spark 4 SQL session variables (DECLARE / SET VARIABLE) driving
    a GROUP BY ALL aggregate — the parameterized-notebook surface:
    thresholds live in typed session state instead of string-pasted
    literals (injection-safe, like parameterized_sql_filter but
    session-scoped and reusable across statements). The oracle
    inlines the same value, proving the variable reference is purely
    a binding mechanism with no semantic drift. DECLARE OR REPLACE
    keeps the entry idempotent under session reuse."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_ord_var")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE min_price DOUBLE DEFAULT 0.0"
    )
    spark.sql(f"SET VARIABLE min_price = {_SQLVAR_MIN_PRICE}")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS rev
        FROM _ord_var WHERE o_totalprice > min_price
        GROUP BY ALL
        """
    )
