"""Structured Streaming queries, oracle-checked against batch SQL.

The reference is batch-only (SURVEY.md §2.9); this is the streaming
surface of the new engine run under the same correctness gate as every
batch operator: each query executes a real Structured Streaming job
(file source -> availableNow trigger -> memory sink) and returns the
final result table, which must hash-match a plain batch DuckDB oracle.
That works because availableNow drains the full input, so the
streaming aggregation's final state IS the batch answer — the whole
point of the unified model.

Streaming-only mechanics (micro-batch scheduling, watermark state
eviction, foreachBatch upsert transactionality) are exercised in
tests/test_streaming.py; here we pin the *semantics*.
"""

from __future__ import annotations

import contextlib
import itertools
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advisorydatapipeline_spark.queries.helpers import scratch_dir
from advisorydatapipeline_spark.registry import ORACLES, query
from advisorydatapipeline_spark.streaming.pipeline import (
    read_event_stream,
    session_event_counts,
)

SESSION_GAP_US = 3_600 * 1_000_000  # 1 hour, mirrors session_window gap

_uniq = itertools.count()


def _events_stream_dir(sf_dir: str) -> str:
    """FileStreamSource needs a directory; stage the single-file
    events table into a scratch dir once per sf_dir."""
    d = scratch_dir("events_stream_" + sf_dir.strip("/").replace("/", "_"))
    part = Path(d) / "part-0.parquet"
    if not part.exists():
        shutil.copy(f"{sf_dir}/events.parquet", part)
    return d


#: Target input bytes per streaming STATE partition (r15 optimization,
#: guide §2.2 — make partitioning scale-adaptive: derive it from input
#: size instead of a constant). Stateful streaming is the one place
#: AQE cannot help: the state-partition count is frozen at first
#: checkpoint from spark.sql.shuffle.partitions, and EVERY micro-batch
#: thereafter pays one state-store open/commit per partition per
#: stateful operator side — measured at sf0.1 the 0-row watermark
#: finalization batch alone cost 2.2 s across 32 partitions x 2 join
#: sides while the actual data is a 2 MB parquet file. Deriving the
#: width as ceil(input_bytes / this) clamps small inputs to a handful
#: of partitions (commit tax drops proportionally) while any input
#: >= shuffle_width * this keeps the FULL configured width — at
#: 100 TB the derivation saturates to the production setting, so this
#: is not a local[32] constant, it is the same sizing rule AQE applies
#: to batch shuffles, applied at the only point streaming allows
#: (stream build time).
STREAM_BYTES_PER_PART = 8 << 20

#: The per-byte CPU cost is NOT uniform across stateful operators:
#: applyInPandasWithState invokes a Python body once per KEY (Arrow
#: round-trip + pandas fixed cost each), and a complete-mode sink
#: rewrites the ENTIRE state every micro-batch — for those, one
#: partition per 8 MB serializes real compute (A/B-measured at sf0.1:
#: width 1 took streaming_transition_counts 4.7 -> 10.2 s,
#: streaming_stateful_counts 3.4 -> 6.5 s, streaming_sliding_distinct
#: 7.9 -> 13.5 s while the JVM-light-state entries dropped 0.3-0.4x).
#: Heavy-state streams therefore size at 256 KB/partition — the same
#: input-derived rule with a target that reflects ~30x higher
#: per-byte cost. Both targets saturate to the configured session
#: width at scale.
STREAM_BYTES_PER_PART_HEAVY = 256 << 10


def _dir_bytes(path: str) -> int:
    p = Path(path)
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def derived_stream_width(
    n_bytes: int, session_width: int, per_part: int = STREAM_BYTES_PER_PART
) -> int:
    """ceil(n_bytes / per_part), clamped to [1, session_width] —
    pytest-pinned (tests/test_streaming.py)."""
    return max(1, min(session_width, -(-n_bytes // per_part)))


@contextlib.contextmanager
def _adaptive_state_width(
    spark: SparkSession, src_dir: str, *, heavy: bool = False
):
    """Scope spark.sql.shuffle.partitions to the width derived from
    the stream's input bytes for the duration of one streaming query
    (the conf is captured at query START and frozen into the state
    checkpoint; the session value is restored in ``finally``). Results
    are partition-count-independent (exact aggregates / joins — the
    oracle gate pins that), only the per-batch state-store commit tax
    changes. ``heavy=True`` selects the per-key-Python / complete-mode
    sizing target (see :data:`STREAM_BYTES_PER_PART_HEAVY`)."""
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_part = STREAM_BYTES_PER_PART_HEAVY if heavy else STREAM_BYTES_PER_PART
    target = derived_stream_width(_dir_bytes(src_dir), base, per_part)
    if target >= base:
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(base))


def _run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    src_dir: str,
    *,
    heavy: bool = False,
) -> DataFrame:
    """Drain an aggregated stream with availableNow into a memory sink
    and return the final (complete-mode) result table. ``src_dir`` is
    the stream's source directory — its on-disk size drives the
    scale-adaptive state width (see :func:`derived_stream_width`)."""
    name = f"adp_stream_result_{next(_uniq)}"
    with _adaptive_state_width(spark, src_dir, heavy=heavy):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    return spark.table(name)


@query(
    "streaming_hourly_counts",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
def streaming_hourly_counts(spark, sf_dir):
    """Tumbling 1-hour event-time window counts per event_type,
    computed by an actual streaming job. min/max are order-independent
    (exact on both engines), unlike a double sum."""
    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    ev = stream.filter(F.col("ts").isNotNull())
    agg = (
        ev.withWatermark("event_time", "2 hours")
        .groupBy(
            F.window("event_time", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "event_type",
            "n",
            "min_value",
            "max_value",
        )
    )
    return _run_to_memory(agg, spark, d)


@query(
    "streaming_session_windows",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, ts FROM events WHERE ts IS NOT NULL
),
gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + {SESSION_GAP_US} AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def streaming_session_windows(spark, sf_dir):
    """Streaming session_window (1 h gap) — merged-session semantics
    checked against an independent lag/cumsum batch derivation: a new
    session starts when the gap to the previous event is >= 1 h
    (session windows are half-open [first, last+gap))."""
    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    sess = session_event_counts(
        stream.filter(F.col("ts").isNotNull()), gap="1 hour"
    ).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )
    return _run_to_memory(sess, spark, d)


@query(
    "streaming_dedup_pairs",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_pairs(spark, sf_dir):
    """Streaming deduplication: ``dropDuplicates`` over the event
    stream emits each (user_id, event_type) pair exactly once (append
    mode) — the streaming face of corpus dedup. Final output equals
    batch DISTINCT for any batch split. Unbounded key state is fine
    for a finite drain; an infinite stream would bound it with
    ``dropDuplicatesWithinWatermark`` at the cost of exactness outside
    the watermark horizon."""
    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    dedup = stream.select("user_id", "event_type").dropDuplicates()
    name = f"adp_dedup_{next(_uniq)}"
    with _adaptive_state_width(spark, d):
        q = (
            dedup.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    return spark.table(name)


@query(
    "streaming_append_windows",
    oracle="""
WITH wm AS (
  SELECT max(epoch_us(ts)) - CAST(7200 AS BIGINT) * 1000000 AS wm_us
  FROM events WHERE ts IS NOT NULL
)
SELECT epoch_us(date_trunc('hour', e.ts)) AS window_start_us,
       e.event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events e, wm
WHERE e.ts IS NOT NULL
GROUP BY 1, 2, wm.wm_us
HAVING min(epoch_us(date_trunc('hour', e.ts)))
         + CAST(3600 AS BIGINT) * 1000000
         <= wm.wm_us
""",
)
def streaming_append_windows(spark, sf_dir):
    """APPEND-mode windowed aggregation: unlike the complete-mode
    twin (streaming_hourly_counts), append emits a window only once
    its end falls at or before the final watermark (max event time
    minus the 2h delay) — the windows still open when the stream
    drains are intentionally ABSENT from the output. The oracle
    encodes exactly that finalization rule, value-checking Spark's
    late-data/emission semantics, not just the aggregation."""
    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    ev = stream.filter(F.col("ts").isNotNull())
    agg = (
        ev.withWatermark("event_time", "2 hours")
        .groupBy(
            F.window("event_time", "1 hour").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "event_type",
            "n",
        )
    )
    name = f"adp_append_win_{next(_uniq)}"
    with _adaptive_state_width(spark, d):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    return spark.table(name)


@query(
    "streaming_dedup_watermarked",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events WHERE ts IS NOT NULL
""",
)
def streaming_dedup_watermarked(spark, sf_dir):
    """``dropDuplicatesWithinWatermark``: the bounded-state streaming
    dedup for infinite streams — key state is evicted once the
    watermark passes the key's last-seen event time, so memory is
    O(keys-per-horizon) instead of O(all keys ever). With a horizon
    wider than this finite drain's event-time span it emits exactly
    one row per key, so the oracle is plain DISTINCT; on a real
    infinite stream the horizon bounds both state and exactness."""
    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    dedup = (
        stream.filter(F.col("ts").isNotNull())
        .withWatermark("event_time", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"adp_dedup_wm_{next(_uniq)}"
    with _adaptive_state_width(spark, d):
        q = (
            dedup.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    return spark.table(name)


@query(
    "streaming_static_enrich",
    oracle="""
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def streaming_static_enrich(spark, sf_dir):
    """Stream-static join: the event stream is enriched against the
    static customer dimension per micro-batch (the dim is re-read /
    broadcast each batch — the standard pattern for slowly-changing
    lookups in a streaming pipeline), then aggregated per segment.
    Exact decimal sums keep the drained result hash-equal to the
    batch oracle."""
    from advisorydatapipeline_spark.queries.helpers import load as _load

    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    cust = _load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )
    return _run_to_memory(agg, spark, d)


US_30MIN = 1_800_000_000


@query(
    "streaming_sliding_counts",
    oracle=f"""
WITH e AS (
  SELECT (epoch_us(ts) // {US_30MIN}) * {US_30MIN} AS w0, event_type, value
  FROM events WHERE ts IS NOT NULL
),
x AS (
  SELECT unnest([w0, w0 - {US_30MIN}]) AS window_start_us, event_type, value
  FROM e
)
SELECT window_start_us, event_type,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS min_value, max(value) AS max_value
FROM x GROUP BY 1, 2
""",
)
def streaming_sliding_counts(spark, sf_dir):
    """Sliding event-time windows (1 h window / 30 min slide): each
    event lands in exactly two overlapping windows. Same watermarked
    streaming machinery as the tumbling twin; the oracle replays the
    two-window expansion with integer epoch math."""
    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    agg = (
        stream.withWatermark("event_time", "2 hours")
        .groupBy(
            F.window("event_time", "1 hour", "30 minutes").alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "event_type",
            "n",
            "min_value",
            "max_value",
        )
    )
    return _run_to_memory(agg, spark, d)


@query(
    "streaming_range_join",
    oracle="""
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
),
p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
)
SELECT p.user_id, p.purchase_id, v.view_id, p.purchase_us, v.view_us
FROM p JOIN v
  ON p.user_id = v.user_id
 AND v.view_us BETWEEN p.purchase_us - 3600000000 AND p.purchase_us
""",
)
def streaming_range_join(spark, sf_dir):
    """Stream-stream inner join: purchases matched to same-user views
    in the preceding hour, both sides watermarked so the join state is
    evicted as event time advances (without the time-range condition
    + watermarks, stream-stream join state grows without bound).
    Inner-join matches emit in the micro-batch they occur, so an
    availableNow drain equals the batch range join — the batch twin is
    ``range_join_views_before_purchase``."""
    d = _events_stream_dir(sf_dir)
    views = (
        read_event_stream(spark, d)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", "2 hours")
    )
    purchases = (
        read_event_stream(spark, d)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "2 hours")
    )
    joined = purchases.join(
        views,
        (F.col("p_user_id") == F.col("user_id"))
        & (
            F.col("view_time").between(
                F.col("purchase_time") - F.expr("INTERVAL 1 HOUR"),
                F.col("purchase_time"),
            )
        ),
    ).select(
        "user_id",
        "purchase_id",
        "view_id",
        F.unix_micros("purchase_time").alias("purchase_us"),
        F.unix_micros("view_time").alias("view_us"),
    )
    name = f"adp_ssj_{next(_uniq)}"
    with _adaptive_state_width(spark, d):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    return spark.table(name)


@query(
    "streaming_stateful_counts",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       max(value) AS max_value
FROM events
GROUP BY user_id
""",
)
def streaming_stateful_counts(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState) maintaining
    per-user running (count, max) in explicit state. The update-mode
    sink holds one row per key per batch; count is monotone, so
    max(n_events) per key is the converged state — equal to the batch
    GROUP BY for any batch split."""
    from advisorydatapipeline_spark.streaming.pipeline import (
        running_user_counts,
    )

    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    name = f"adp_stateful_{next(_uniq)}"
    with _adaptive_state_width(spark, d, heavy=True):
        q = (
            running_user_counts(
                stream.select("user_id", "value", "event_time")
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    return spark.sql(
        f"SELECT user_id, max(n_events) AS n_events, "
        f"max(max_value) AS max_value FROM {name} GROUP BY user_id"
    )


@query(
    "streaming_upsert_merge",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS last_us, event_id AS last_event_id,
         value AS last_value
  FROM events WHERE ts IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
)
SELECT user_id, last_us, last_event_id, last_value FROM e
""",
)
def streaming_upsert_merge(spark, sf_dir):
    """foreachBatch upsert under the oracle gate: stream the events
    table, maintain per-user latest state in a parquet prod table via
    the anti-join+union merge (the reference's upsert applied per
    micro-batch), then read the merged table back. Within-batch
    dedup is max-by (event_time, event_id) — deterministic; the
    oracle replays it as a QUALIFY row_number. This is the file-sink
    stand-in for MERGE INTO on a lakehouse table."""
    from pyspark.sql import types as T

    from advisorydatapipeline_spark.streaming.pipeline import (
        read_event_stream,
        start_streaming_upsert,
    )

    d = _events_stream_dir(sf_dir)
    base = scratch_dir(f"upsert_{next(_uniq)}")
    prod = f"{base}/prod"
    ckpt = f"{base}/ckpt"
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_time", T.TimestampType(), True),
            T.StructField("event_id", T.LongType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    stream = (
        read_event_stream(spark, d)
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_time", "event_id", "value")
    )
    with _adaptive_state_width(spark, d):
        q = start_streaming_upsert(stream, prod, ["user_id"], schema, ckpt)
        q.awaitTermination(300)
        q.stop()
    return spark.read.parquet(prod).select(
        "user_id",
        F.unix_micros("event_time").alias("last_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@query(
    "streaming_sliding_distinct",
    oracle="""
WITH wins AS (
  SELECT user_id,
         unnest([ (epoch_us(ts) // 1800000000) * 1800000000,
                  (epoch_us(ts) // 1800000000) * 1800000000 - 1800000000 ])
           AS window_start_us
  FROM events WHERE ts IS NOT NULL
)
SELECT window_start_us,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM wins GROUP BY window_start_us
""",
)
def streaming_sliding_distinct(spark, sf_dir):
    """Sliding-window DISTINCT users, streaming: the stateful stage
    holds (window, user) groups — the distinct state, bounded by the
    watermark — and the drained result is rolled up to per-window
    user counts in a trivially small batch agg. This is the
    streaming twin of rolling_distinct_users' replicate-then-count
    plan: state is per (window, user), never per event, so a hot
    user adds ONE state row per window however many events they
    emit. The oracle replays the 1 h/30 min two-window expansion
    with integer epoch math over the same parquet."""
    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    pairs = (
        stream.withWatermark("event_time", "2 hours")
        .groupBy(
            F.window("event_time", "1 hour", "30 minutes").alias("win"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "user_id",
        )
    )
    # heavy: the state is one row per (window, user) pair — orders of
    # magnitude more state rows per input byte than the per-type aggs
    drained = _run_to_memory(pairs, spark, d, heavy=True)
    return drained.groupBy("window_start_us").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "streaming_transition_counts",
    oracle=ORACLES["event_transition_matrix"],
)
def streaming_transition_counts(spark, sf_dir):
    """Streaming twin of event_transition_matrix: per-user Markov
    transition deltas from an applyInPandasWithState operator whose
    state is exactly ONE remembered event per user (see
    streaming/pipeline.running_transitions), drained availableNow
    and rolled up to the same (from, to, count, ppm) matrix — hash-
    checked against the identical batch-lag-window oracle."""
    from advisorydatapipeline_spark.streaming.pipeline import (
        running_transitions,
    )

    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    name = f"adp_transitions_{next(_uniq)}"
    with _adaptive_state_width(spark, d, heavy=True):
        q = (
            running_transitions(
                stream.filter(F.col("ts").isNotNull()).select(
                    "user_id", "event_id", "ts", "event_type"
                )
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    return spark.sql(
        f"""
        WITH tr AS (
          SELECT from_type, to_type, sum(n) AS n_transitions
          FROM {name} GROUP BY 1, 2
        )
        SELECT from_type, to_type,
               CAST(n_transitions AS BIGINT) AS n_transitions,
               n_transitions * 1000000 DIV
                 sum(n_transitions) OVER (PARTITION BY from_type) AS ppm
        FROM tr
        """
    )


# --- streaming canonical-URL dedup (r11) --------------------------------


def _url_stream_oracle() -> str:
    from advisorydatapipeline_spark.queries.curation_queries import (
        _duck_canon_ctes,
        _url_fixture_sql,
    )

    synth = _url_fixture_sql("//", "VARCHAR").replace(
        "doc_id", "(event_id % 997)"
    )
    return f"""
WITH raw AS (
  SELECT event_id % 997 AS doc_id, {synth} AS url FROM events
),
{_duck_canon_ctes()[1:]}
SELECT DISTINCT canonical_url FROM canon
"""


@query("streaming_url_dedup", oracle=_url_stream_oracle())
def streaming_url_dedup(spark, sf_dir):
    """Streaming canonical-URL dedup — the crawl-frontier face of
    url_canonical_dedup: page-view events carry the SAME messy-URL
    fixture (keyed on event_id so presentation variants recur across
    the stream), canonicalization runs as stateless per-row
    expressions INSIDE the stream (pure codegen — the whole
    operators/curation.canonicalize_urls chain is streaming-safe),
    and ``dropDuplicates`` on canonical_url emits each page exactly
    once. Final output equals batch DISTINCT for any batch split.
    Unbounded key state is fine for a finite drain; a real frontier
    bounds it with dropDuplicatesWithinWatermark at the cost of
    exactness outside the horizon (streaming_dedup_pairs note)."""
    from advisorydatapipeline_spark.operators.curation import (
        canonicalize_urls,
    )
    from advisorydatapipeline_spark.queries.curation_queries import (
        _url_fixture_sql,
    )

    d = _events_stream_dir(sf_dir)
    stream = read_event_stream(spark, d)
    synth = _url_fixture_sql("DIV", "STRING").replace(
        "doc_id", "(event_id % 997)"
    )
    urls = stream.selectExpr(f"{synth} AS url")
    dedup = canonicalize_urls(urls).select("canonical_url").dropDuplicates()
    name = f"adp_urldedup_{next(_uniq)}"
    with _adaptive_state_width(spark, d):
        q = (
            dedup.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    return spark.table(name)
