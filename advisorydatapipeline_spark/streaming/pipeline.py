"""Structured Streaming surface (beyond-reference).

The reference is batch-only (SURVEY.md §2.9): its closest analogues
are the TTL cache and run-id micro-batching. This module gives the
engine a real streaming path with the same semantics as the batch
operators, so the advisory pipeline can run continuously:

- event-time windowed aggregation with watermarked late-data handling
- session windows (the streaming twin of queries/aggregates.py
  sessionization)
- ``foreachBatch`` upsert into the prod state table — the reference's
  anti-join+union upsert applied per micro-batch and swapped in by
  rename, giving exactly-once state maintenance over files

Tests drive these with ``availableNow`` + memory sink and assert
equality with the batch twins (tests/test_streaming.py).

Scale notes: watermarks bound state; the upsert sink should become a
MERGE INTO on a Delta/Iceberg table when those jars are present —
the foreachBatch body is the single place to swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), True),  # parquet us
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based event stream with a real event-time column.

    Downstream contract: ``ts`` is epoch-ns LongType (the engine's
    canonical event-time encoding, same as the batch ``load``) and
    ``event_time`` is a TIMESTAMP usable for watermarks/windows.
    ``to_utc_timestamp`` pins the NTZ wall time to UTC so the epoch
    math is session-timezone-independent, and ``ensure_read_confs``
    additionally pins the session tz (DST-gap safety under any
    caller-provided session — same contract as the batch ``load``).
    """
    from advisorydatapipeline_spark.queries.helpers import ensure_read_confs

    ensure_read_confs(spark)
    reader = spark.readStream.schema(EVENT_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(path)
    return stream.withColumn(
        "event_time", F.to_utc_timestamp(F.col("ts"), "UTC")
    ).withColumn(
        "ts", (F.unix_micros(F.col("event_time")) * F.lit(1000)).cast("long")
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type."""
    win = (
        F.window("event_time", window, slide)
        if slide
        else F.window("event_time", window)
    )
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_event_counts(
    events: DataFrame, gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation — the streaming twin of the batch
    sessionization query."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def start_streaming_upsert(
    latest_state: DataFrame,
    prod_path: str,
    keys: list[str],
    schema: T.StructType,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
):
    """Continuously upsert per-key latest state into a prod parquet
    table: each micro-batch runs the reference's anti-join+union merge
    (operators/upsert.upsert_to_path) transactionally via foreachBatch.
    """
    from advisorydatapipeline_spark.operators.upsert import upsert_to_path

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # within-batch dedup: last writer per key wins deterministically
        from advisorydatapipeline_spark.operators.window_ops import (
            max_by_per_key,
        )

        payload = [c for c in batch_df.columns if c not in keys]
        latest = max_by_per_key(batch_df, keys, ["event_time"], payload)
        upsert_to_path(
            spark, latest.select(*batch_df.columns), prod_path, keys, schema
        )

    writer = (
        latest_state.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_merge(
    updates: DataFrame,
    prod_path: str,
    keys: list[str],
    schema: T.StructType,
    checkpoint_dir: str,
    *,
    when_matched,
    when_not_matched,
    prepare=None,
    available_now: bool = True,
):
    """Per-micro-batch MERGE INTO the prod table — the clause-level
    generalization of :func:`start_streaming_upsert`. Conditional
    MERGE clauses express semantics last-writer-wins upsert cannot,
    e.g. ACCUMULATE across batches (``WHEN MATCHED UPDATE SET n =
    t.n + s.n``) for incremental rollups. Each batch reads prod,
    merges (one outer join), and replaces prod through
    ``sources.io.replace_table`` (one write, then a rename) — the same
    exactly-once-per-batch discipline as the upsert sink; on a
    MERGE-native table format the foreachBatch body is the single
    place to swap in a real ``MERGE INTO``.

    ``prepare`` maps the raw micro-batch to the merge source (e.g. a
    per-batch aggregation). Stream RAW rows and aggregate here, NOT
    upstream: a stateful streaming aggregation in update mode emits
    CUMULATIVE per-key state each trigger, which an accumulating
    MERGE would double-count."""
    from advisorydatapipeline_spark.operators.merge import merge_into
    from advisorydatapipeline_spark.sources.io import read_table, replace_table

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        source = prepare(batch_df) if prepare is not None else batch_df
        # read prod, MERGE the batch in, replace prod (same
        # lazy-plan-over-deleted-files discipline as upsert_to_path)
        target = read_table(spark, prod_path, schema)
        merged = merge_into(
            target,
            source,
            keys,
            when_matched=when_matched,
            when_not_matched=when_not_matched,
        )
        replace_table(spark, merged, prod_path, schema)

    writer = (
        updates.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


RUNNING_COUNTS_OUT = "user_id long, n_events long, max_value double"
RUNNING_COUNTS_STATE = "n long, mx double"


def running_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (event count, max value) maintained in explicit
    state across micro-batches (Arrow-batched, executor-side).

    The built-in windowed aggregates cover time-bucketed state; this
    is the escape hatch for state machines the SQL surface can't
    express (per-key accumulators, custom eviction, session logic) —
    SURVEY.md north-star's `applyInPandasWithState` item. Count and
    max are order-independent, so the converged result equals the
    batch groupBy regardless of how the input splits into batches.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            vmax = pdf["value"].max()
            if pd.notna(vmax):
                mx = float(vmax) if mx is None else max(mx, float(vmax))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        RUNNING_COUNTS_OUT,
        RUNNING_COUNTS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


TWS_TOTALS_OUT = "user_id long, n_events long, qvalue_sum long"


def running_value_totals_tws(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via Spark 4's
    ``transformWithStateInPandas`` (the successor API to
    applyInPandasWithState): per-user running (event count, quantized
    value sum) kept in a typed ValueState across micro-batches.

    Requires the RocksDB state store provider (bundled with Spark) —
    set ``spark.sql.streaming.stateStore.providerClass`` to
    ``...state.RocksDBStateStoreProvider`` before starting the query —
    and a Python environment with ``protobuf`` (the TWS driver worker
    speaks protobuf to the JVM). This container has no protobuf, so
    execution is covered by tests only up to plan construction
    (tests/test_streaming.py::test_tws_plan_construction); the
    executable stateful path in this sandbox is the
    ``applyInPandasWithState`` twin above (``running_user_counts``).

    Values are quantized to integer cents (floor(x*100), exact in
    IEEE doubles) *inside* the processor, so the running sum is pure
    BIGINT — order-independent and bit-identical to the batch GROUP
    BY oracle no matter how the input splits into batches.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("totals", "n LONG, q LONG")

        def handleInputRows(self, key, rows, timerValues):
            n, qs = self._st.get() if self._st.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                vals = pdf["value"].dropna()
                qs += int(
                    np.floor(vals * 100).astype("int64").sum()
                )
            self._st.update((n, qs))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "qvalue_sum": [qs],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType=TWS_TOTALS_OUT,
        outputMode="Update",
        timeMode="None",
    )


TRANSITIONS_OUT = "from_type string, to_type string, n long"
TRANSITIONS_STATE = "last_ts long, last_eid long, last_type string"


def running_transitions(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user Markov transition
    DELTAS via applyInPandasWithState. State holds the user's last
    event (ts, event_id, type); each micro-batch sorts its group
    rows by (ts, event_id), chains them onto the remembered last
    event, emits this batch's (from_type -> to_type) counts, and
    advances the state — so transitions NEVER recount across batches
    and the union of all emitted deltas equals the batch lag-window
    matrix under any batch split (as long as event time does not
    regress across batches; the file source replays in file order,
    and the gate drains availableNow).

    This is the state-machine face the built-in windowed aggregates
    can't express: the transition depends on the PREVIOUS row, so
    the operator must remember exactly one event per key — O(keys)
    state, no timeline buffering.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        types = rows["event_type"].tolist()
        prev: list[str] = []
        if state.exists:
            prev = [state.get[2]]
        chain = prev + types
        pairs: dict[tuple[str, str], int] = {}
        for a, b in zip(chain, chain[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
        if types:
            last = rows.iloc[-1]
            state.update(
                (int(last["ts"]), int(last["event_id"]), str(last["event_type"]))
            )
        if pairs:
            yield pd.DataFrame(
                {
                    "from_type": [k[0] for k in pairs],
                    "to_type": [k[1] for k in pairs],
                    "n": list(pairs.values()),
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        TRANSITIONS_OUT,
        TRANSITIONS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )
