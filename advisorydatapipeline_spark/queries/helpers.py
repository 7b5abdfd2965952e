"""Shared helpers for the operator-parity query registry.

Oracle-safety conventions (the driver hashes canonicalized values, so
Spark and DuckDB must agree *exactly*):

- Double **aggregations** go through DECIMAL casts (exact, order-
  independent) and come back as DOUBLE. Summing raw doubles is
  association-order-dependent and can differ in the last ulp between
  engines/plans. Per-row double arithmetic (no reduction) is IEEE-
  deterministic and safe.
- Inputs here have 2-decimal monetary columns, so DECIMAL(18,2)
  round-trips them exactly in both engines.
- ``events.ts`` is epoch-ns LongType on the Spark side — ``load``
  normalizes it to that regardless of the parquet physical type
  (TIMESTAMP(NANOS) in round-1 data, timestamp[us] since round 2).
  DuckDB reads the same parquet natively — oracles use
  ``epoch_ns(ts)``/``epoch_us(ts)`` for outputs and ns-literals for
  cutoffs so both engines compare the same integers.
- Every ORDER BY / window ends in a unique tiebreaker column.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from advisorydatapipeline_spark.sources.io import scratch_dir  # noqa: F401


def ensure_read_confs(spark: SparkSession) -> None:
    """Make reads correct under ANY caller-provided SparkSession.

    The external driver builds its own bare session, so confs set in
    :mod:`advisorydatapipeline_spark.session` do not apply there.
    Historically ``events.parquet`` stored ``ts`` as parquet
    TIMESTAMP(NANOS), which Spark rejects unless ``nanosAsLong`` is on
    (it then reads epoch-ns LongType). The conf is runtime-settable and
    idempotent, so setting it per-read is free; with micros-typed data
    it is a no-op.

    The session time zone is pinned to UTC at the same choke point:
    any implicit NTZ<->LTZ cast downstream is then deterministic under
    every caller session (a non-UTC driver tz would shift wall times
    falling in a DST spring-forward gap and break epoch-ns parity
    with DuckDB).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _ns_long(col: F.Column, dtype: T.DataType) -> F.Column:
    """Normalize a timestamp-ish column to epoch-ns LongType.

    ``to_utc_timestamp(ntz, 'UTC')`` interprets NTZ wall time as UTC —
    session-timezone-independent, and bit-identical to DuckDB's
    ``epoch_ns(ts)`` over the same parquet (verified at sf0.001).
    """
    if isinstance(dtype, T.LongType):
        return col  # already epoch-ns (legacy nanos data + nanosAsLong)
    if isinstance(dtype, T.TimestampNTZType):
        col = F.to_utc_timestamp(col, "UTC")
    return (F.unix_micros(col) * F.lit(1000)).cast("long")


#: tables whose ``ts`` column every query in this package treats as
#: epoch-ns LongType (the engine's canonical event-time encoding)
_NS_NORMALIZED = {"events": ("ts",)}

#: date-ish columns every query treats as timestamps; if the parquet
#: physical type reverts to TIMESTAMP(NANOS) (read as ns-long under
#: nanosAsLong, as the round-1 data was), convert them back
_TS_NORMALIZED = {"lineitem": ("l_shipdate",), "orders": ("o_orderdate",)}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_read_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for cname in _NS_NORMALIZED.get(name, ()):
        field = next((f for f in df.schema.fields if f.name == cname), None)
        if field is not None and not isinstance(field.dataType, T.LongType):
            df = df.withColumn(cname, _ns_long(F.col(cname), field.dataType))
    for cname in _TS_NORMALIZED.get(name, ()):
        field = next((f for f in df.schema.fields if f.name == cname), None)
        if field is not None and isinstance(field.dataType, T.LongType):
            # ns-long -> NTZ wall time as UTC (session tz already
            # pinned UTC by ensure_read_confs above)
            # integer DIV: ns-longs exceed 2^53, so a float divide
            # would round before truncation
            df = df.withColumn(
                cname,
                F.timestamp_micros(
                    F.expr(f"`{cname}` DIV 1000")
                ).cast("timestamp_ntz"),
            )
    return df


def load_events(
    spark: SparkSession,
    sf_dir: str,
    *,
    ts_ge_ns: int | None = None,
    ts_lt_ns: int | None = None,
) -> DataFrame:
    """``load('events')`` with the time cutoff applied to the PHYSICAL
    ``ts`` column before ns-normalization.

    A predicate on the normalized (derived) ns-long column cannot be
    pushed into the parquet scan; applied here against the column's
    native type it shows up in ``PushedFilters`` and prunes row groups
    — at 100 TB this is the difference between scanning a day and
    scanning a decade. Semantically identical to filtering the
    normalized column: the ns->native conversion below is exact
    (cutoffs are whole microseconds; data has at most us precision).
    """
    ensure_read_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    field = next(f for f in df.schema.fields if f.name == "ts")

    def _native(ns: int):
        if isinstance(field.dataType, T.LongType):
            return F.lit(ns)
        if isinstance(field.dataType, T.TimestampNTZType):
            # string -> NTZ cast parses wall time, no timezone applies;
            # integer math end-to-end (float seconds would lose us
            # precision at epoch-2024 magnitudes)
            sec, us = divmod(ns // 1000, 1_000_000)
            iso = (
                datetime.fromtimestamp(sec, tz=timezone.utc).strftime(
                    "%Y-%m-%d %H:%M:%S"
                )
                + f".{us:06d}"
            )
            return F.lit(iso).cast(field.dataType)
        # TIMESTAMP (LTZ): an exact epoch-instant literal
        return F.timestamp_micros(F.lit(ns // 1000))

    if ts_ge_ns is not None:
        df = df.filter(F.col("ts") >= _native(ts_ge_ns))
    if ts_lt_ns is not None:
        df = df.filter(F.col("ts") < _native(ts_lt_ns))
    if not isinstance(field.dataType, T.LongType):
        df = df.withColumn("ts", _ns_long(F.col("ts"), field.dataType))
    return df


def ns_literal(iso: str) -> int:
    """Epoch-nanos for an ISO date/time string (UTC)."""
    dt = datetime.fromisoformat(iso).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


def doc_payloads(docs: DataFrame, encode: Callable[..., bytes]) -> DataFrame:
    """``(media_id long, payload binary)`` fixture media: one narrow
    ``mapInPandas`` hop calling ``encode(*row)`` on each row's values
    (Python scalars, in column order); ``media_id`` is the first
    column."""

    def encode_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf.iloc[:, 0],
                    "payload": [
                        encode(*row)
                        for row in pdf.itertuples(index=False, name=None)
                    ],
                }
            )

    return docs.mapInPandas(encode_batches, "media_id long, payload binary")
