"""CSV / JSON source-format parity (SURVEY.md §2.1 S3/S4).

The reference's `read_table` supports parquet, JSON, and CSV arms
(pipeline_libs/spark/spark_utils.py:142-157). The testdata ships as
parquet, so these queries prove the format arms by round-tripping a
table through the format under test — write CSV/JSON to scratch, read
it back with the declared schema — and hash-matching a plain SELECT
oracle over the original parquet. Any quoting/escaping/type-inference
defect in either direction breaks the hash.
"""

from __future__ import annotations

import itertools
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from advisorydatapipeline_spark.queries.helpers import load, scratch_dir
from advisorydatapipeline_spark.registry import query
from advisorydatapipeline_spark.sources.io import read_table

_stream_uniq = itertools.count()


NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)

SUPPLIER_SCHEMA = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)


@query(
    "csv_scan_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_scan_roundtrip(spark, sf_dir):
    """S4: schema'd CSV scan (header on, explicit schema — no
    inference job at scale) proven by parquet -> CSV -> read-back."""
    path = scratch_dir("csv")
    load(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", True
    ).csv(path)
    return read_table(spark, path, NATION_SCHEMA, fmt="csv")


@query(
    "json_scan_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def json_scan_roundtrip(spark, sf_dir):
    """S3: schema'd JSON-lines scan proven by parquet -> JSON ->
    read-back. Doubles survive because Spark prints round-trippable
    repr (shortest-repr) and parses exactly."""
    path = scratch_dir("json")
    load(spark, sf_dir, "supplier").write.mode("overwrite").json(path)
    return read_table(spark, path, SUPPLIER_SCHEMA, fmt="json")


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),  # epoch-ns (session.py)
        T.StructField("user_id", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
        # from the partition directory name, like the reference's
        # enrichment_source=<name> (state_machine/pipeline.py:20-33)
        T.StructField("event_type", T.StringType(), True),
    ]
)


@query(
    "multipath_partitioned_scan",
    oracle="""
SELECT event_id, user_id, value, event_type
FROM events
WHERE event_type IN ('click', 'purchase')
""",
)
def multipath_partitioned_scan(spark, sf_dir):
    """S2: multi-path scan under one basePath with Hive-style
    partition dirs — the reference's staged layout
    (staging/.../enrichment/normalized/enrichment_source=<src>) where
    a column's value lives only in the directory name. Selecting two
    of five partition paths IS the partition pruning."""
    from advisorydatapipeline_spark.queries.helpers import load as _load

    # scratch keyed per sf_dir: a session may run several scale
    # factors (bench warms at sf0.001 then times sf0.1)
    tag = "multipath_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    marker = Path(base) / "_staged"
    if not marker.exists():
        _load(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(f"{base}/events")
        marker.write_text("ok")
    return read_table(
        spark,
        None,
        EVENTS_SCHEMA,
        paths=[
            f"{base}/events/event_type=click",
            f"{base}/events/event_type=purchase",
        ],
        base_path=f"{base}/events",
    ).select("event_id", "user_id", "value", "event_type")


NOT_APPLICABLE_SCHEMA = T.StructType(
    [
        T.StructField("cve_id", T.StringType(), True),
        T.StructField("package", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("fixed_version", T.StringType(), True),
        T.StructField("internal_status", T.StringType(), True),
    ]
)


@query(
    "jdbc_absent_empty_relation",
    oracle="""
SELECT CAST(NULL AS VARCHAR) AS cve_id, CAST(NULL AS VARCHAR) AS package,
       CAST(NULL AS VARCHAR) AS status, CAST(NULL AS VARCHAR) AS fixed_version,
       CAST(NULL AS VARCHAR) AS internal_status
WHERE false
""",
)
def jdbc_absent_empty_relation(spark, sf_dir):
    """S5/S6 executed under the gate: the JDBC arm's
    absent-source = empty-relation-with-declared-schema contract —
    load-bearing in the reference (it is how first runs bootstrap,
    spark_utils.py:266-271); the live-connection path needs a real
    database (tested shape in sources/jdbc.py, partitioned-scan
    options documented there)."""
    from advisorydatapipeline_spark.sources.jdbc import read_jdbc_table

    return read_jdbc_table(
        spark,
        "jdbc:postgresql://nohost:5432/nodb",
        "not_applicable_cves",
        NOT_APPLICABLE_SCHEMA,
    )


DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def _derby_nation_url(spark, sf_dir) -> str:
    """Seed (once per sf_dir) and return the embedded-Derby URL
    holding the nation table as ``nation_jdbc``."""
    tag = "derby_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    url = f"jdbc:derby:{base}/db;create=true"
    marker = Path(base) / "_seeded"
    if not marker.exists():
        load(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ).write.jdbc(
            url, "nation_jdbc", mode="overwrite",
            properties={"driver": DERBY_DRIVER},
        )
        marker.write_text("ok")
    return url


@query(
    "jdbc_live_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def jdbc_live_scan(spark, sf_dir):
    """S5/S6 happy path over a REAL database: seed embedded Derby (on
    Spark's classpath) through ``df.write.jdbc`` and read it back via
    ``read_jdbc_table`` with cast-projection and a *partitioned* scan
    (partitionColumn/bounds/numPartitions — the scale knob the
    reference's serial read lacks, spark_utils.py:94-126). Proves the
    full JDBC round trip, not just the absent-table contract."""
    from advisorydatapipeline_spark.sources.jdbc import read_jdbc_table

    url = _derby_nation_url(spark, sf_dir)
    return read_jdbc_table(
        spark,
        url,
        "nation_jdbc",
        NATION_SCHEMA,
        driver=DERBY_DRIVER,
        partition_options={
            "partitionColumn": "n_nationkey",
            "lowerBound": "0",
            "upperBound": "25",
            "numPartitions": "4",
        },
        strict=True,
    )


@query(
    "http_json_flatten",
    oracle="""
SELECT s_name AS package_name,
       'CVE-2024-' || CAST(s_suppkey AS VARCHAR) AS cve_id,
       '1.' || CAST(s_nationkey AS VARCHAR) AS fixed_version
FROM supplier
""",
)
def http_json_flatten(spark, sf_dir):
    """S7/P7 under the oracle gate: build one advisory JSON payload
    ``{package: {cve_id: {fixed_version}}}`` from the supplier table
    (with planted non-CVE keys the flatten must drop), then run the
    engine-side ``from_json`` + double-``explode`` + ``CVE-`` prefix
    filter (reference fetch.py:16-43). The single-document collect
    mirrors the reference's one HTTP response; the flatten itself is
    a distributed plan."""
    from advisorydatapipeline_spark.sources.http_json import (
        advisories_from_json,
    )

    sup = load(spark, sf_dir, "supplier").select(
        F.col("s_name"),
        F.col("s_suppkey").cast("string").alias("sk"),
        F.col("s_nationkey").cast("string").alias("nk"),
    )
    inner = F.create_map(
        F.concat(F.lit("CVE-2024-"), F.col("sk")),
        F.struct(F.concat(F.lit("1."), F.col("nk")).alias("fixed_version")),
        # non-CVE key: the prefix filter must drop it
        F.concat(F.lit("GHSA-"), F.col("sk")),
        F.struct(F.lit("9.9").alias("fixed_version")),
    )
    entries = sup.select(
        F.struct(F.col("s_name").alias("key"), inner.alias("value")).alias("e")
    )
    payload = entries.agg(
        F.to_json(F.map_from_entries(F.collect_list("e")))
    ).first()[0]
    return advisories_from_json(spark, [payload])


@query(
    "advisory_datasource_scan",
    oracle="""
SELECT s_name AS package_name,
       'CVE-2024-' || CAST(s_suppkey AS VARCHAR) AS cve_id,
       '1.' || CAST(s_nationkey AS VARCHAR) AS fixed_version
FROM supplier
""",
)
def advisory_datasource_scan(spark, sf_dir):
    """S7 as a REAL pluggable source: the advisory feed read through a
    custom Python DataSource (Spark 4 API) — declared schema,
    hash-bucketed partitioned reads (4 executor-side parse tasks, not
    a driver flatten), source-side CVE- prefix filter (planted
    GHSA- keys must be dropped at the source). Same supplier-derived
    payload and oracle as `http_json_flatten`, so the two S7 paths
    are checked value-identical."""
    import json as _json

    from advisorydatapipeline_spark.sources.advisory_source import register

    tag = "advjson_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    path = Path(base) / "advisories.json"
    if not path.exists():
        rows = (
            load(spark, sf_dir, "supplier")
            .select("s_name", "s_suppkey", "s_nationkey")
            .collect()
        )
        payload = {
            r.s_name: {
                f"CVE-2024-{r.s_suppkey}": {"fixed_version": f"1.{r.s_nationkey}"},
                # non-CVE key: the source-side prefix filter must drop it
                f"GHSA-{r.s_suppkey}": {"fixed_version": "9.9"},
            }
            for r in rows
        }
        path.write_text(_json.dumps(payload))
    register(spark)
    return (
        spark.read.format("advisory")
        .option("path", str(path))
        .option("numPartitions", "4")
        .load()
    )


CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)


@query(
    "orc_scan_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
    "FROM customer",
)
def orc_scan_roundtrip(spark, sf_dir):
    """ORC format arm (columnar twin to the parquet path — same
    predicate-pushdown/column-pruning machinery in Spark's reader)
    proven by parquet -> ORC -> read-back against the parquet oracle.
    Avro is the one mainstream format left out: its jar is an external
    Spark module, and read_table raises ValueError for any format but
    parquet, ORC, JSON and CSV."""
    path = scratch_dir("orc")
    load(spark, sf_dir, "customer").write.mode("overwrite").orc(path)
    return read_table(spark, path, CUSTOMER_SCHEMA, fmt="orc")


@query(
    "federated_union_scan",
    oracle="""
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT src) AS BIGINT) AS n_sources,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM (
  SELECT n_regionkey, n_nationkey, 'parquet' AS src FROM nation
  UNION ALL SELECT n_regionkey, n_nationkey, 'csv' FROM nation
  UNION ALL SELECT n_regionkey, n_nationkey, 'jdbc' FROM nation
) u
GROUP BY n_regionkey
""",
)
def federated_union_scan(spark, sf_dir):
    """Federated read: the SAME logical table from three physical
    sources — parquet, schema'd CSV, and a live embedded-Derby JDBC
    scan — unioned by name in one plan and aggregated. This is the
    reference's multi-source ingest union (parquet + JDBC + HTTP
    feeds into one frame) exercised end-to-end; per-source casts are
    conformed by the source layer, so the union never hits a type
    mismatch at runtime."""
    from advisorydatapipeline_spark.sources.jdbc import read_jdbc_table

    cols = ["n_nationkey", "n_name", "n_regionkey"]
    pq = load(spark, sf_dir, "nation").select(*cols)

    csv_path = scratch_dir("fed_csv_" + sf_dir.strip("/").replace("/", "_"))
    if not (Path(csv_path) / "_SUCCESS").exists():
        pq.write.mode("overwrite").option("header", True).csv(csv_path)
    csv = read_table(spark, csv_path, NATION_SCHEMA, fmt="csv")

    jdbc = read_jdbc_table(
        spark,
        _derby_nation_url(spark, sf_dir),
        "nation_jdbc",
        NATION_SCHEMA,
        driver=DERBY_DRIVER,
        strict=True,
    )

    u = (
        pq.withColumn("src", F.lit("parquet"))
        .unionByName(csv.select(*cols).withColumn("src", F.lit("csv")))
        .unionByName(jdbc.select(*cols).withColumn("src", F.lit("jdbc")))
    )
    return u.groupBy("n_regionkey").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("src").cast("long").alias("n_sources"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
    )


@query(
    "compact_small_files",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
""",
)
def compact_small_files(spark, sf_dir):
    """Small-files compaction — the operational chore every 100 TB
    lake needs: stage the events table as 64 tiny files (the
    pathological layout incremental jobs produce), rewrite it
    range-partitioned into 4 right-sized files, read the compacted
    copy back. The oracle hash-check proves compaction is lossless;
    the range repartition gives per-file clustering on user_id so
    downstream per-user scans skip files. ``maxRecordsPerFile`` is
    the knob that bounds file size when a single range is hot."""
    tag = "compact_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    small = f"{base}/small"
    compacted = f"{base}/compacted"
    marker = Path(base) / "_done"
    cols = ["event_id", "user_id", "event_type", "value"]
    if not marker.exists():
        ev = load(spark, sf_dir, "events").select(*cols)
        ev.repartition(64).write.mode("overwrite").parquet(small)
        (
            spark.read.parquet(small)
            .repartitionByRange(4, "user_id", "event_id")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 50_000)
            .parquet(compacted)
        )
        marker.write_text("ok")
    out = spark.read.parquet(compacted)
    n_small = len([p for p in Path(small).glob("part-*")])
    n_big = len([p for p in Path(compacted).glob("part-*")])
    assert n_big < n_small, (n_big, n_small)
    return out.select(*cols)


ERASE_EVERY = 13  # erase users where user_id % 13 == 0


@query(
    "user_erasure_rewrite",
    oracle=f"""
SELECT event_id, user_id, event_type, value
FROM events
WHERE user_id % {ERASE_EVERY} <> 0
""",
)
def user_erasure_rewrite(spark, sf_dir):
    """Right-to-be-forgotten over immutable parquet: rewrite the
    events table dropping all rows of the erased-user set (broadcast
    anti join — the deletion list is always tiny next to the table),
    then read the rewritten copy back. The oracle proves the rewrite
    removed exactly the targeted rows and nothing else. On a
    lakehouse table this becomes DELETE WHERE + vacuum; on raw
    parquet the rewrite IS the delete."""
    tag = "erase_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    out_path = f"{base}/events_clean"
    marker = Path(base) / "_done"
    cols = ["event_id", "user_id", "event_type", "value"]
    if not marker.exists():
        ev = load(spark, sf_dir, "events").select(*cols)
        erased = (
            ev.select("user_id")
            .distinct()
            .filter(F.col("user_id") % ERASE_EVERY == 0)
        )
        kept = ev.join(F.broadcast(erased), "user_id", "left_anti")
        kept.write.mode("overwrite").parquet(out_path)
        marker.write_text("ok")
    return spark.read.parquet(out_path).select(*cols)


@query(
    "schema_evolution_scan",
    oracle="""
SELECT n_nationkey, n_name,
       CAST(NULL AS VARCHAR) AS audit_tag
FROM nation
UNION ALL
SELECT n_nationkey, n_name, 'batch2' AS audit_tag
FROM nation
""",
)
def schema_evolution_scan(spark, sf_dir):
    """Schema evolution on read: batch 1 written without the
    ``audit_tag`` column, batch 2 with it; ``mergeSchema=true``
    reconciles the footers and older rows surface the new column as
    NULL — the append-only evolution contract every long-lived lake
    table relies on (mergeSchema is a one-off footer merge; pin the
    unified schema in the table definition for steady-state scans)."""
    tag = "evolve_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    path = f"{base}/nation_evolving"
    marker = Path(base) / "_done"
    if not marker.exists():
        n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        n.write.mode("overwrite").parquet(f"{path}/batch=1")
        n.withColumn("audit_tag", F.lit("batch2")).write.mode(
            "overwrite"
        ).parquet(f"{path}/batch=2")
        marker.write_text("ok")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{path}/batch=1", f"{path}/batch=2")
        .select("n_nationkey", "n_name", "audit_tag")
    )


@query(
    "advisory_stream_scan",
    oracle="""
SELECT s_name AS package_name,
       'CVE-2024-' || CAST(s_suppkey AS VARCHAR) AS cve_id,
       '1.' || CAST(s_nationkey AS VARCHAR) AS fixed_version
FROM supplier
""",
)
def advisory_stream_scan(spark, sf_dir):
    """The advisory feed as a STREAMING custom source (Spark 4
    ``SimpleDataSourceStreamReader``): `spark.readStream.format
    ("advisory")` with a version-cursor offset — batch 0 drains the
    feed snapshot, recovery replays via readBetweenOffsets. Drained
    with availableNow into a memory sink; the final table must equal
    the batch DataSource read (same oracle), proving the batch and
    stream faces of the source agree."""
    import json as _json

    from advisorydatapipeline_spark.sources.advisory_source import register

    tag = "advjson_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    path = Path(base) / "advisories.json"
    if not path.exists():
        rows = (
            load(spark, sf_dir, "supplier")
            .select("s_name", "s_suppkey", "s_nationkey")
            .collect()
        )
        payload = {
            r.s_name: {
                f"CVE-2024-{r.s_suppkey}": {
                    "fixed_version": f"1.{r.s_nationkey}"
                },
                f"GHSA-{r.s_suppkey}": {"fixed_version": "9.9"},
            }
            for r in rows
        }
        path.write_text(_json.dumps(payload))
    register(spark)
    stream = (
        spark.readStream.format("advisory")
        .option("path", str(path))
        .load()
        # the simple stream reader has no pushFilters hook; the
        # CVE- guard is an ordinary streaming filter here
        .filter(F.col("cve_id").startswith("CVE-"))
    )
    name = f"adp_adv_stream_{next(_stream_uniq)}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    return spark.table(name)


@query(
    "xml_scan_roundtrip",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey
FROM nation
""",
)
def xml_scan_roundtrip(spark, sf_dir):
    """XML format arm (built into Spark 4 — no spark-xml jar): the
    nation dim staged as an XML document and read back with rowTag
    record discovery + explicit casts to the declared schema. XML is
    a row-splittable source like JSON-lines only per-file; the scale
    pattern is many files (one per upstream export), which is exactly
    how the staging writes it."""
    from xml.sax.saxutils import escape as _esc

    tag = "xml_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    path = Path(base) / "nation.xml"
    if not path.exists():
        rows = (
            load(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        )
        body = "".join(
            f"<nation><n_nationkey>{r.n_nationkey}</n_nationkey>"
            f"<n_name>{_esc(r.n_name)}</n_name>"
            f"<n_regionkey>{r.n_regionkey}</n_regionkey></nation>"
            for r in rows
        )
        path.write_text(f"<nations>{body}</nations>")
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .load(str(path))
        .select(
            F.col("n_nationkey").cast("int"),
            F.col("n_name").cast("string"),
            F.col("n_regionkey").cast("int"),
        )
    )


N_BINARY_DOCS = 50


@query(
    "binary_file_scan",
    oracle=f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < {N_BINARY_DOCS}
""",
)
def binary_file_scan(spark, sf_dir):
    """`binaryFile` source — the ingestion face of the multimodal
    story: opaque blobs become (path, length, content) rows, identity
    parsed from the file name, integrity from md5(content). Spark's
    md5 over the utf-8 bytes equals DuckDB's md5 over the source
    string, so the round trip is value-checked end to end. At scale
    this reads object-store blobs directly; the decode stage downstream
    is operators/multimodal.py."""
    tag = "bin_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    marker = Path(base) / ".staged"
    if not marker.exists():
        rows = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < N_BINARY_DOCS)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            (Path(base) / f"doc_{r.doc_id}.bin").write_bytes(
                r.text.encode("utf-8")
            )
        marker.write_text("ok")
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(base)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )


@query(
    "log_parse_text",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
WHERE event_type IS NOT NULL AND value IS NOT NULL
GROUP BY 1
""",
)
def log_parse_text(spark, sf_dir):
    """Schema-on-read over raw text: events staged as pipe-delimited
    log lines, read with the `text` source and parsed by regexp
    column expressions — the classic log-ingestion shape (no schema
    at the source, structure imposed in the plan, malformed lines
    droppable by predicate instead of crashing the scan). Float
    repr round-trips exactly, and the quantized-cents sum keeps the
    aggregate engine-exact."""
    tag = "log_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    path = Path(base) / "events.log"
    if not path.exists():
        rows = (
            load(spark, sf_dir, "events")
            .filter(
                F.col("event_type").isNotNull()
                & F.col("value").isNotNull()
            )
            .select("event_id", "event_type", "value")
            .collect()
        )
        for r in rows:
            # the pipe format has no escaping; a delimiter inside a
            # field would silently mis-parse vs the oracle — refuse
            assert "|" not in r.event_type and "\n" not in r.event_type
        path.write_text(
            "".join(
                f"{r.event_id}|{r.event_type}|{r.value!r}\n" for r in rows
            )
        )
    lines = spark.read.text(str(path))
    parsed = lines.select(
        F.regexp_extract("value", r"^(\d+)\|", 1)
        .cast("long")
        .alias("event_id"),
        F.regexp_extract("value", r"^\d+\|([^|]*)\|", 1).alias(
            "event_type"
        ),
        F.regexp_extract("value", r"\|([^|]*)$", 1)
        .cast("double")
        .alias("val"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.floor(F.col("val") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


DPP_CATS = {"view": "engagement", "click": "engagement"}


@query(
    "dpp_partitioned_join",
    oracle="""
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events e
WHERE e.event_type IN ('view', 'click')
GROUP BY 1
""",
)
def dpp_partitioned_join(spark, sf_dir):
    """Dynamic partition pruning: the fact table is laid out
    partitioned by event_type, the dim carries a category filter, and
    Spark prunes fact PARTITIONS at runtime from the broadcast dim's
    build side — the mechanism that lets a 100 TB star join read only
    the directories the dim selects instead of the whole fact.
    tests/test_explain_plans.py pins `dynamicpruning` in the scan;
    this entry value-checks the pruned result."""
    tag = "dpp_" + sf_dir.strip("/").replace("/", "_")
    base = scratch_dir(tag)
    fact_dir = Path(base) / "events_by_type"
    if not fact_dir.exists():
        load(spark, sf_dir, "events").write.partitionBy(
            "event_type"
        ).mode("overwrite").parquet(str(fact_dir))
    fact = spark.read.parquet(str(fact_dir))
    dim = spark.createDataFrame(
        [(t, c) for t, c in DPP_CATS.items()],
        "d_type string, category string",
    ).filter(F.col("category") == "engagement")
    return (
        fact.join(
            F.broadcast(dim), fact.event_type == dim.d_type
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
    )


@query(
    "federated_dim_join",
    oracle="""
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS balance_cents
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
""",
)
def federated_dim_join(spark, sf_dir):
    """Federated JOIN across connectors: the nation dim read LIVE
    from embedded Derby over JDBC, broadcast against the parquet
    customer scan — the lakehouse-meets-operational-store join every
    enrichment pipeline runs. The JDBC side is dim-sized (read once,
    broadcast); the parquet side keeps its pushdown; the oracle
    reads both relations from parquet, proving the JDBC hop is
    lossless. Complements federated_union_scan (cross-format UNION)
    with the cross-format JOIN face."""
    from advisorydatapipeline_spark.sources.jdbc import read_jdbc_table

    url = _derby_nation_url(spark, sf_dir)
    n = read_jdbc_table(
        spark,
        url,
        "nation_jdbc",
        NATION_SCHEMA,
        driver=DERBY_DRIVER,
        strict=True,
    ).select("n_nationkey", F.col("n_name").alias("nation"))
    c = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("_b"),
    )
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("_b").alias("balance_cents"),
        )
    )

