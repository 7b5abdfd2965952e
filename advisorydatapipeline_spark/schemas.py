"""Declared table schemas.

The reference declares one hand-written ``StructType`` per table and
*requires* it at read time (pipeline_libs/spark/spark_utils.py:171-172);
enforcement is cast-projection, not validation (:49-50). We keep that
contract. Schemas below re-express the reference's six tables
(SURVEY.md §1.3) with one deliberate upgrade: ``enrichment_timestamp``
is a real TimestampType instead of a lexically-ordered ISO string
(map_new_info_with_udf.py:45 relied on lexical order being accidentally
correct).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference-parity table schemas -----------------------------------------

# master advisory feed (reference: ingest/schemas/echo_advisory_schema.py:8-14)
ADVISORY_SCHEMA = T.StructType(
    [
        T.StructField("package_name", T.StringType(), True),
        T.StructField("cve_id", T.StringType(), False),
        T.StructField("fixed_version", T.StringType(), True),
    ]
)

# manual overrides (reference: ingest/schemas/not_applicable_schema.py:9-17)
NOT_APPLICABLE_SCHEMA = T.StructType(
    [
        T.StructField("cve_id", T.StringType(), False),
        T.StructField("package", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("fixed_version", T.StringType(), True),
        T.StructField("internal_status", T.StringType(), False),
    ]
)

# raw enrichment response (reference: enrichment/schemas/raw_nvd_schema.py:9-25).
# A row is *answered* when ``found`` is not NULL: the upstream said
# found or not found. A fetch that exhausts its retries surfaces as a
# row with every result field NULL (operators/enrichment.py); the
# pipeline neither normalizes nor caches it, so the key is fetched
# again on the next run.
RAW_ENRICHMENT_SCHEMA = T.StructType(
    [
        T.StructField("cve_id", T.StringType(), False),
        T.StructField("package", T.StringType(), True),
        T.StructField("found", T.BooleanType(), True),
        T.StructField("upstream_fixed_version", T.StringType(), True),
        T.StructField("upstream_status", T.StringType(), True),
        T.StructField("query_timestamp", T.TimestampType(), False),
    ]
)

# normalized per-source enrichment
# (reference: enrichment/schemas/noramlized_schema.py:3-13 + enrichment_source
#  added at state_machine/pipeline.py:20-21; note the reference's naming
#  inversion — its `status` is customer text, `internal_status` the machine
#  state. We name them honestly.)
NORMALIZED_ENRICHMENT_SCHEMA = T.StructType(
    [
        T.StructField("cve_id", T.StringType(), True),
        T.StructField("package", T.StringType(), True),
        T.StructField("customer_text", T.StringType(), True),
        T.StructField("fixed_version", T.StringType(), True),
        T.StructField("priority", T.IntegerType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("enrichment_timestamp", T.TimestampType(), True),
        T.StructField("enrichment_source", T.StringType(), True),
    ]
)

# TTL cache (reference: enrichment/schemas/cache_schema.py:9-16)
ENRICHMENT_CACHE_SCHEMA = T.StructType(
    [
        T.StructField("cve_id", T.StringType(), False),
        T.StructField("package_name", T.StringType(), True),
        T.StructField("source_name", T.StringType(), False),
        T.StructField("last_accessed", T.TimestampType(), False),
    ]
)

# prod / processed state table (reference: state_machine/schemas/state.py:22-45)
STATE_MACHINE_SCHEMA = T.StructType(
    [
        T.StructField("cve_id", T.StringType(), False),
        T.StructField("package", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("previous_status", T.StringType(), True),
        T.StructField("fixed_version", T.StringType(), True),
        T.StructField("customer_text", T.StringType(), True),
        T.StructField("data_source", T.StringType(), True),
        T.StructField("priority", T.IntegerType(), True),
        T.StructField("enrichment_timestamp", T.TimestampType(), True),
        T.StructField("transition_valid", T.BooleanType(), True),
        T.StructField("transition_reason", T.StringType(), True),
        T.StructField("change_type", T.StringType(), True),
    ]
)

# opaque multimodal payloads: binary blob + typed metadata (see
# operators/multimodal.py)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
