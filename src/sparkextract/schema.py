"""Spark schemas for the extraction pipeline (BASELINE.json input_hint,
FIXTURES.md F1-F3)."""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

# input:  documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# output span rows in exploded (relational) form
EXPLODED_DDL = "doc_id string, kind string, text string, media_ref string, offset int"

# checkpoint manifest (FIXTURES.md F3)
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("job_run_id", T.StringType(), False),
        T.StructField("doc_id_bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("doc_count", T.LongType(), True),
        T.StructField("span_count", T.LongType(), True),
        T.StructField("table_count", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)
