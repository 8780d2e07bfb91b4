"""Sources/sinks (SURVEY.md §2.1 S1-S9) + filter helpers (P3/P6).

Primary storage is bucketed parquet with manifest-commit semantics
(manifest.py — the Iceberg stand-in, SURVEY §7.4.3). The reference's
Excel/CSV/JSON artifact sinks (S4-S6, /root/reference/src/utils/
file_utils.py:47-99) map to debug-only Spark writers here (the Excel
summary sink S4 is the stdlib-only writer in excel.py); the Postgres
chunk store (S9, /root/reference/src/rag/vector_database.py:208-284) maps
to the manifest-committed span table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkextract import config
from sparkextract.schema import DOC_SCHEMA


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """S1: documents scan with the pinned input schema (no inference —
    schema drift fails loudly instead of silently re-typing)."""
    return spark.read.schema(DOC_SCHEMA).parquet(path)


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S1 alternate source: JSON-lines documents with the same pinned
    schema — the common hand-off format for web-scale corpora (one doc
    per line, nested span array). Schema is pinned, never inferred, so a
    malformed feed fails loudly; JSONL is line-splittable, so scans
    parallelize like parquet (minus column pruning — convert to parquet
    for steady-state storage). FAILFAST: Spark's default PERMISSIVE mode
    would silently turn a corrupt line into an all-null row (a dropped
    document); a malformed feed must error instead."""
    return spark.read.schema(DOC_SCHEMA).option("mode", "FAILFAST").json(path)


def read_documents_orc(spark: SparkSession, path: str) -> DataFrame:
    """S1 alternate source: ORC documents (pinned schema, columnar,
    predicate pushdown — interchangeable with parquet for engines that
    emit ORC)."""
    return spark.read.schema(DOC_SCHEMA).orc(path)


def write_spans_csv(exploded: DataFrame, path: str) -> None:
    """S5 debug sink (newlines escaped so one span = one CSV row)."""
    (
        exploded.withColumn("text", F.regexp_replace("text", r"\n", r"\\n"))
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


def write_spans_json(exploded: DataFrame, path: str) -> None:
    """S6 debug sink."""
    exploded.write.mode("overwrite").json(path)


def write_report(exploded: DataFrame, path: str) -> None:
    """S8: per-doc extraction report rows (kind histogram + totals)."""
    (
        exploded.groupBy("doc_id")
        .pivot("kind", list(config.VALID_OUTPUT_KINDS))
        .count()
        .na.fill(0)
        .write.mode("overwrite")
        .json(path)
    )


def filter_min_media_size(media: DataFrame, min_w: int = 50, min_h: int = 50) -> DataFrame:
    """P3: drop images below the minimum pixel box (reference
    /root/reference/src/image_extractor.py:128-130; thresholds
    /root/reference/src/config/settings.py:62-63)."""
    return media.filter((F.col("width") >= min_w) & (F.col("height") >= min_h))


def validate_spans(exploded: DataFrame) -> DataFrame:
    """P6: structural validity — known kind, non-negative offset, payload
    present for textual kinds (reference text_processor.py:604-624)."""
    kind_ok = F.col("kind").isin(*config.VALID_OUTPUT_KINDS)
    offset_ok = F.col("offset") >= 0
    payload_ok = F.when(
        F.col("kind") == config.KIND_IMAGE, F.col("media_ref").isNotNull()
    ).otherwise(F.col("text").isNotNull())
    return exploded.filter(kind_ok & offset_ok & payload_ok)
