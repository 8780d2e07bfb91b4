"""Incremental extraction via Structured Streaming (Trigger.AvailableNow).

The reference has NO streaming operators (SURVEY.md §2.9) — its only
streaming-adjacent concept is idempotent re-ingest (skip already-hashed
docs, /root/reference/src/rag/rag_pipeline.py:97-105). The batch engine
covers that with the manifest probe; this module adds the idiomatic
Spark alternative for *continuously arriving* document files: a file
source + the SAME extraction path as the batch job (``extract_exploded``)
+ an exactly-once parquet sink, with progress tracked in the streaming
checkpoint (file-granular resume — complementary to the bucket-granular
manifest).

``Trigger.AvailableNow`` drains everything currently present and stops, so
each scheduled run is a bounded batch job with streaming's bookkeeping —
the standard pattern for incremental ingest pipelines.

``extract_exploded`` is a stateless map (explode → ``mapInPandas``), so
it is legal in append mode with no watermark or state, and documents of
every size, mega docs included, are extracted in the stream.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from sparkextract.schema import DOC_SCHEMA
from sparkextract.spark.job import extract_exploded


def incremental_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Drain all currently-available document files, extract, append.

    Returns the started query; call ``.awaitTermination()`` to block until
    the drain completes. Re-running after new files arrive processes only
    the new files (checkpoint-tracked) — nothing is re-extracted.
    """
    return (
        extract_exploded(spark.readStream.schema(DOC_SCHEMA).parquet(input_path))
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
