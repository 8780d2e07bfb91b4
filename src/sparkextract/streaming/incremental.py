"""Incremental extraction via Structured Streaming (Trigger.AvailableNow).

The reference has NO streaming operators (SURVEY.md §2.9) — its only
streaming-adjacent concept is idempotent re-ingest (skip already-hashed
docs, /root/reference/src/rag/rag_pipeline.py:97-105). The batch engine
covers that with the manifest probe; this module adds the idiomatic
Spark alternative for *continuously arriving* document files: a file
source + the SAME whole-doc ``mapInPandas`` core + an exactly-once
parquet sink, with progress tracked in the streaming checkpoint (file-
granular resume — complementary to the bucket-granular manifest).

``Trigger.AvailableNow`` drains everything currently present and stops, so
each scheduled run is a bounded batch job with streaming's bookkeeping —
the standard pattern for incremental ingest pipelines.

Only the whole-doc path runs here (a pure map — supported in append mode
with no watermark/state); mega-docs beyond ``skew_threshold`` would need
the batch job's groupBy reassembly, so they are routed to a side output
for batch pickup rather than silently mis-handled.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sparkextract import config
from sparkextract.schema import DOC_SCHEMA, EXPLODED_DDL
from sparkextract.spark.job import _extract_whole_docs


def incremental_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    sidecar_path: str | None = None,
    skew_threshold: int = config.MEGA_DOC_SPAN_THRESHOLD,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Drain all currently-available document files, extract, append.

    Returns the started query; call ``.awaitTermination()`` to block until
    the drain completes. Re-running after new files arrive processes only
    the new files (checkpoint-tracked) — nothing is re-extracted.
    """
    from sparkextract.spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_path)

    n_span = F.coalesce(F.size("spans"), F.lit(0))
    small = stream.filter(n_span <= skew_threshold)
    out = small.mapInPandas(_extract_whole_docs, schema=EXPLODED_DDL)

    if sidecar_path is not None:
        # mega-docs: defer to the batch job's split/reassemble path
        (
            stream.filter(n_span > skew_threshold)
            .writeStream.format("parquet")
            .option("path", sidecar_path)
            .option("checkpointLocation", checkpoint_path + "_sidecar")
            .trigger(availableNow=True)
            .start()
        )

    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
