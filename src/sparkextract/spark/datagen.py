"""Distributed deterministic corpus materialization.

The per-document generator is keyed by (seed, index) only, so
``spark.range(n)`` + ``mapInPandas`` produces a corpus bit-identical to
the single-process ``generate_corpus`` regardless of partitioning — the
bench corpora (10^5+ docs) are generated in parallel this way.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkextract.schema import DOC_SCHEMA


def _gen_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from sparkextract.corpus import generate_document

    for pdf in batches:
        docs = [generate_document(int(i), int(s)) for i, s in zip(pdf["id"], pdf["seed"])]
        yield pd.DataFrame(
            {
                "doc_id": [d["doc_id"] for d in docs],
                "spans": [d["spans"] for d in docs],
            }
        )


def corpus_df(spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    from sparkextract.spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    partitions = partitions or spark.sparkContext.defaultParallelism * 2
    base = spark.range(0, n_docs, numPartitions=partitions).withColumn("seed", F.lit(seed))
    return base.mapInPandas(_gen_batch, schema=DOC_SCHEMA)


def write_corpus(
    spark: SparkSession, path: str, n_docs: int, seed: int = 42, partitions: int | None = None
) -> None:
    """``partitions`` fixes the output file count (and therefore row-group
    layout / scan-split structure) independent of the generating session's
    core count — callers that later MEASURE scans against this corpus must
    pin it, or a corpus built under local[1] yields a few huge row groups
    that cannot split into small scan tasks."""
    corpus_df(spark, n_docs, seed, partitions=partitions).write.mode("overwrite").parquet(path)
