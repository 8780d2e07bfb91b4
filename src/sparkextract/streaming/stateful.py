"""Stateful / windowed Structured Streaming operators (SURVEY.md §2.9+).

The reference is strictly batch; ``incremental.py`` already covers its
only streaming-adjacent behavior (idempotent re-ingest). This module
adds the two Spark-native streaming shapes a continuously-fed
training-data pipeline needs on top of that:

- ``windowed_event_counts``: event-time tumbling-window aggregation with
  a watermark, so late events are folded in until the watermark passes
  and state is then dropped — the standard bounded-state streaming agg.
  Append mode emits each window exactly once, when it finalizes.

- ``streaming_dedup``: first-writer-wins dedup on a content key as an
  ``applyInPandasWithState`` operator (D3/D4 as *streaming* state): the
  first arrival of each key is emitted, every later arrival in any
  micro-batch is suppressed, and the per-key state survives restarts via
  the checkpoint. This is the arrival-time analog of the batch
  ``dropDuplicates``/manifest resume probe (reference skip-if-ingested,
  /root/reference/src/rag/rag_pipeline.py:97-105).

Scale notes: the window agg keeps state only inside the watermark
horizon (bounded by event-time skew, not stream length); the dedup state
is one tiny row per distinct key, hash-partitioned by the groupBy — the
same layout a 1000-executor cluster would shard.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_DEDUP_OUT_DDL = "content_hash string, doc_id string, first_len int"
_DEDUP_STATE_DDL = "n_seen long"


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window counts per event_type with late-data
    tolerance ``watermark``. Works on a streaming OR batch ``events``
    DataFrame (same plan; streaming adds state eviction)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def _dedup_fn(key, pdfs, state: GroupState):
    """First arrival of a content_hash is emitted; later arrivals (same or
    later micro-batch) only bump the seen-counter in state."""
    rows = [pdf for pdf in pdfs if len(pdf)]
    n_new = sum(len(pdf) for pdf in rows)
    if state.exists:
        (n_seen,) = state.get
    else:
        n_seen = 0
    if n_seen == 0 and rows:
        allrows = pd.concat(rows, ignore_index=True)
        # keeper = lowest doc_id in NUMERIC order for the usual integer
        # ids: (length, string) ordering equals numeric order for
        # non-negative decimals without leading zeros (and is still a
        # deterministic total order for arbitrary string ids), so the
        # streaming survivor matches the batch q11 min(doc_id) survivor —
        # plain lexicographic sort would pick '10' over '9'
        allrows = allrows.assign(_len=allrows["doc_id"].str.len())
        keeper = allrows.sort_values(["_len", "doc_id"]).iloc[[0]]
        yield pd.DataFrame(
            {
                "content_hash": keeper["content_hash"].values,
                "doc_id": keeper["doc_id"].values,
                "first_len": keeper["first_len"].values,
            }
        )
    state.update((n_seen + n_new,))


def streaming_dedup(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) stream -> first doc per content hash.

    Keyed state: (content_hash) -> n_seen. Emits exactly one row per
    distinct hash across the whole stream lifetime (checkpoint-restored
    on restart). The shuffle is on the hash key — the same partitioning
    the batch exact-dedup (q11) uses."""
    keyed = docs.select(
        F.md5("text").alias("content_hash"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.length("text").cast("int").alias("first_len"),
    )
    return keyed.groupBy("content_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=_DEDUP_OUT_DDL,
        stateStructType=_DEDUP_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
