"""The distributed extraction job (SURVEY.md §7.1 spark/job.py).

Pipeline (north_rule):
    read documents → bucket filter on the checkpoint manifest (J2 resume)
    → explode(spans) → one ``mapInPandas`` (phase 1 per span, ``finalize``
    per doc) → write bucketed output + manifest.

One path for every document size (SURVEY.md §7.4.2). Offsets are
doc-local, so all of a document's phase-1 items must meet in one place
to be numbered. ``explode`` is a narrow generator and a document row
lives in one scan split, so the row's exploded spans arrive as one
contiguous run inside that scan task. ``_extract_runs`` runs phase 1
(``extract_input_span``) per span and, when ``doc_id`` changes, phase 2
(``finalize``) over the closed doc's items. Phase 2 is a pure function
of the multiset of phase-1 items, so the output equals
``extract_document`` by construction (tested in test_spark_job.py).

Scale notes:
- extraction is map-only: one scan, one Python UDF stage on the scan
  splits (``spark.sql.files.maxPartitionBytes`` balances them), no
  shuffle; the write's bucket exchange is a run's only shuffle;
- a run of spans may cross Arrow batches: the open doc's items carry
  over to the next batch, so a mega doc never becomes one pandas frame;
- the price is that a mega doc's phase 1 runs in its one scan task
  rather than being spread over several;
- all Python crossings are Arrow-batched (no per-row Python, input_hint).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkextract.schema import EXPLODED_DDL

_EXPLODED_COLS = ["doc_id", "kind", "text", "media_ref", "offset"]


def _extract_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Exploded input spans, one contiguous run per doc -> output spans.

    A doc's run may cross batches; its items carry over and the last doc
    is finalized after the final batch. A ``doc_id`` that reappears after
    its run closed raises: the plan broke contiguity, and finalizing the
    doc twice would emit it twice with clashing offsets."""
    # imported inside the UDF so the zip shipped via addPyFile resolves on
    # executors even when the driver venv differs (cluster path)
    from sparkextract.core.extract import extract_input_span, finalize

    closed: set = set()
    doc_id, items = None, None  # the open run

    def close() -> list[tuple]:
        closed.add(doc_id)
        return [
            (doc_id, s["kind"], s["text"], s["media_ref"], s["offset"]) for s in finalize(items)
        ]

    for pdf in batches:
        rows: list[tuple] = []
        for d, kind, text, media_ref, off in zip(
            pdf["doc_id"], pdf["kind"], pdf["text"], pdf["media_ref"], pdf["offset"]
        ):
            if items is None or d != doc_id:
                if items is not None:
                    rows.extend(close())
                if d in closed:
                    raise ValueError(f"doc_id {d!r} reappears after its run closed")
                doc_id, items = d, []
            # Arrow hands NULL strings as None and an int column with
            # NULLs as float NaN
            items.extend(
                extract_input_span(
                    kind if isinstance(kind, str) else None,
                    text if isinstance(text, str) else None,
                    media_ref if isinstance(media_ref, str) else None,
                    int(off) if off is not None and not pd.isna(off) else 0,
                )
            )
        if rows:
            yield pd.DataFrame(rows, columns=_EXPLODED_COLS)
    if items is not None and (rows := close()):
        yield pd.DataFrame(rows, columns=_EXPLODED_COLS)


def extract_exploded(docs: DataFrame, skew_threshold=None) -> DataFrame:
    """documents(doc_id, spans) -> exploded output spans.

    ``skew_threshold`` is ignored. It is accepted only because the
    benchmark harness (``perfbench/layers.py``) still passes
    ``skew_threshold=None`` to time the removed whole-doc path; drop it
    together with that call."""
    from sparkextract.spark.session import ensure_workers_can_import

    ensure_workers_can_import(docs.sparkSession)
    return (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s").isNotNull())
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
        .mapInPandas(_extract_runs, schema=EXPLODED_DDL)
    )


def assemble_spans(exploded: DataFrame) -> DataFrame:
    """Exploded rows -> (doc_id, spans array<struct>) sorted by offset.

    Built-in exprs only: sort_array on struct(offset, ...) sorts by the
    leading offset field, then transform reorders the struct fields to the
    canonical (kind, text, media_ref, offset) layout. A row with a NULL
    ``kind`` (a doc_id carried by an outer join with no spans) contributes
    no element: ``collect_list`` skips the NULL struct."""
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("kind").isNotNull(),
                        F.struct("offset", "kind", "text", "media_ref"),
                    )
                )
            ).alias("_s")
        )
        .select(
            "doc_id",
            F.transform(
                "_s",
                lambda x: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    x["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def extract_documents(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, spans) extracted output, including docs whose
    extraction is empty (empty array, matching the oracle).

    Zero-span docs are re-attached via a LEFT join from the doc_id list
    into the exploded output *before* the group-assemble — one extraction
    pass, one shuffle. (An anti-join against the assembled result would
    reference the extraction subtree twice in the same plan, and Spark
    recomputes unshared subtrees — at 100 TB that doubles the job.)
    ``assemble_spans`` skips the NULL-kind rows, so unmatched docs fold
    to an empty span array."""
    exploded = extract_exploded(docs)
    joined = docs.select("doc_id").join(exploded, "doc_id", "left")
    return assemble_spans(joined)
