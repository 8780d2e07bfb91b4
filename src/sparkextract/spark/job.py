"""The distributed extraction job (SURVEY.md §7.1 spark/job.py).

Pipeline (north_rule):
    read documents → bucket filter on the checkpoint manifest (J2 resume)
    → explode_outer(spans) → one ``mapInPandas`` (phase 1 per doc run,
    ``finalize`` per doc) → write bucketed output + manifest.

One path for every document size (SURVEY.md §7.4.2). Offsets are
doc-local, so all of a document's phase-1 items must meet in one place
to be numbered. ``explode_outer`` is a narrow generator and a document
row lives in one scan split, so the row's exploded spans arrive as one
contiguous run inside that scan task. A doc whose span array is NULL,
empty or holds only NULL elements arrives as all-NULL rows, which phase 1
maps to no items, just as the oracle skips NULL elements.
``_extract_runs`` finds where ``doc_id`` changes in each Arrow batch,
runs phase 1 (``extract_run``) once per run of one doc's spans in the
batch, and, when ``doc_id`` changes, phase 2 (``finalize``) over the
closed doc's items. Phase 1 is context-free per span and phase 2 a pure
function of the multiset of phase-1 items, so the output equals
``extract_document`` by construction, wherever the batches cut a run
(tested in test_spark_job.py).

Every closed doc also yields one marker row ``(doc_id, NULL, NULL, NULL,
NULL)``, so that ``extract_marked`` carries each input doc, spans or
not, out of its one scan: the resumable run counts docs from the markers
(spark/manifest.py), ``extract_documents`` folds a doc with no spans to
an empty array, and ``extract_exploded`` drops the markers.

Scale notes:
- extraction is map-only: one scan, one Python UDF stage on the scan
  splits (``spark.sql.files.maxPartitionBytes`` balances them), no
  shuffle; the write's bucket exchange is a run's only shuffle;
- a run of spans may cross Arrow batches: the open doc's items carry
  over to the next batch, so a mega doc never becomes one pandas frame;
- the price is that a mega doc's phase 1 runs in its one scan task
  rather than being spread over several;
- all Python crossings are Arrow-batched (no per-row Python, input_hint):
  each batch is read column-wise and the output is built as column lists.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkextract.schema import EXPLODED_DDL

_EXPLODED_COLS = ["doc_id", "kind", "text", "media_ref", "offset"]
_MARKER = (None, None, None, None)  # (kind, text, media_ref, offset) of a marker row


def _extract_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Exploded input spans, one contiguous run per doc -> each doc's
    output spans, then its marker row.

    Phase 1 runs once over each batch's slice of a run. A doc's run may
    cross batches; its items carry over and the last doc is finalized
    after the final batch. A ``doc_id`` that reappears after
    its run closed raises: the plan broke contiguity, and finalizing the
    doc twice would emit it twice with clashing offsets."""
    # imported inside the UDF so the zip shipped via addPyFile resolves on
    # executors even when the driver venv differs (cluster path)
    from sparkextract.core.extract import extract_run, finalize

    closed: set = set()
    doc_id, items = None, None  # the open run

    def close(cols: tuple[list, ...]) -> None:
        closed.add(doc_id)
        spans = finalize(items)
        spans.append(_MARKER)
        cols[0].extend([doc_id] * len(spans))
        for col, values in zip(cols[1:], zip(*spans)):
            col.extend(values)

    def frame(cols: tuple[list, ...]) -> pd.DataFrame:
        return pd.DataFrame(dict(zip(_EXPLODED_COLS, cols)))

    for pdf in batches:
        cols: tuple[list, ...] = ([], [], [], [], [])
        ids = pdf["doc_id"].tolist()
        kinds = pdf["kind"].tolist()
        texts = pdf["text"].tolist()
        refs = pdf["media_ref"].tolist()
        # Arrow hands NULL strings as None and an int column with NULLs
        # as float NaN
        offsets = pdf["offset"].fillna(0).astype("int64").tolist()
        # the batch's doc runs: [starts[k], starts[k + 1]); none in a 0-row batch
        starts = [i for i in range(len(ids)) if i == 0 or ids[i] != ids[i - 1]]
        for start, end in zip(starts, [*starts[1:], len(ids)]):
            d = ids[start]
            if items is None or d != doc_id:
                if items is not None:
                    close(cols)
                if d in closed:
                    raise ValueError(f"doc_id {d!r} reappears after its run closed")
                doc_id, items = d, []
            items += extract_run(
                kinds[start:end], texts[start:end], refs[start:end], offsets[start:end]
            )
        if cols[0]:
            yield frame(cols)
    if items is not None:
        cols = ([], [], [], [], [])
        close(cols)
        yield frame(cols)


def extract_marked(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> exploded output spans plus one marker
    row (NULL ``kind``, ``text``, ``media_ref`` and ``offset``) per input
    doc, docs without spans included. One scan and one Python UDF."""
    from sparkextract.spark.session import ensure_workers_can_import

    ensure_workers_can_import(docs.sparkSession)
    return (
        docs.select("doc_id", F.explode_outer("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
        .mapInPandas(_extract_runs, schema=EXPLODED_DDL)
    )


def extract_exploded(docs: DataFrame, skew_threshold=None) -> DataFrame:
    """documents(doc_id, spans) -> exploded output spans: ``extract_marked``
    without its marker rows.

    ``skew_threshold`` is ignored. It is accepted only because the
    benchmark harness (``perfbench/layers.py``) still passes
    ``skew_threshold=None`` to time the removed whole-doc path; drop it
    together with that call."""
    return extract_marked(docs).filter(F.col("kind").isNotNull())


def assemble_spans(exploded: DataFrame) -> DataFrame:
    """Exploded rows -> (doc_id, spans array<struct>) sorted by offset.

    Built-in exprs only: sort_array on struct(offset, ...) sorts by the
    leading offset field, then transform reorders the struct fields to the
    canonical (kind, text, media_ref, offset) layout. A row with a NULL
    ``kind`` (a doc's marker row) contributes no element: ``collect_list``
    skips the NULL struct."""
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
    extraction is empty (empty array, matching the oracle): every doc has
    a marker row, which ``assemble_spans`` folds to no element."""
    return assemble_spans(extract_marked(docs))
