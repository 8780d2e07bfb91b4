"""Seeded input corpora for the benchmark workloads.

Each corpus is ``documents(doc_id, spans)`` parquet, written by pyarrow in
this process as a fixed number of files. The file count never depends on
the Spark session's parallelism, so the scan splits of a corpus are the
same whichever master later reads it. Every document is a pure function of
``(seed, index)``: the same seed gives byte-identical files, and another
seed gives other documents.
"""

from __future__ import annotations

import os
import random
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

NUM_FILES = 8

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOC_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), nullable=False), pa.field("spans", pa.list_(SPAN_TYPE))]
)

# media_heavy docs stay below the program's mega-doc threshold (512 input
# spans), so that workload never takes the mega split path
MEDIA_SPANS_MIN, MEDIA_SPANS_MAX = 20, 40


def mixed_document(index: int, seed: int) -> dict:
    """The program's own default mix (html / pdf_layout / media / text,
    ~0.1% mega docs)."""
    from sparkextract.corpus import generate_document

    return generate_document(index, seed)


def media_document(index: int, seed: int) -> dict:
    """A document of 20-40 ``media`` spans with seeded references.

    Every tenth document also opens with one caption span: the first
    non-media span of the mixed document with the same index. Captions
    keep every core function in use at a small share of the core work."""
    rng = random.Random(f"media:{seed}:{index}")
    doc_id = f"media-{seed}-{index:09d}"
    spans = []
    if index % 10 == 0:
        caption = next(
            (s for s in mixed_document(index, seed)["spans"] if s["kind"] != "media"), None
        )
        if caption is not None:
            spans.append({**caption, "offset": 0})
    for _ in range(rng.randint(MEDIA_SPANS_MIN, MEDIA_SPANS_MAX)):
        off = len(spans)
        ref = f"img://{doc_id}/{off}/{rng.getrandbits(32):08x}"
        spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
    return {"doc_id": doc_id, "spans": spans}


GENERATORS: dict[str, Callable[[int, int], dict]] = {
    "mixed": mixed_document,
    "media": media_document,
}


def write_corpus(
    path: str, kind: str, n_docs: int, seed: int, keep: set[int] = frozenset()
) -> tuple[int, dict[int, dict]]:
    """Write ``n_docs`` documents of ``kind`` under ``path``.

    Returns the total input span count and the documents whose index is in
    ``keep`` (the benchmark's seeded check and replay samples)."""
    make = GENERATORS[kind]
    os.makedirs(path, exist_ok=True)
    n_spans = 0
    kept: dict[int, dict] = {}
    for f in range(NUM_FILES):
        lo, hi = f * n_docs // NUM_FILES, (f + 1) * n_docs // NUM_FILES
        docs = [make(i, seed) for i in range(lo, hi)]
        n_spans += sum(len(d["spans"]) for d in docs)
        kept.update((i, docs[i - lo]) for i in keep if lo <= i < hi)
        table = pa.Table.from_pylist(docs, schema=DOC_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
    return n_spans, kept
