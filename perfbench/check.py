"""Untimed output check of one operation against the single-process oracle.

An operation passes when

1. the docs its run committed equal the docs it had to do, and the
   manifest commits every document of the corpus exactly once;
2. the manifest's ``span_count`` total equals the ``read_extracted`` rows;
3. every document of a fixed seeded sample, read back, is span-sequence-
   equal to ``extract_document`` run in the benchmark process.
"""

from __future__ import annotations

from collections import defaultdict

Span = tuple  # (kind, text, media_ref, offset)


def expected_spans(docs: dict[int, dict]) -> dict[str, list[Span]]:
    from sparkextract.core.extract import extract_document

    return {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in extract_document(d["spans"])
        ]
        for d in docs.values()
    }


def group_rows(rows) -> dict[str, list[Span]]:
    """Exploded ``(doc_id, kind, text, media_ref, offset)`` rows -> spans
    per document in offset order."""
    out: dict[str, list[Span]] = defaultdict(list)
    for doc_id, kind, text, media_ref, offset in rows:
        out[doc_id].append((kind, text, media_ref, offset))
    return {d: sorted(spans, key=lambda s: s[3]) for d, spans in out.items()}


def read_back(spark, root: str, sample_ids, read_rows: int | None = None) -> dict:
    """What the committed table at ``root`` holds, for :func:`failures`.

    ``read_rows`` is the ``read_extracted`` row count when the operation
    already counted it."""
    from pyspark.sql import functions as F
    from sparkextract.spark.manifest import read_extracted, read_manifest

    docs, spans = (
        read_manifest(spark, root)
        .filter(F.col("status") == "done")
        .agg(F.sum("doc_count"), F.sum("span_count"))
        .collect()[0]
    )
    # the row count and the sample in one pass over the table
    cols = ("doc_id", "kind", "text", "media_ref", "offset")
    rows, sample = (
        read_extracted(spark, root)
        .agg(
            F.count("*"),
            F.collect_list(F.when(F.col("doc_id").isin(list(sample_ids)), F.struct(*cols))),
        )
        .collect()[0]
    )
    return {
        "manifest_docs": int(docs or 0),
        "manifest_spans": int(spans or 0),
        "read_rows": rows if read_rows is None else read_rows,
        "sample": group_rows(tuple(r) for r in sample),
    }


def failures(
    *, todo_docs: int, committed_docs: int, corpus_docs: int, seen: dict, expected: dict
) -> list[str]:
    """Every way the operation's committed output is wrong; empty if none."""
    out = []
    if committed_docs != todo_docs:
        out.append(f"committed {committed_docs} docs, had to do {todo_docs}")
    if seen["manifest_docs"] != corpus_docs:
        out.append(f"manifest commits {seen['manifest_docs']} docs of {corpus_docs}")
    if seen["manifest_spans"] != seen["read_rows"]:
        out.append(
            f"manifest span_count {seen['manifest_spans']} != {seen['read_rows']} rows read"
        )
    for doc_id, want in expected.items():
        got = seen["sample"].get(doc_id, [])
        if got != want:
            out.append(f"{doc_id}: read back {len(got)} spans differ from the oracle's {len(want)}")
    return out
