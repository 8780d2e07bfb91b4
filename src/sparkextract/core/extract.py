"""The extraction core: one deterministic function, used twice.

``extract_document`` is THE oracle-and-engine function (SURVEY.md §7.1):
run directly it produces golden fixtures; wrapped in Spark `mapInPandas`
it is the distributed engine. Identical code → span-sequence equality by
construction; the tests then verify the *plumbing* (Arrow round-trips,
partitioning invariance, doc runs that cross Arrow batches).

It is split into two phases so the engine can stream a document's spans
instead of holding the whole document (SURVEY.md §7.4.2):

- phase 1 ``extract_run`` — context-free per input span, over a run of
  spans given column-wise: input spans -> list of intermediate items
  ``(kind, text, media_ref, src_offset, sub_idx)``. A run's media spans
  are decoded in one batched call (``pseudo_ocr_texts``); every other
  span goes through its own kind's path. ``extract_input_span`` is
  ``extract_run`` over one span;
- phase 2 ``finalize`` — per document: table/form dedup (D6/D1), kind-rank
  ordering texts→tables→forms→images, dense 0-based ``offset`` (W1,
  /root/reference/src/rag/text_processor.py:38-87) -> ``(kind, text,
  media_ref, offset)`` tuples, which ``extract_document`` turns into dicts
  and the engine into column lists.

Because phase 1 never looks outside its span and phase 2 is a pure
function of the multiset of phase-1 items, *any* order or batching of a
document's spans, and any split of them into runs, yields identical
output.
"""

from __future__ import annotations

from itertools import repeat
from typing import Iterable, Mapping, Sequence

from sparkextract import config
from sparkextract.core.boilerplate import extract_html
from sparkextract.core.normalize import md5_hex, normalize_text
# pseudo_ocr_text stays a module-level name so that perfbench's per-layer
# replay, which wraps this module's names, keeps finding it
from sparkextract.core.ocr import pseudo_ocr_text, pseudo_ocr_texts  # noqa: F401
from sparkextract.core.segment import chunk_text
from sparkextract.core.tables import parse_pdf_layout, render_form, render_table

# intermediate item: (kind, text, media_ref, src_offset, sub_idx)
Item = tuple[str, str | None, str | None, int, int]
# finalized span: (kind, text, media_ref, offset)
OutSpan = tuple[str, str | None, str | None, int]
# output span of the oracle: dict(kind, text, media_ref, offset)
Span = dict


def extract_run(
    kinds: Sequence[str | None],
    texts: Sequence[str | None],
    media_refs: Sequence[str | None],
    src_offsets: Sequence[int],
) -> list[Item]:
    """Phase 1 over a run of input spans, given column-wise -> their
    intermediate items, as a multiset (media items come last). Each span
    stays context-free; only the media decode is batched over the run."""
    items: list[Item] = []
    ocr_refs: list[str | None] = []  # the run's media spans
    ocr_offsets: list[int] = []
    for kind, text, media_ref, src_offset in zip(kinds, texts, media_refs, src_offsets):
        if kind == config.IN_MEDIA:
            ocr_refs.append(media_ref)
            ocr_offsets.append(src_offset)
        else:
            items += _extract_content_span(kind, text, src_offset)
    if ocr_refs:
        # media decode: media_ref preserved verbatim (FIXTURES.md F2;
        # reference src/image_extractor.py:56-70) and deterministic
        # pseudo-OCR text — derived from the payload hash, routed through
        # the P7 clean chain — rides in `text`, so image_ocr spans enter
        # the ordered sequence with content like the reference's OCR
        # chunks (src/image_extractor.py:337-549, text_processor.py:38-87)
        ocr = pseudo_ocr_texts([md5_hex(ref or "") for ref in ocr_refs])
        items += zip(repeat(config.KIND_IMAGE), ocr, ocr_refs, ocr_offsets, repeat(0))
    return items


def extract_input_span(
    kind: str | None,
    text: str | None,
    media_ref: str | None,
    src_offset: int,
) -> list[Item]:
    """Phase 1 over one input span: ``extract_run`` of a one-span run."""
    return extract_run((kind,), (text,), (media_ref,), (src_offset,))


def _extract_content_span(kind: str | None, text: str | None, src_offset: int) -> list[Item]:
    """Phase 1 of one non-media input span: its prose chunks, then its
    rendered tables, then its form, numbered by ``sub_idx`` in that order."""
    norm = normalize_text(text)
    if not norm:
        return []
    if kind == config.IN_HTML:
        content = extract_html(norm)
        prose, tables, fields = "\n\n".join(content.text_blocks), content.tables, content.form_fields
    elif kind == config.IN_PDF:
        content = parse_pdf_layout(norm)
        prose, tables, fields = content.paragraphs_text, content.tables, content.form_fields
    else:
        # plain text (also the fallback for unknown input kinds: treat the
        # payload as prose rather than dropping data)
        prose, tables, fields = norm, [], []
    out = [(config.KIND_TEXT, chunk) for chunk in chunk_text(prose)]
    out += [(config.KIND_TABLE, t) for t in map(render_table, tables) if t is not None]
    form = render_form(fields)
    if form is not None:
        out.append((config.KIND_FORM, form))
    return [(k, t, None, src_offset, sub) for sub, (k, t) in enumerate(out)]


def finalize(items: Iterable[Item]) -> list[OutSpan]:
    """Phase 2: order, dedup, and number a document's intermediate items
    into ``(kind, text, media_ref, offset)`` tuples.

    Ordering: (kind_rank, src_offset, sub_idx) — texts first, then tables,
    forms, images, each in source order (W1). Table and form spans are
    deduped by md5 of their rendered text, first occurrence in that order
    wins (D6/D1; replaces the reference's pairwise similarity loop,
    /root/reference/src/table_extractor.py:144-152). Offsets are dense and
    0-based per document.
    """
    ordered = sorted(
        items,
        # (rank, src, sub) is unique for well-formed docs; the trailing
        # (text, media_ref) tie-break makes the result a pure function of
        # the item MULTISET even for malformed duplicate-offset inputs —
        # required because the Spark path feeds items in the exploded
        # array's order, not sorted by offset (job.py _extract_runs).
        # NULL sorts before '' so that two items differing only there
        # never tie.
        key=lambda it: (
            config.KIND_RANK[it[0]],
            it[3],
            it[4],
            it[1] is not None,
            it[1] or "",
            it[2] is not None,
            it[2] or "",
        ),
    )
    seen: set[str] = set()
    spans: list[OutSpan] = []
    for kind, text, media_ref, _src, _sub in ordered:
        if kind in (config.KIND_TABLE, config.KIND_FORM) and text is not None:
            fp = md5_hex(text)
            if fp in seen:
                continue
            seen.add(fp)
        spans.append((kind, text, media_ref, len(spans)))
    return spans


def extract_document(spans: Iterable[Mapping] | None) -> list[Span]:
    """Oracle entry point: raw input span array -> ordered output spans.

    A missing or null array yields an empty output, and null elements are
    skipped (the Spark path drops them too); a null ``offset`` counts as
    0. The spans go through ``extract_run`` in array order, as on the
    Spark path; the output does not depend on that order, because
    ``finalize`` is a pure function of the item multiset (duplicate
    offsets, which only malformed input has, included).
    """
    if spans is None:
        return []
    spans = [s for s in spans if s is not None]
    items = extract_run(
        [s.get("kind") for s in spans],
        [s.get("text") for s in spans],
        [s.get("media_ref") for s in spans],
        [int(s["offset"]) if s.get("offset") is not None else 0 for s in spans],
    )
    return [
        {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}
        for kind, text, media_ref, offset in finalize(items)
    ]
