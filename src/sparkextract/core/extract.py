"""The extraction core: one deterministic function, used twice.

``extract_document`` is THE oracle-and-engine function (SURVEY.md §7.1):
run directly it produces golden fixtures; wrapped in Spark `mapInPandas`
it is the distributed engine. Identical code → span-sequence equality by
construction; the tests then verify the *plumbing* (Arrow round-trips,
partitioning invariance, skew split/reassemble).

It is split into two phases so mega-documents can be split across tasks
(SURVEY.md §7.4.2):

- phase 1 ``extract_input_span`` — context-free per input span: input span
  -> list of intermediate items ``(kind, text, media_ref, src_offset,
  sub_idx)``;
- phase 2 ``finalize`` — per document: table/form dedup (D6/D1), kind-rank
  ordering texts→tables→forms→images, dense 0-based ``offset`` (W1,
  /root/reference/src/rag/text_processor.py:38-87).

Because phase 1 never looks outside its span and phase 2 is a pure
function of the multiset of phase-1 items, *any* partitioning of a
document's spans yields identical output.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from sparkextract import config
from sparkextract.core.boilerplate import extract_html
from sparkextract.core.normalize import md5_hex, normalize_text
from sparkextract.core.ocr import pseudo_ocr_text
from sparkextract.core.segment import chunk_text
from sparkextract.core.tables import parse_pdf_layout, render_form, render_table

# intermediate item: (kind, text, media_ref, src_offset, sub_idx)
Item = tuple[str, str | None, str | None, int, int]
# output span: dict(kind, text, media_ref, offset)
Span = dict


def extract_input_span(
    kind: str | None,
    text: str | None,
    media_ref: str | None,
    src_offset: int,
) -> list[Item]:
    """Phase 1: one input span -> intermediate items. Context-free."""
    items: list[Item] = []
    sub = 0

    def emit(out_kind: str, out_text: str | None, out_ref: str | None) -> None:
        nonlocal sub
        items.append((out_kind, out_text, out_ref, src_offset, sub))
        sub += 1

    if kind == config.IN_MEDIA:
        # media decode: media_ref preserved verbatim (FIXTURES.md F2;
        # reference src/image_extractor.py:56-70) and deterministic
        # pseudo-OCR text — derived from the payload hash, routed through
        # the P7 clean chain — rides in `text`, so image_ocr spans enter
        # the ordered sequence with content like the reference's OCR
        # chunks (src/image_extractor.py:337-549, text_processor.py:38-87)
        emit(config.KIND_IMAGE, pseudo_ocr_text(media_ref), media_ref)
        return items

    norm = normalize_text(text)
    if not norm:
        return items

    if kind == config.IN_HTML:
        content = extract_html(norm)
        for chunk in chunk_text("\n\n".join(content.text_blocks)):
            emit(config.KIND_TEXT, chunk, None)
        for grid in content.tables:
            rendered = render_table(grid)
            if rendered is not None:
                emit(config.KIND_TABLE, rendered, None)
        form = render_form(content.form_fields)
        if form is not None:
            emit(config.KIND_FORM, form, None)
    elif kind == config.IN_PDF:
        content = parse_pdf_layout(norm)
        for chunk in chunk_text(content.paragraphs_text):
            emit(config.KIND_TEXT, chunk, None)
        for grid in content.tables:
            rendered = render_table(grid)
            if rendered is not None:
                emit(config.KIND_TABLE, rendered, None)
        form = render_form(content.form_fields)
        if form is not None:
            emit(config.KIND_FORM, form, None)
    else:
        # plain text (also the fallback for unknown input kinds: treat the
        # payload as prose rather than dropping data)
        for chunk in chunk_text(norm):
            emit(config.KIND_TEXT, chunk, None)

    return items


def finalize(items: Iterable[Item]) -> list[Span]:
    """Phase 2: order, dedup, and number a document's intermediate items.

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
        # required because the mega-doc path feeds items in shuffle-arrival
        # order (job.py _finalize_group)
        key=lambda it: (
            config.KIND_RANK[it[0]],
            it[3],
            it[4],
            it[1] or "",
            it[2] or "",
        ),
    )
    seen: set[str] = set()
    spans: list[Span] = []
    for kind, text, media_ref, _src, _sub in ordered:
        if kind in (config.KIND_TABLE, config.KIND_FORM) and text is not None:
            fp = md5_hex(text)
            if fp in seen:
                continue
            seen.add(fp)
        spans.append(
            {
                "kind": kind,
                "text": text,
                "media_ref": media_ref,
                "offset": len(spans),
            }
        )
    return spans


def extract_document(spans: Iterable[Mapping] | None) -> list[Span]:
    """Oracle entry point: raw input span array -> ordered output spans.

    Input spans are processed in their source ``offset`` order; a missing
    or null array yields an empty output, and null elements are skipped
    (the Spark paths drop them too). Duplicate offsets (malformed
    input) tie-break on (kind, text, media_ref) so the output is a pure
    function of the span *set* — never of the physical list order, which
    Spark does not guarantee after a mega-doc split/reassemble.
    """
    if spans is None:
        return []
    ordered_in = sorted(
        (dict(s) for s in spans if s is not None),
        key=lambda s: (
            s.get("offset") if s.get("offset") is not None else 0,
            s.get("kind") or "",
            s.get("text") or "",
            s.get("media_ref") or "",
        ),
    )
    items: list[Item] = []
    for s in ordered_in:
        off = s.get("offset")
        items.extend(
            extract_input_span(
                s.get("kind"),
                s.get("text"),
                s.get("media_ref"),
                int(off) if off is not None else 0,
            )
        )
    return finalize(items)
