"""Deterministic pseudo-OCR for media spans (SURVEY.md §2 S7/P7).

Reference behavior: ``image_ocr`` chunks carry engine-produced text that
enters the ordered chunk sequence
(/root/reference/src/image_extractor.py:337-549 tesseract/easyocr OCR;
/root/reference/src/rag/text_processor.py:38-87 ordering). The sandbox
has no OCR engine and BASELINE.json's ``input_hint`` carries media as
opaque ``media_ref`` strings, so the decode step synthesizes
deterministic "OCR output" from the payload hash: stable across engines,
and SQL-reproducible so the DuckDB oracle can derive the expected text
(`queries/extraction.py ocr_sql`).

The raw synthesis carries the artifacts a real OCR emits (runs of
spaces/tabs) and is routed through the P7 clean chain (``collapse_ws``,
run once per batch of spans by ``pseudo_ocr_texts``), exactly as the
reference cleans tesseract output
(/root/reference/src/image_extractor.py:533-549). On a real cluster,
swap ``pseudo_ocr_raw`` for the OCR call; the clean chain and the span
plumbing downstream are unchanged.
"""

from __future__ import annotations

from sparkextract.core.normalize import collapse_ws, md5_hex


def pseudo_ocr_raw(payload_md5: str) -> str:
    """Synthesized raw OCR output for a payload with the given md5 hex
    digest — includes the whitespace artifacts P7 must clean."""
    page = int(payload_md5[16], 16) % 10
    return f"scan  {payload_md5[:8]}\t{payload_md5[8:16]} page {page}"


def pseudo_ocr_texts(payload_md5s: list[str]) -> list[str]:
    r"""Cleaned pseudo-OCR text for each payload digest, through one run of
    the P7 clean chain (``collapse_ws``) over the whole batch.

    The raw outputs are joined with ``"\n"``, collapsed in one regex pass,
    split on ``"\n"`` and stripped piece by piece. That equals
    ``collapse_ws`` of each output because a raw output is fixed-width
    hex plus fixed text, so it never holds ``"\n"``, and the whitespace
    runs ``collapse_ws`` collapses never include ``"\n"``: no run crosses
    a separator, and each piece still has its own ends to strip."""
    if not payload_md5s:
        return []
    joined = collapse_ws("\n".join(map(pseudo_ocr_raw, payload_md5s)))
    return [piece.strip() for piece in joined.split("\n")]


def pseudo_ocr_text(media_ref: str | None) -> str:
    """Cleaned pseudo-OCR text for a media span, keyed by its ref.

    Fixed length OCR_TEXT_LEN (hash fields are fixed-width, the page
    digit is single-decimal), which the SQL oracles rely on for length
    arithmetic."""
    return pseudo_ocr_texts([md5_hex(media_ref or "")])[0]


# 'scan ' + 8 + ' ' + 8 + ' page ' + 1
OCR_TEXT_LEN = 29
