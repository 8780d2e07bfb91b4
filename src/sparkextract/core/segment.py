"""Paragraph / sentence segmentation + overlap chunking (SURVEY.md §2.5 W2,
§2.8 F1/F2).

Reference parity (the arbitrary constants ARE the spec — SURVEY §7.4.5):
- paragraph regex `\\n\\s*\\n`: /root/reference/src/rag/text_processor.py:36
- sentence regex `[.!?]+` (delimiters dropped):
  /root/reference/src/rag/text_processor.py:35,333
- accumulate-paragraphs-until-chunk_size loop:
  /root/reference/src/rag/text_processor.py:324-385
- last-sentence overlap (<= overlap chars):
  /root/reference/src/rag/text_processor.py:512-525
- min-chunk filter: /root/reference/src/rag/text_processor.py:103,111 (P4)
"""

from __future__ import annotations

import re

from sparkextract import config

_PARA_RE = re.compile(config.PARAGRAPH_SPLIT_RE)
_SENT_RE = re.compile(config.SENTENCE_SPLIT_RE)


def split_paragraphs(text: str) -> list[str]:
    """F1: split on blank lines, strip, drop empties."""
    return [p.strip() for p in _PARA_RE.split(text) if p.strip()]


def split_sentences(text: str) -> list[str]:
    """F2: split on `[.!?]+` runs (delimiters are NOT kept, mirroring the
    reference), strip, drop empties."""
    return [s.strip() for s in _SENT_RE.split(text) if s.strip()]


def overlap_tail(chunk: str) -> str:
    """W2: trailing context for the next chunk — the last sentence fragment
    of the final `CHUNK_OVERLAP` chars (reference `_get_overlap_text`,
    text_processor.py:512-525)."""
    tail = chunk[-config.CHUNK_OVERLAP:]
    parts = _SENT_RE.split(tail)
    last = parts[-1].strip()
    return last if last else tail.strip()


def _split_long_paragraph(para: str) -> list[str]:
    """A paragraph longer than MAX_CHUNK_SIZE is packed sentence-by-sentence
    into pieces of at most CHUNK_SIZE chars (hard-wrapped if one sentence
    alone exceeds CHUNK_SIZE)."""
    size = config.CHUNK_SIZE
    pieces: list[str] = []
    cur = ""
    for sent in split_sentences(para):
        if len(sent) > size:
            if cur:
                pieces.append(cur)
                cur = ""
            # wrap by index and slice the rest once: re-slicing the rest at
            # every wrap copies it each time, quadratic in the sentence.
            # The sentence is stripped, so skipping the whitespace after a
            # cut is what .strip() of the rest would remove.
            i, n = 0, len(sent)
            while n - i > size:
                pieces.append(sent[i : i + size])
                i += size
                while i < n and sent[i].isspace():
                    i += 1
            sent = sent[i:]
        if not sent:
            continue
        if cur and len(cur) + 2 + len(sent) > config.CHUNK_SIZE:
            pieces.append(cur)
            cur = sent
        else:
            cur = f"{cur}. {sent}" if cur else sent
    if cur:
        pieces.append(cur)
    return pieces


def chunk_text(text: str) -> list[str]:
    """W2: greedy paragraph packing with sentence-fragment overlap.

    Deterministic spec:
    1. paragraphs = F1 split of the (already normalized) text;
    2. paragraphs longer than MAX_CHUNK_SIZE are pre-split by sentences;
    3. greedily pack paragraphs into chunks, joining with '\\n\\n', closing
       a chunk when adding the next paragraph would exceed CHUNK_SIZE;
    4. each new chunk starts with the previous chunk's overlap_tail()
       joined by a single space;
    5. drop chunks shorter than MIN_CHUNK_SIZE (P4).
    """
    units: list[str] = []
    for para in split_paragraphs(text):
        if len(para) > config.MAX_CHUNK_SIZE:
            units.extend(_split_long_paragraph(para))
        else:
            units.append(para)

    chunks: list[str] = []
    cur = ""
    for para in units:
        if cur and len(cur) + 2 + len(para) > config.CHUNK_SIZE:
            chunks.append(cur)
            ov = overlap_tail(cur)
            cur = f"{ov} {para}" if ov else para
        else:
            cur = f"{cur}\n\n{para}" if cur else para
    if cur:
        chunks.append(cur)

    return [c for c in chunks if len(c) >= config.MIN_CHUNK_SIZE]
