"""Deterministic normalization primitives (SURVEY.md §2.2 P1/P2/P7, §2.7 D4).

Pure Python/pandas — shared verbatim by the single-process oracle and the
Spark `mapInPandas` workers so output is invariant to where it runs.

Reference parity:
- cell cleaning ''/'None'/'nan' -> None + strip:
  /root/reference/src/table_extractor.py:495-503,650-657
- drop all-null rows/cols: /root/reference/src/table_extractor.py:486-505
- md5 content hash: /root/reference/src/rag/text_processor.py:534
"""

from __future__ import annotations

import hashlib
import re
import unicodedata

from sparkextract import config

_WS_RUN_RE = re.compile(r"[ \t\f\v]+")


def normalize_text(text: str | None) -> str:
    """Canonical text form: NFC, \\n line endings, no trailing line blanks.

    Applied to every textual payload before segmentation so the output is
    stable across sources (SURVEY.md §4.2 custom item 3: determinism
    harness — 'stable string normalization (NFC, explicit whitespace
    rules)').
    """
    if not text:
        return ""
    t = unicodedata.normalize("NFC", text)
    t = t.replace("\r\n", "\n").replace("\r", "\n")
    # strip trailing spaces/tabs per line (keeps blank-line paragraph breaks)
    t = "\n".join(line.rstrip() for line in t.split("\n"))
    return t


def collapse_ws(text: str) -> str:
    """Collapse runs of spaces/tabs to one space (P7 analog,
    /root/reference/src/image_extractor.py:533-549)."""
    return _WS_RUN_RE.sub(" ", text).strip()


def normalize_cell(value: object) -> str | None:
    """P2: strip whitespace; nullish sentinel strings -> None."""
    if value is None:
        return None
    s = str(value).strip()
    if s in config.NULLISH_CELL_VALUES:
        return None
    return collapse_ws(s)


def clean_table(cells: list[list[object]]) -> list[list[str | None]]:
    """P1+P2: normalize every cell, drop all-null rows and all-null columns.

    Mirrors `df.dropna(how='all')` / `dropna(axis=1, how='all')`
    (/root/reference/src/table_extractor.py:486-505,644-659) on a plain
    list-of-lists grid (rows may be ragged; they are right-padded first).
    """
    if not cells:
        return []
    width = max(len(r) for r in cells)
    norm = [
        [normalize_cell(r[i]) if i < len(r) else None for i in range(width)]
        for r in cells
    ]
    # drop all-null rows
    norm = [r for r in norm if any(c is not None for c in r)]
    if not norm:
        return []
    # drop all-null columns
    keep = [i for i in range(width) if any(r[i] is not None for r in norm)]
    return [[r[i] for i in keep] for r in norm]


def md5_hex(text: str) -> str:
    """D4 content hash (/root/reference/src/rag/text_processor.py:534)."""
    return hashlib.md5(text.encode("utf-8")).hexdigest()
