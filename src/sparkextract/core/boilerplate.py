"""HTML boilerplate stripping with DOM text-density heuristics (north_star).

A DOM-lite pass over the HTML payload of an input span:
- <script>/<style>/... subtrees dropped entirely;
- <nav>/<footer>/<header>/<aside> subtrees are boilerplate;
- remaining block-level elements become candidate text blocks, kept only if
  they carry >= MIN_BLOCK_CHARS of text and their link density (anchor
  chars / total chars) is <= MAX_LINK_DENSITY — the classic text-density
  main-content heuristic;
- <table> subtrees are captured as cell grids (tr/td|th);
- <input>/<select>/<textarea> elements inside <form> become form fields.

The reference extracts the same four content families from PDFs with four
competing engines (/root/reference/src/pdf_extractor.py:102-257); here one
deterministic pass over HTML yields text/table/form in a single walk.
Pure stdlib (html.parser) — runs identically in the oracle and in Spark
workers.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

from sparkextract import config
from sparkextract.core.normalize import collapse_ws


@dataclass
class HtmlContent:
    """Result of one HTML span extraction."""

    text_blocks: list[str] = field(default_factory=list)
    tables: list[list[list[str]]] = field(default_factory=list)
    form_fields: list[tuple[str, str]] = field(default_factory=list)  # (name, value)


class _Walker(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.out = HtmlContent()
        self._drop_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._form_depth = 0
        # current candidate block: [text_chars, link_chars, pieces]
        self._block_texts: list[str] = []
        self._block_link_chars = 0
        # table capture
        self._table_depth = 0
        self._rows: list[list[str]] = []
        self._cell: list[str] | None = None

    # -- block lifecycle ---------------------------------------------------
    def _flush_block(self) -> None:
        text = collapse_ws(" ".join(self._block_texts))
        link_chars = self._block_link_chars
        self._block_texts = []
        self._block_link_chars = 0
        if self._boiler_depth > 0:
            return
        if len(text) < config.MIN_BLOCK_CHARS:
            return
        if link_chars / max(len(text), 1) > config.MAX_LINK_DENSITY:
            return
        self.out.text_blocks.append(text)

    # -- parser callbacks --------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in config.HTML_DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "table":
            if self._table_depth == 0:
                self._flush_block()
                self._rows = []
            self._table_depth += 1
            return
        if self._table_depth:
            if tag == "tr":
                self._rows.append([])
            elif tag in ("td", "th"):
                self._cell = []
            return
        if tag in config.HTML_BOILER_TAGS:
            self._flush_block()
            self._boiler_depth += 1
            return
        if tag == "a":
            self._link_depth += 1
        if tag == "form":
            self._form_depth += 1
        if self._form_depth and tag in ("input", "select", "textarea"):
            d = dict(attrs)
            name = (d.get("name") or "").strip()
            if name:
                self.out.form_fields.append((name, (d.get("value") or "").strip()))
        if tag in config.HTML_BLOCK_TAGS:
            self._flush_block()
        if tag == "br":
            self._block_texts.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in config.HTML_DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "table" and self._table_depth:
            self._table_depth -= 1
            if self._table_depth == 0 and self._boiler_depth == 0:
                rows = [r for r in self._rows if r]
                if rows:
                    self.out.tables.append(rows)
                self._rows = []
            return
        if self._table_depth:
            if tag in ("td", "th") and self._cell is not None:
                if self._rows:
                    self._rows[-1].append(collapse_ws(" ".join(self._cell)))
                self._cell = None
            return
        if tag in config.HTML_BOILER_TAGS:
            self._boiler_depth = max(0, self._boiler_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag == "form":
            self._form_depth = max(0, self._form_depth - 1)
        if tag in config.HTML_BLOCK_TAGS:
            self._flush_block()

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        if self._table_depth:
            if self._cell is not None:
                self._cell.append(data)
            return
        stripped = collapse_ws(data)
        if not stripped:
            return
        self._block_texts.append(stripped)
        if self._link_depth:
            self._block_link_chars += len(stripped)

    def close(self) -> None:  # noqa: D102 — flush the trailing block
        super().close()
        self._flush_block()


# --------------------------------------------------------------------------
# Fast tokenizer: html.parser.HTMLParser costs ~65 µs/tag of pure-Python
# dispatch and dominates extraction wall time (77% in profile). For the
# strict well-formed subset below we emit the IDENTICAL event stream with
# one compiled regex; anything outside the subset returns None and the
# caller falls back to HTMLParser. Faithfulness is enforced by a
# differential test (tests/test_properties.py) comparing both paths on
# corpus HTML and adversarial junk.
#
# Fast-path preconditions (else fallback):
# - no "&" (charref conversion), no "<!"/"<?" (comments/decls/PIs);
# - every "<" starts a tag matching _TAG_RE (no stray "<" data);
# - end tags carry no attributes;
# - start-tag attribute strings fully match _ATTR_RE (so quoted ">" or
#   malformed attrs bail out rather than mis-tokenize);
# - <script>/<style> bodies contain no "<" and are closed explicitly.

# Quote-aware tag token: quoted attribute values may contain ">" (matching
# HTMLParser's locatestarttagend behavior); an unquoted ">" ends the tag.
# The three alternatives share no first character, so matching is linear:
# a quote outside a closed quoted value fails the match and the caller
# falls back to HTMLParser (if the unquoted branch also took quotes, a run
# of stray quotes would backtrack exponentially).
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\"[^\"<]*\"|'[^'<]*'|[^<>\"'])*)>"
)
_FORM_FIELD_TAGS = ("input", "select", "textarea")
_NO_ATTRS: list = []
_ATTR_RE = re.compile(
    r"\s+([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(?:\"([^\"<>&]*)\"|'([^'<>&]*)'|([^\s\"'=<>`]+)))?"
)
# one-shot validation form of _ATTR_RE (same grammar, repeated, plus
# trailing whitespace) — C-level fullmatch instead of a Python attr loop
# for the tags whose attr VALUES we don't need
_ATTRS_VALID_RE = re.compile(
    r"(?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"<>&]*\"|'[^'<>&]*'|[^\s\"'=<>`]+))?)*\s*"
)
_RAWTEXT_TAGS = ("script", "style")


def _parse_attrs(astr: str) -> list[tuple[str, str | None]] | None:
    """Full-consumption attr parse; None = outside the strict subset."""
    attrs: list[tuple[str, str | None]] = []
    pos = 0
    while pos < len(astr):
        if astr[pos:].isspace():
            break
        m = _ATTR_RE.match(astr, pos)
        if m is None:
            return None
        name = m.group(1).lower()
        value = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4)
        )
        attrs.append((name, value))
        pos = m.end()
    return attrs


def _fast_feed(html: str, walker: _Walker) -> bool:
    """Drive the walker via the fast tokenizer. True on success; False =
    input outside the strict subset (caller must use HTMLParser).

    Handlers are dispatched INLINE as tokens are recognized — a mid-input
    bail leaves the walker partially driven, which is safe because the
    caller discards this walker and feeds a FRESH one to the HTMLParser
    fallback (extract_html)."""
    if "&" in html or "<!" in html or "<?" in html:
        return False
    start, end, data = walker.handle_starttag, walker.handle_endtag, walker.handle_data
    pos = 0
    n = len(html)
    find = html.find
    tag_match = _TAG_RE.match
    while pos < n:
        k = find("<", pos)
        if k < 0:
            data(html[pos:])
            break
        if k > pos:
            data(html[pos:k])
        m = tag_match(html, k)
        if m is None:
            return False  # stray "<" — HTMLParser would data-ify it
        closing, tag, astr = m.group(1, 2, 3)
        tag = tag.lower()
        pos = m.end()
        # the tag name must be delimited: anything glued to it (e.g.
        # "<a-b>", "<a'x'>") is part of HTMLParser's tolerant tag-name /
        # attr grammar — bail rather than mis-name the tag
        if astr and astr != "/" and astr[0] not in " \t\n\r\f":
            return False
        if closing:
            if astr and not astr.isspace():
                return False
            end(tag)
            continue
        selfclose = False
        if astr.endswith("/"):
            if astr == "/" or astr[-2] in " \t\n\r\f\"'":
                selfclose = True
                astr = astr[:-1]
            else:
                return False  # unquoted value ending in "/" — ambiguous
        # Attribute CONTENT only matters for form-field tags; for the rest
        # attr parsing is pure validation. Quote-free attr strings need no
        # validation at all (the quote-aware _TAG_RE already ended the tag
        # at the one true ">"); quote-bearing ones are validated so that
        # bare-quote junk (quotes not in value position, where HTMLParser's
        # tolerant grammar diverges) falls back instead of mis-parsing.
        if tag in _FORM_FIELD_TAGS:
            attrs = _parse_attrs(astr)
            if attrs is None:
                return False
        else:
            attrs = _NO_ATTRS
            if ('"' in astr or "'" in astr) and not _ATTRS_VALID_RE.fullmatch(astr):
                return False
        start(tag, attrs)
        if selfclose:
            end(tag)
        elif tag in _RAWTEXT_TAGS:
            closer = re.search(rf"</\s*{tag}\s*>", html[pos:], re.IGNORECASE)
            if closer is None:
                return False
            body = html[pos : pos + closer.start()]
            if "<" in body:
                return False
            if body:
                data(body)
            end(tag)
            pos += closer.end()
    walker._flush_block()
    return True


def extract_html(html: str) -> HtmlContent:
    """Parse one HTML payload into main-content blocks, tables, form fields.

    Tries the fast strict-subset tokenizer first; falls back to the stdlib
    HTMLParser for anything irregular. Both paths produce an identical
    event stream on the fast path's domain (differential-tested), so
    output bytes are independent of which path ran."""
    walker = _Walker()
    try:
        if _fast_feed(html, walker):
            return walker.out
    except Exception:
        pass
    walker = _Walker()
    try:
        walker.feed(html)
        walker.close()
    except Exception:
        # malformed markup: fall back to whatever was accumulated; the
        # parser is tolerant so this is a belt-and-braces guard, not a path
        # that changes semantics between oracle and Spark (both run this
        # exact code).
        pass
    return walker.out
