"""Frozen extraction constants.

Every tolerance/threshold of the extraction semantics lives here as a
constant, so that the single-process oracle and the distributed Spark job
are bit-identical (SURVEY.md §7.4 risk 5: "these arbitrary constants are
the spec").

Reference citations (read-only tree at /root/reference):
- chunk geometry: src/config/rag_settings.py:39-42
  (chunk_size=1000, overlap=200, min=100, max=2000)
- paragraph / sentence regexes: src/rag/text_processor.py:35-37
- min image size: src/config/settings.py:62-63
- confidence threshold: src/config/rag_settings.py:67
- valid content types: src/rag/text_processor.py:620-621
- table duplicate similarity threshold: src/table_extractor.py:200-218
"""

from __future__ import annotations

# ---- chunk geometry (reference: src/config/rag_settings.py:39-42) ----
CHUNK_SIZE = 1000          # target max chars per text chunk
CHUNK_OVERLAP = 200        # chars of trailing context carried into next chunk
MIN_CHUNK_SIZE = 100       # text chunks shorter than this are dropped (P4)
MAX_CHUNK_SIZE = 2000      # paragraphs longer than this are sentence-split

# ---- segmentation regexes (reference: src/rag/text_processor.py:35-37) ----
PARAGRAPH_SPLIT_RE = r"\n\s*\n"     # F1
SENTENCE_SPLIT_RE = r"[.!?]+"       # F2 (delimiters are dropped, per reference)

# ---- output span model (reference: src/rag/text_processor.py:620-621) ----
KIND_TEXT = "text"
KIND_TABLE = "table"
KIND_FORM = "form"
KIND_IMAGE = "image_ocr"
VALID_OUTPUT_KINDS = (KIND_TEXT, KIND_TABLE, KIND_FORM, KIND_IMAGE)
# ordering rule mirrors texts->tables->forms->images with a running index
# (reference: src/rag/text_processor.py:38-87)
KIND_RANK = {KIND_TEXT: 0, KIND_TABLE: 1, KIND_FORM: 2, KIND_IMAGE: 3}

# ---- input span kinds (BASELINE.json input_hint / FIXTURES.md F1) ----
IN_HTML = "html"
IN_PDF = "pdf_layout"
IN_MEDIA = "media"

# ---- cell normalization (reference: src/table_extractor.py:495-503) ----
NULLISH_CELL_VALUES = ("", "None", "nan", "NaN", "null", "NULL")

# ---- html boilerplate heuristics (north_star: DOM text-density) ----
HTML_DROP_TAGS = frozenset({"script", "style", "noscript", "template", "svg"})
HTML_BOILER_TAGS = frozenset({"nav", "footer", "header", "aside"})
HTML_BLOCK_TAGS = frozenset(
    {
        "p", "div", "section", "article", "main", "li", "ul", "ol",
        "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "body",
    }
)
MIN_BLOCK_CHARS = 20       # blocks shorter than this are boilerplate noise
MAX_LINK_DENSITY = 0.5     # blocks whose text is >50% anchor text are navigation

# ---- pdf layout table detection ----
RULED_MIN_PIPES = 2        # a ruled-table row has >= 2 '|' separators
UNRULED_MIN_ROWS = 3       # whitespace-gap table needs >= 3 aligned lines
UNRULED_MIN_COLS = 2       # ... each with >= 2 columns
UNRULED_GAP_RE = r"\s{2,}" # column separator: 2+ spaces (camelot 'stream' analog,
                           # reference: src/table_extractor.py:124-140)
FORM_MIN_RUN = 2           # >= 2 consecutive key:value lines form a form block
FORM_MAX_LINE = 100        # key:value lines longer than this are prose
FORM_KEY_RE = r"^\s*([A-Za-z_][A-Za-z0-9_ ]{0,40}?)\s*:\s*(\S.*?)?\s*$"
FORM_EMPTY_VALUE = "[Empty]"   # reference: src/rag/text_processor.py:494-510 (F5)

# ---- corpus shape ----
MEGA_DOC_SPAN_THRESHOLD = 512   # a doc with more input spans is a mega doc
                                # (corpus.py draws 600-1400); extraction runs
                                # every doc size on one path

# ---- manifest / checkpoint ----
MANIFEST_NUM_BUCKETS = 64       # pmod(xxhash64(doc_id), N) output buckets
