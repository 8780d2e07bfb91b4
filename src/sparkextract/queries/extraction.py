"""Queries that run the extraction core (``spark/job.py``) end to end:
span passthrough and kind stats, mega documents, doc-grain
assembly, overlap chunking (W2), the OCR clean chain (P7), malformed
input (unknown kinds, duplicate offsets), table/form capture (F4/F5),
per-span confidence (A1-A3) and form-field keyword grouping (F6).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkextract.core.ocr import OCR_TEXT_LEN
from sparkextract.queries.base import load, register


def ocr_sql(ref_expr: str) -> str:
    """DuckDB twin of core/ocr.py pseudo_ocr_text for a media_ref SQL
    expression — byte-identical to the engine's cleaned OCR output."""
    return (
        f"'scan ' || substring(md5({ref_expr}), 1, 8) || ' ' || "
        f"substring(md5({ref_expr}), 9, 8) || ' page ' || "
        f"CAST(CAST(('0x' || substring(md5({ref_expr}), 17, 1)) AS UBIGINT)"
        f" % 10 AS VARCHAR)"
    )


def _routed_kind():
    """doc_id%3 routing shared by q40-q43: 0 → text, 1 → html, 2 → pdf."""
    return F.element_at(
        F.array(F.lit("text"), F.lit("html"), F.lit("pdf_layout")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )


def _routed_payload(kind):
    """The span text for a routed kind: html payloads are wrapped in
    boilerplate the extractor must strip back off."""
    payload = F.col("text")
    html_payload = F.concat(
        F.lit(
            "<html><body><nav><a href='/home'>home home home</a></nav><article><p>"
        ),
        payload,
        F.lit(
            "</p></article><script>var t=1;</script>"
            "<footer><p>copyright footer boilerplate text</p></footer></body></html>"
        ),
    )
    return F.when(kind == "html", html_payload).otherwise(payload)


def _span(kind, text, offset=0, media_ref=None):
    """One input span struct in the engine's (kind, text, media_ref, offset)
    layout. ``kind`` and ``offset`` may be Python literals; a missing
    ``text`` or ``media_ref`` is a string NULL."""
    null = F.lit(None).cast("string")
    return F.struct(
        F.lit(kind).alias("kind"),
        (null if text is None else text).alias("text"),
        (null if media_ref is None else media_ref).alias("media_ref"),
        F.lit(offset).alias("offset"),
    )


def _span_docs(docs, spans):
    """The (doc_id string, spans) input frame of a flat docs frame: one
    row per doc, ``spans`` an array Column of :func:`_span` structs."""
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))


def interleaved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap the flat ``documents`` table into the BASELINE.json input_hint
    shape. Routing is deterministic on doc_id: %3==0 → text (+media span),
    %3==1 → html-wrapped, %3==2 → pdf_layout. ``__spark_entry__.entry``
    extracts this corpus at sf0.001."""
    return wrap_docs(load(spark, sf_dir, "documents"))


def wrap_docs(docs: DataFrame) -> DataFrame:
    """Wrap any flat (doc_id, text) frame into the interleaved span shape
    (same deterministic doc_id%3 routing); shared with q94's augmented
    corpus and q106's changed docs."""
    kind = _routed_kind()
    first = _span(kind, _routed_payload(kind))
    media = _span(
        "media", None, 1, F.concat(F.lit("img://"), F.col("doc_id").cast("string"), F.lit("/1"))
    )
    return _span_docs(
        docs, F.when(F.col("doc_id") % 3 == 0, F.array(first, media)).otherwise(F.array(first))
    )


# The interleaved wrap's passthrough property, in SQL: a doc has 1 text
# span iff n_chars >= 100 and 1 image_ocr span iff doc_id % 3 == 0, after
# the text span, and never a table span.
_N_TEXT_SQL = "CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END"


_N_MEDIA_SQL = "CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END"


_SPAN_COUNT_SQL = f"({_N_TEXT_SQL} + {_N_MEDIA_SQL})"


_MEDIA_REF_SQL = "'img://' || CAST(doc_id AS VARCHAR) || '/1'"


# Every output span of the interleaved wrap: the expectation of q40 and
# of q108's streamed copy.
_PASSTHROUGH_SQL = f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind, text,
           CAST(NULL AS VARCHAR) AS media_ref, 0 AS offset
    FROM documents WHERE n_chars >= 100
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'image_ocr' AS kind,
           {ocr_sql(_MEDIA_REF_SQL)} AS text, {_MEDIA_REF_SQL} AS media_ref,
           {_N_TEXT_SQL} AS offset
    FROM documents WHERE doc_id % 3 = 0
"""


# --------------------------------------------------------------------------
# THE extraction invariant, driver-checked: real pipeline vs SQL-derived
# expected spans (kind, text, media_ref, offset) — span-sequence equality.
@register("q40_extract_passthrough", oracle=_PASSTHROUGH_SQL)
def q40_extract_passthrough(spark, sf_dir):
    from sparkextract.spark.job import extract_exploded

    return extract_exploded(interleaved_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# A5/A10 extraction metrics, SQL-derivable for the simple-payload corpus.
@register(
    "q41_extract_kind_stats",
    oracle=f"""
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COALESCE(SUM(LENGTH(text)), 0) AS BIGINT) AS total_chars
    FROM ({_PASSTHROUGH_SQL}) GROUP BY kind
    """,
)
def q41_extract_kind_stats(spark, sf_dir):
    from sparkextract.spark.job import extract_exploded

    out = extract_exploded(interleaved_docs(spark, sf_dir))
    return out.groupBy("kind").agg(
        F.count("*").alias("n_spans"),
        F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("total_chars"),
    )


# --------------------------------------------------------------------------
# q42: MEGA documents next to singletons, full-row oracle-verified. Even
# doc_ids fold into 4 mega documents of hundreds of spans each, whose
# exploded runs may cross Arrow batches (the run-carrying UDF in spark/job.py);
# odd doc_ids stay singleton docs — both shapes run in one plan and the
# output is compared row-for-row against the SQL-derived expectation.
# Every doc_id%5==0 doc also contributes a media span, so image_ocr
# passthrough and the texts-before-images kind ordering (core/extract.py
# finalize) are verified on the mega docs too.
_Q42_ORACLE = f"""
    WITH contrib AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'mega-' || CAST((doc_id % 8) // 2 AS VARCHAR)
                  ELSE 'doc-' || CAST(doc_id AS VARCHAR) END AS out_doc,
             text, n_chars
      FROM documents
    ),
    items AS (
      SELECT out_doc, 0 AS kind_rank, doc_id AS k, 'text' AS kind, text,
             CAST(NULL AS VARCHAR) AS media_ref
      FROM contrib WHERE n_chars >= 100
      UNION ALL
      SELECT out_doc, 1 AS kind_rank, doc_id AS k, 'image_ocr' AS kind,
             {ocr_sql("'img://' || CAST(doc_id AS VARCHAR) || '/m'")} AS text,
             'img://' || CAST(doc_id AS VARCHAR) || '/m' AS media_ref
      FROM contrib WHERE doc_id % 5 = 0
    )
    SELECT out_doc AS doc_id, kind, text, media_ref,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY out_doc ORDER BY kind_rank, k) - 1 AS INT) AS offset
    FROM items
"""


def mega_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the ``documents`` table into 4 mega docs (even doc_ids) plus
    singleton docs (odd doc_ids); doc_id%5==0 rows add a media span."""
    from sparkextract.spark.job import assemble_spans

    docs = load(spark, sf_dir, "documents")
    out_doc = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("mega-"), ((F.col("doc_id") % 8) / 2).cast("int").cast("string")),
    ).otherwise(F.concat(F.lit("doc-"), F.col("doc_id").cast("string")))
    main_off = F.when(F.col("doc_id") % 2 == 0, F.col("doc_id")).otherwise(F.lit(0))
    kind = _routed_kind()
    main = _span(kind, _routed_payload(kind), main_off.cast("int"))
    ref = F.concat(F.lit("img://"), F.col("doc_id").cast("string"), F.lit("/m"))
    media = _span("media", None, (main_off + 1).cast("int"), ref)
    rows = docs.select(out_doc.alias("doc_id"), main.alias("s")).unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(out_doc.alias("doc_id"), media.alias("s"))
    )
    return assemble_spans(rows.select("doc_id", "s.*"))


@register("q42_extract_mega_skew", oracle=_Q42_ORACLE)
def q42_extract_mega_skew(spark, sf_dir):
    from sparkextract.spark.job import extract_exploded

    return extract_exploded(mega_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# q43: assembled span-array output (the Iceberg-table-out shape),
# oracle-verified per document on array size, media count, total text
# chars, and the leading span's kind (ordering witness).
@register(
    "q43_extract_assembled",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST({_SPAN_COUNT_SQL} AS INT) AS n_spans,
           CAST({_N_MEDIA_SQL} AS INT) AS n_media,
           CAST({_N_TEXT_SQL} * n_chars + {_N_MEDIA_SQL} * {OCR_TEXT_LEN} AS INT)
             AS total_chars,
           CASE WHEN n_chars >= 100 THEN 'text'
                WHEN doc_id % 3 = 0 THEN 'image_ocr' END AS first_kind
    FROM documents
    """,
)
def q43_extract_assembled(spark, sf_dir):
    from sparkextract.spark.job import extract_documents

    out = extract_documents(interleaved_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.coalesce(
            F.size(F.filter("spans", lambda s: s["kind"] == "image_ocr")), F.lit(0)
        ).alias("n_media"),
        F.aggregate(
            "spans", F.lit(0), lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0))
        ).alias("total_chars"),
        F.try_element_at("spans", F.lit(1))["kind"].alias("first_kind"),
    )


_Q54_ORACLE = """
    WITH p AS (
      SELECT doc_id,
             200 + (n_chars % 354) AS L,
             3 + (doc_id % 12) AS k
      FROM documents
    ),
    geo AS (
      SELECT doc_id, L, k,
             1002 // (L + 2) AS m1,
             801 // (L + 2) AS ml
      FROM p
    ),
    nch AS (
      SELECT *, CASE WHEN k <= m1 THEN 1
                     ELSE 1 + CAST(CEIL((k - m1) * 1.0 / ml) AS INT)
                END AS n_chunks
      FROM geo
    ),
    chunks AS (
      SELECT doc_id, L, k, m1, ml, n_chunks,
             CAST(UNNEST(range(n_chunks)) AS INT) AS "offset"
      FROM nch
    ),
    sized AS (
      SELECT doc_id, L, "offset",
             CASE WHEN "offset" = 0 THEN LEAST(k, m1)
                  WHEN "offset" < n_chunks - 1 THEN ml
                  ELSE (k - m1) - (n_chunks - 2) * ml END AS u
      FROM chunks
    ),
    texts AS (
      SELECT doc_id, "offset",
             CASE WHEN "offset" = 0 THEN '' ELSE repeat('w', 200) || ' ' END
               || LEFT(repeat(repeat('w', L) || chr(10) || chr(10), CAST(u AS INT)),
                       CAST(u * (L + 2) - 2 AS INT)) AS chunk
      FROM sized
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, "offset",
           CAST(LENGTH(chunk) AS INT) AS chunk_len,
           md5(chunk) AS chunk_md5
    FROM texts
"""


@register("q54_chunk_overlap", oracle=_Q54_ORACLE)
def q54_chunk_overlap(spark, sf_dir):
    from sparkextract.spark.job import extract_exploded

    docs = load(spark, sf_dir, "documents")
    unit = F.repeat(F.lit("w"), (F.lit(200) + F.col("n_chars") % 354).cast("int"))
    k = (F.lit(3) + F.col("doc_id") % 12).cast("int")
    body = F.array_join(F.array_repeat(unit, k), "\n\n")
    out = extract_exploded(_span_docs(docs, F.array(_span("text", body))))
    return out.select(
        "doc_id",
        "offset",
        F.length("text").alias("chunk_len"),
        F.md5("text").alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# q56: the OCR-text post-processing chain as ONE query, on a synthetic
# "OCR output" population derived from documents (media spans carry
# media_ref verbatim per BASELINE.json input_hint, so true OCR decode is
# out of scope — the reference's POST-processing pipeline shape is what
# is modeled). Chain, mirroring
# reference src/image_extractor.py:533-549 (_clean_ocr_text) and
# :635 (meaningful-text gate):
#   1. collapse whitespace runs (P7) — explicit char class, \s is not
#      Java/RE2-portable;
#   2. '|' -> 'I' artifact repair;
#   3. drop single-char non-alphanumeric "words" (artifact filter);
#   4. keep only meaningful results: len(trim) > 3 (P10);
#   5. length-factor confidence (P5 threshold form).
# Injected noise: doubled spaces, a leading '| ', trailing ' . -- ok'
# artifacts; every 17th doc is pure artifacts and must be gated out.
# Full-text verification via md5 of the cleaned text.
_Q56_ORACLE = r"""
    WITH ocr AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN '| . .'
                  ELSE '| ' || replace(text, ' ', '  ') || ' . -- ok' END AS raw
      FROM documents
    ),
    clean AS (
      SELECT doc_id,
             replace(trim(regexp_replace(raw, '[ \t\n\x0B\f\r]+', ' ', 'g')), '|', 'I') AS c
      FROM ocr
    ),
    words AS (
      SELECT doc_id,
             list_filter(string_split(c, ' '),
                         w -> LENGTH(w) > 1 OR regexp_matches(w, '^[A-Za-z0-9]+$')) AS ws
      FROM clean
    ),
    final AS (
      SELECT doc_id, array_to_string(ws, ' ') AS t,
             CAST(LENGTH(ws) AS INT) AS n_words
      FROM words
    )
    SELECT doc_id, md5(t) AS clean_md5, n_words,
           ROUND(LEAST(LENGTH(t) / 1000.0, 1.0), 6) AS conf
    FROM final
    WHERE LENGTH(TRIM(t)) > 3
"""


@register("q56_ocr_clean_chain", oracle=_Q56_ORACLE)
def q56_ocr_clean_chain(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    raw = F.when(F.col("doc_id") % 17 == 0, F.lit("| . .")).otherwise(
        F.concat(F.lit("| "), F.regexp_replace("text", " ", "  "), F.lit(" . -- ok"))
    )
    clean = F.translate(
        F.trim(F.regexp_replace(raw, r"[ \t\n\x0B\f\r]+", " ")), "|", "I"
    )
    ws = F.filter(
        F.split(clean, " "),
        lambda w: (F.length(w) > 1) | w.rlike("^[A-Za-z0-9]+$"),
    )
    t = F.array_join(ws, " ")
    return (
        docs.select(
            "doc_id",
            F.md5(t).alias("clean_md5"),
            F.size(ws).alias("n_words"),
            F.round(F.least(F.length(t) / 1000.0, F.lit(1.0)), 6).alias("conf"),
            F.length(F.trim(t)).alias("_g"),
        )
        .filter(F.col("_g") > 3)
        .drop("_g")
    )


# --------------------------------------------------------------------------
# q62: unknown-input-kind fallback through the gate. The extraction core
# treats unrecognized span kinds as prose rather than dropping data (the
# else-branch of core/extract.py _extract_content_span) — a
# malformed-feed guarantee previously pytest-only. Odd doc_ids get an
# invented kind; their payloads must come through exactly like 'text'
# spans.
@register(
    "q62_unknown_kind_fallback",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind, text,
           0 AS "offset"
    FROM documents WHERE n_chars >= 100
    """,
)
def q62_unknown_kind_fallback(spark, sf_dir):
    from sparkextract.spark.job import extract_exploded

    docs = load(spark, sf_dir, "documents")
    kind = F.when(F.col("doc_id") % 2 == 1, F.lit("mystery_format_v2")).otherwise(
        F.lit("text")
    )
    out = extract_exploded(_span_docs(docs, F.array(_span(kind, F.col("text")))))
    return out.select("doc_id", "kind", "text", "offset")


# --------------------------------------------------------------------------
# q63: malformed DUPLICATE-offset inputs stay deterministic through the
# gate. Two spans share offset 0; the core's multiset tie-break orders
# them by (kind_rank, src_offset, sub_idx, text) (core/extract.py
# finalize), so output offsets follow the
# lexicographic order of the two payloads — SQL-derivable with a window
# over (doc, text). Previously only the partitioning-invariance pytest
# exercised this.
@register(
    "q63_duplicate_offsets",
    oracle="""
    WITH payloads AS (
      SELECT doc_id, text FROM documents WHERE n_chars >= 100
      UNION ALL
      SELECT doc_id, 'zz dup tail ' || text AS text
      FROM documents WHERE n_chars >= 100
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY text) - 1 AS INT)
             AS "offset"
    FROM payloads
    """,
)
def q63_duplicate_offsets(spark, sf_dir):
    from sparkextract.spark.job import extract_exploded

    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    dup = F.concat(F.lit("zz dup tail "), F.col("text"))
    spans = F.array(_span("text", F.col("text")), _span("text", dup))
    out = extract_exploded(_span_docs(docs, spans))
    return out.select("doc_id", "text", "offset")


# --------------------------------------------------------------------------
# q64: TABLE and FORM spans through the oracle gate — until now every
# gate corpus used table-free payloads, so ruled-table parsing, cell
# cleaning, duplicate-table suppression (D6), form runs with [Empty]
# values (F5), and the texts->tables->forms kind ordering were verified
# by pytest/golden fixtures only. Each document becomes one pdf_layout
# span containing: its prose, a ruled table, a separator prose line, the
# SAME ruled table again (must be deduped by rendered-text md5), an
# unruled whitespace-gap table (the 'stream' detector), and a
# 3-line form run with an empty value. The expected three output spans
# (prose chunk, ONE table rendering, form rendering) are exact string
# constructions in SQL. Parse/render spec: core/tables.py; reference
# table engines reference src/table_extractor.py, form widgets
# reference src/form_extractor.py:34-44, renderings
# reference src/rag/text_processor.py:387-423,494-510.
_Q64_MID = (
    "this separator prose line keeps the two identical tables apart and is"
    " comfortably long"
)


_Q64_ORACLE = f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind,
           text || chr(10) || '{_Q64_MID}' AS text, 0 AS "offset"
    FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), 'table',
           'h1, h2' || chr(10) ||
           'c' || CAST(doc_id AS VARCHAR) || ', d' || CAST(doc_id AS VARCHAR) || chr(10) ||
           'e' || CAST(doc_id AS VARCHAR) || ', ',
           1
    FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), 'table',
           'a' || CAST(doc_id AS VARCHAR) || ', b' || CAST(doc_id AS VARCHAR) || chr(10) ||
           'c' || CAST(doc_id AS VARCHAR) || ', dd' || chr(10) || 'ee, ff',
           2
    FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), 'form',
           'name_field: v' || CAST(doc_id AS VARCHAR) || chr(10) ||
           'email: [Empty]' || chr(10) || 'status: ok',
           3
    FROM documents
"""


def _q64_docs(spark, sf_dir):
    """The q64/q66 corpus: every document as one pdf_layout span holding
    prose + ruled table (x2, deduped) + unruled table + form run."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    # third column and third row are entirely nullish sentinels -> P1
    # must drop both; 'None'/'nan'/'NULL' cells -> P2 must blank them.
    # The expected rendering is the same 2x3 grid as without them, so a
    # cleaning regression breaks the hash match.
    table = F.concat(
        F.lit("| h1 | h2 |  |\n| c"), d, F.lit(" | d"), d,
        F.lit(" | None |\n| None | nan | NULL |\n| e"), d, F.lit(" | None | nan |")
    )
    unruled = F.concat(
        F.lit("a"), d, F.lit("   b"), d, F.lit("\nc"), d, F.lit("   dd\nee   ff")
    )
    form = F.concat(F.lit("name_field: v"), d, F.lit("\nemail:\nstatus: ok"))
    layout = F.concat_ws(
        "\n", F.col("text"), table, F.lit(_Q64_MID), table, unruled, form
    )
    return _span_docs(docs, F.array(_span("pdf_layout", layout)))


@register("q64_pdf_table_form", oracle=_Q64_ORACLE)
def q64_pdf_table_form(spark, sf_dir):
    from sparkextract.spark.job import extract_exploded

    out = extract_exploded(_q64_docs(spark, sf_dir))
    return out.select("doc_id", "kind", "text", "offset")


# --------------------------------------------------------------------------
# q65: HTML table/form capture and BOTH boilerplate heuristics through
# the gate (q40 covers only nav/footer/script subtree stripping). Each
# document's html span carries: its prose in <p>, a link-farm block that
# must be dropped by LINK DENSITY (>50% anchor chars), a short block
# that must be dropped by MIN_BLOCK_CHARS, a <table> (captured as a cell
# grid, empty cell -> None -> rendered blank), and a <form> whose
# nameless input is skipped and empty value renders [Empty]. Expected
# spans are exact SQL strings; offsets shift by whether the prose chunk
# survives the MIN_CHUNK_SIZE gate. Heuristics spec:
# core/boilerplate.py (north_star DOM text-density); reference families
# reference src/pdf_extractor.py:102-257.
_Q65_ORACLE = """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'text' AS kind, text,
           0 AS "offset"
    FROM documents WHERE n_chars >= 100
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), 'table',
           'h1, h2' || chr(10) || 'c' || CAST(doc_id AS VARCHAR) || ', ',
           CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END
    FROM documents
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR), 'form',
           'f1: v' || CAST(doc_id AS VARCHAR) || chr(10) || 'f2: [Empty]',
           CASE WHEN n_chars >= 100 THEN 2 ELSE 1 END
    FROM documents
"""


@register("q65_html_table_form", oracle=_Q65_ORACLE)
def q65_html_table_form(spark, sf_dir):
    from sparkextract.spark.job import extract_exploded

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(
            "<html><body><nav><a href='/h'>home links here</a></nav><article><p>"
        ),
        F.col("text"),
        F.lit(
            '</p><div><a href="/x">mostly anchor text link</a> pad</div>'
            "<p>tiny</p>"
            "<table><tr><th>h1</th><th>h2</th></tr><tr><td>c"
        ),
        d,
        F.lit(
            "</td><td></td></tr></table>"
            '<form><input name="f1" value="v'
        ),
        d,
        F.lit(
            '"/><input name="f2"/><input value="nameless"/></form>'
            "</article><footer><p>footer boilerplate text here</p></footer>"
            "</body></html>"
        ),
    )
    out = extract_exploded(_span_docs(docs, F.array(_span("html", html))))
    return out.select("doc_id", "kind", "text", "offset")


# --------------------------------------------------------------------------
# q66: the A1/A2/A3 confidence formulas (metrics.py span_confidence)
# through the gate, computed by the REAL column expressions over the
# REAL extraction output of the q64 corpus; the oracle recomputes each
# formula in SQL on the known span strings (which implicitly re-verifies
# the strings too). Split/char-count primitives were verified to agree
# across engines (string_split '' char explode, regexp split with
# trailing-empty retention, plain-separator counting). Formula spec:
# reference src/text_extractor.py:153-177,388-410 (A2),
# table_extractor.py:359-387 (A1), form_extractor.py:224-245 (A3).
_WS_CLS = r"[ \t\n\x0B\f\r]"


def _sql_text_conf(t: str) -> str:
    return (
        f"ROUND((LEAST(LENGTH({t}) / 1000.0, 1.0)"
        f" + LEAST(LENGTH(list_distinct(string_split({t}, ''))) / 50.0, 1.0)"
        f" + (1.0 - ABS(CAST(LENGTH({t}) - LENGTH(regexp_replace({t}, '{_WS_CLS}', '', 'g')) AS DOUBLE)"
        f" / GREATEST(LENGTH({t}), 1) - 0.15))) / 3.0, 6)"
    )


def _sql_table_conf(t: str) -> str:
    return (
        f"ROUND((LEAST(LENGTH(regexp_split_to_array({t}, '[,\\n]')) / 50.0, 1.0)"
        f" + LEAST(LENGTH(string_split({t}, chr(10))) / 10.0, 1.0)"
        f" + 1.0) / 3.0, 6)"
    )


def _sql_form_conf(t: str) -> str:
    n_f = f"LENGTH(string_split({t}, chr(10)))"
    n_e = f"(LENGTH(string_split({t}, '[Empty]')) - 1)"
    return (
        f"ROUND((LEAST({n_f} / 10.0, 1.0)"
        f" + CAST({n_f} - {n_e} AS DOUBLE) / GREATEST({n_f}, 1)) / 2.0, 6)"
    )


_Q66_D = "CAST(doc_id AS VARCHAR)"


_Q66_TEXT = f"text || chr(10) || '{_Q64_MID}'"


_Q66_TBL1 = f"'h1, h2' || chr(10) || 'c' || {_Q66_D} || ', d' || {_Q66_D} || chr(10) || 'e' || {_Q66_D} || ', '"


_Q66_TBL2 = f"'a' || {_Q66_D} || ', b' || {_Q66_D} || chr(10) || 'c' || {_Q66_D} || ', dd' || chr(10) || 'ee, ff'"


_Q66_FORM = f"'name_field: v' || {_Q66_D} || chr(10) || 'email: [Empty]' || chr(10) || 'status: ok'"


_Q66_ORACLE = f"""
    SELECT {_Q66_D} AS doc_id, 'text' AS kind, 0 AS "offset",
           {_sql_text_conf(f"({_Q66_TEXT})")} AS confidence
    FROM documents
    UNION ALL
    SELECT {_Q66_D}, 'table', 1, {_sql_table_conf(f"({_Q66_TBL1})")} FROM documents
    UNION ALL
    SELECT {_Q66_D}, 'table', 2, {_sql_table_conf(f"({_Q66_TBL2})")} FROM documents
    UNION ALL
    SELECT {_Q66_D}, 'form', 3, {_sql_form_conf(f"({_Q66_FORM})")} FROM documents
"""


@register("q66_span_confidence", oracle=_Q66_ORACLE)
def q66_span_confidence(spark, sf_dir):
    from sparkextract.metrics import with_confidence
    from sparkextract.spark.job import extract_exploded

    out = extract_exploded(_q64_docs(spark, sf_dir))
    return with_confidence(out).select("doc_id", "kind", "offset", "confidence")


# --------------------------------------------------------------------------
# q69: form-field grouping (F6). Keyword lists and their precedence are
# the reference's, verbatim (text_processor.py:466-492): personal_info
# is checked FIRST, so 'username' (contains 'name') and 'full_address'
# (contains 'full') both land in personal_info, and 'statement'
# (contains 'state') lands in address — substring containment, not word
# match, exactly like the reference's `keyword in field_name`.
_GROUP_KEYWORDS = [
    ("personal_info", ["name", "first", "last", "full"]),
    ("address", ["address", "street", "city", "state", "zip"]),
    ("contact", ["phone", "email", "contact"]),
]


# (rendered form line, None when unconditional | modulus when the field
# is present only for doc_id % m == 0). Every doc keeps >= 4
# unconditional lines so the run always clears FORM_MIN_RUN.
_Q69_FIELDS = [
    ("first_name: a", None),  # personal_info
    ("username: u", 2),  # personal_info ('name' substring, precedence)
    ("full_address: f", 6),  # personal_info ('full' beats 'address')
    ("street_address: s", None),  # address
    ("zip:", 3),  # address, empty value -> '[Empty]'
    ("statement: x", 4),  # address ('state' substring)
    ("email: e", None),  # contact
    ("phone:", 5),  # contact, empty value
    ("notes: n", None),  # general
]


def _q69_docs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    parts = [F.col("text")]
    for prefix, mod in _Q69_FIELDS:
        line = F.concat(F.lit(prefix), d) if prefix[-1] != ":" else F.lit(prefix)
        if mod is None:
            parts.append(line)
        else:
            # concat_ws drops NULLs, so an excluded field leaves no line
            parts.append(F.when(F.col("doc_id") % mod == 0, line))
    return _span_docs(docs, F.array(_span("pdf_layout", F.concat_ws("\n", *parts))))


def _q69_oracle() -> str:
    # derive each group's per-doc field count straight from the corpus
    # construction (the gate's usual exact-construction oracle style)
    group_mods = {"personal_info": [], "address": [], "contact": [], "general": []}
    group_base = {g: 0 for g in group_mods}
    for prefix, mod in _Q69_FIELDS:
        name = prefix.split(":")[0].lower()
        grp = "general"
        for g, kws in _GROUP_KEYWORDS:
            if any(k in name for k in kws):
                grp = g
                break
        if mod is None:
            group_base[grp] += 1
        else:
            group_mods[grp].append(mod)
    selects = []
    for g in ("personal_info", "address", "contact", "general"):
        per_doc = " + ".join(
            [str(group_base[g])]
            + [f"CASE WHEN doc_id % {m} = 0 THEN 1 ELSE 0 END" for m in group_mods[g]]
        )
        names = " + ".join(
            [str(group_base[g])]
            + [
                f"MAX(CASE WHEN doc_id % {m} = 0 THEN 1 ELSE 0 END)"
                for m in group_mods[g]
            ]
        )
        selects.append(
            f"SELECT '{g}' AS field_group, "
            f"CAST(SUM({per_doc}) AS BIGINT) AS n_fields, "
            f"CAST({names} AS BIGINT) AS n_names FROM documents"
        )
    return " UNION ALL ".join(selects)


@register("q69_field_groups", oracle=_q69_oracle())
def q69_field_groups(spark, sf_dir):
    """F6: extract form spans, then classify each `name: value` field by
    the reference keyword chain and count per group. The classifier is a
    pure when/contains column chain (JVM-side); only the extraction
    itself crosses into Python (Arrow-batched, as everywhere)."""
    from sparkextract.spark.job import extract_exploded

    out = extract_exploded(_q69_docs(spark, sf_dir))
    fields = out.filter(F.col("kind") == "form").select(
        F.explode(F.split("text", "\n")).alias("line")
    )
    name = F.lower(F.trim(F.substring_index("line", ":", 1)))
    grp = None
    for g, kws in _GROUP_KEYWORDS:
        cond = reduce(lambda a, b: a | b, [name.contains(k) for k in kws])
        grp = (grp if grp is not None else F).when(cond, F.lit(g))
    grp = grp.otherwise(F.lit("general"))
    return (
        fields.select(name.alias("name"), grp.alias("field_group"))
        .groupBy("field_group")
        .agg(
            F.count("*").alias("n_fields"),
            F.countDistinct("name").alias("n_names"),
        )
    )
