"""Property-based tests (hypothesis) for the deterministic core.

These encode the invariants the 100 TB pipeline relies on (SURVEY §7.4.1:
determinism under re-partitioning; §5.2 invariance tests) as properties
over arbitrary inputs rather than fixed fixtures:

- extract_document is a pure function of the *logical* input span array:
  physical ordering of the input list must not matter (Spark gives no
  ordering guarantees inside a partition after a shuffle);
- output offsets are always dense 0-based, kinds always valid;
- text spans obey the chunk-size gates (P4);
- normalization is idempotent (so re-normalizing already-clean data —
  e.g. on a resume path — can never change bytes);
- the HTML / pdf-layout parsers never raise on arbitrary junk (a single
  malformed document must not kill a 10^12-doc job);
- phase 1 over a run of spans (media decoded in one batch) gives the
  multiset of items phase 1 gives span by span.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sparkextract import config
from sparkextract.core.boilerplate import extract_html
from sparkextract.core.extract import extract_document, extract_input_span, extract_run, finalize
from sparkextract.core.normalize import collapse_ws, md5_hex, normalize_cell, normalize_text
from sparkextract.core.ocr import pseudo_ocr_raw, pseudo_ocr_texts
from sparkextract.core.segment import _split_long_paragraph, chunk_text, split_sentences
from sparkextract.core.tables import parse_pdf_layout

_KINDS = ["text", "html", "pdf_layout", "media"]

_text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)

_span_st = st.builds(
    lambda kind, text, ref, off: {
        "kind": kind,
        "text": text if kind != "media" else None,
        "media_ref": ref if kind == "media" else None,
        "offset": off,
    },
    st.sampled_from(_KINDS),
    _text_st,
    st.text(min_size=1, max_size=30),
    # tiny offset range so duplicate offsets (malformed input) are common —
    # the order-invariance property must hold even then
    st.integers(min_value=0, max_value=3),
)

_doc_st = st.lists(_span_st, max_size=8)


@settings(max_examples=80, deadline=None)
@given(_doc_st, st.randoms())
def test_extract_document_input_order_invariant(spans, rnd):
    base = extract_document(spans)
    shuffled = list(spans)
    rnd.shuffle(shuffled)
    assert extract_document(shuffled) == base


# texts and media refs drawn from NULL, '' and short strings at two offsets,
# so two spans of a doc often differ only in NULL against ''
_null_or_empty_st = st.one_of(st.none(), st.just(""), st.text(max_size=3))
_tie_span_st = st.builds(
    lambda kind, text, ref, off: {"kind": kind, "text": text, "media_ref": ref, "offset": off},
    st.sampled_from(_KINDS),
    _null_or_empty_st,
    _null_or_empty_st,
    st.integers(min_value=0, max_value=1),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_tie_span_st, max_size=6))
@example([
    {"kind": "media", "text": "x", "media_ref": None, "offset": 0},
    {"kind": "media", "text": "", "media_ref": "", "offset": 0},
])
def test_finalize_of_either_array_order_equals_extract_document(spans):
    """The engine runs phase 1 over a doc's spans in array order and phase
    2 over the items (spark/job.py ``_extract_runs``); for the array and
    its reverse, that equals ``extract_document``."""
    expected = [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in extract_document(spans)
    ]
    for order in (spans, spans[::-1]):
        cols = ([s[c] for s in order] for c in ("kind", "text", "media_ref", "offset"))
        assert finalize(extract_run(*cols)) == expected


@settings(max_examples=80, deadline=None)
@given(_doc_st)
def test_output_spans_well_formed(spans):
    out = extract_document(spans)
    for i, s in enumerate(out):
        assert s["offset"] == i  # dense 0-based (W1)
        assert s["kind"] in config.VALID_OUTPUT_KINDS
        if s["kind"] == config.KIND_IMAGE:
            assert s["media_ref"] is not None
        else:
            assert s["text"] is not None and s["text"] != ""


@settings(max_examples=80, deadline=None)
@given(_text_st)
def test_text_chunks_obey_min_gate(text):
    for chunk in chunk_text(normalize_text(text)):
        assert len(chunk) >= config.MIN_CHUNK_SIZE  # P4


def _hard_wrap_spec(para):
    """The hard-wrap of ``_split_long_paragraph`` as first written: it
    re-slices and strips the rest of the sentence at every wrap."""
    pieces, cur = [], ""
    for sent in split_sentences(para):
        while len(sent) > config.CHUNK_SIZE:
            if cur:
                pieces.append(cur)
                cur = ""
            pieces.append(sent[: config.CHUNK_SIZE])
            sent = sent[config.CHUNK_SIZE:].strip()
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


# long letter runs put wrap cuts next to whitespace runs of every kind
_wrap_st = st.lists(
    st.one_of(
        st.text(alphabet="ab", max_size=1100),
        st.sampled_from([" ", "   ", "\t", "\n", "\u3000", " \x0b\x1f ", ".", "!?"]),
    ),
    max_size=16,
).map("".join)


@settings(max_examples=150, deadline=None)
@given(_wrap_st)
def test_hard_wrap_equals_slicing_spec(para):
    assert _split_long_paragraph(para) == _hard_wrap_spec(para)


@settings(max_examples=150, deadline=None)
@given(_text_st)
def test_normalize_idempotent(text):
    once = normalize_text(text)
    assert normalize_text(once) == once
    assert collapse_ws(collapse_ws(text)) == collapse_ws(text)


@settings(max_examples=150, deadline=None)
@given(st.one_of(st.none(), st.text(max_size=30), st.integers(), st.floats(allow_nan=True)))
def test_normalize_cell_idempotent_and_null_sentinels(value):
    out = normalize_cell(value)
    assert normalize_cell(out) == out
    if isinstance(value, str) and value.strip() in ("", "None", "nan"):
        assert out is None  # P2


@settings(max_examples=100, deadline=None)
@given(_text_st)
def test_parsers_total_and_deterministic(junk):
    # must not raise on arbitrary junk, and must be pure
    assert extract_html(junk) == extract_html(junk)
    assert parse_pdf_layout(junk) == parse_pdf_layout(junk)


def test_duplicate_tables_deduped_first_wins():
    table = "+---+---+\n| a | b |\n+---+---+\n| 1 | 2 |\n+---+---+"
    doc = [
        {"kind": "pdf_layout", "text": table, "media_ref": None, "offset": 0},
        {"kind": "pdf_layout", "text": table, "media_ref": None, "offset": 1},
    ]
    out = extract_document(doc)
    tables = [s for s in out if s["kind"] == config.KIND_TABLE]
    assert len(tables) == 1  # D6: exact near-dup suppressed, first wins


# ------------------------------------------------ batched phase 1 / OCR
_digest_st = st.text(alphabet="0123456789abcdef", min_size=32, max_size=32)


@settings(max_examples=150, deadline=None)
@given(st.lists(_digest_st, max_size=40))
def test_pseudo_ocr_texts_equals_per_digest_clean_chain(digests):
    assert pseudo_ocr_texts(digests) == [collapse_ws(pseudo_ocr_raw(d)) for d in digests]


def test_pseudo_ocr_texts_empty():
    assert pseudo_ocr_texts([]) == []


@settings(max_examples=150, deadline=None)
@given(_digest_st)
def test_pseudo_ocr_raw_holds_no_newline(digest):
    # what lets pseudo_ocr_texts join a batch's raw outputs on "\n"
    assert "\n" not in pseudo_ocr_raw(digest)


_run_ref_st = st.one_of(
    st.none(),
    st.sampled_from(["", "img://a\nb", "img://\t\t/x", "bild://é/漢字", " \n "]),
    st.text(max_size=20),
)
_run_text_st = st.one_of(st.none(), st.text(max_size=200))
_run_span_st = {
    mix: st.tuples(kind_st, _run_text_st, _run_ref_st, st.integers(0, 5))
    for mix, kind_st in {
        "all_media": st.just("media"),
        "no_media": st.sampled_from([None, "text", "html", "pdf_layout", "other"]),
        "mixed": st.sampled_from([None, "text", "html", "pdf_layout", "media", "media"]),
    }.items()
}


@pytest.mark.parametrize("mix", sorted(_run_span_st))
def test_extract_run_equals_per_span_phase1(mix):
    """Phase 1 over a run, with its media spans decoded in one batch, gives
    the multiset of items phase 1 gives span by span."""

    @settings(max_examples=60, deadline=None)
    @given(st.lists(_run_span_st[mix], max_size=12))
    def check(run):
        kinds, texts, refs, offsets = ([s[i] for s in run] for i in range(4))
        per_span = [item for s in run for item in extract_input_span(*s)]
        got = extract_run(kinds, texts, refs, offsets)
        assert Counter(got) == Counter(per_span)
        for kind, text, ref, _off, _sub in got:
            if kind == config.KIND_IMAGE:
                assert text == collapse_ws(pseudo_ocr_raw(md5_hex(ref or "")))

    check()


# ------------------------------------------------------- fast HTML tokenizer
def _parser_only(html: str):
    """Reference path: stdlib HTMLParser driving the walker."""
    from sparkextract.core.boilerplate import _Walker

    w = _Walker()
    try:
        w.feed(html)
        w.close()
    except Exception:
        pass
    return w.out


_html_frag = st.one_of(
    st.sampled_from(
        [
            "<p>", "</p>", "<div>", "</div>", "<br/>", "<a href=\"/x\">", "</a>",
            "<nav>", "</nav>", "<table>", "</table>", "<tr>", "<td>", "</td>",
            "<script>var x=1;</script>", "<form>", "</form>",
            "<input name=\"q\" value=\"v\"/>", "<!-- c -->", "&amp;",
            "<div title=\"a>b\">", "<p class='x'>", "< stray", "text ",
            "word. ", "<P>", "</P >", "<a-b>", "<style>.c{}</style>",
            "<div data-x>", "<div data-x=>", "<div =x>", "<div 'q'>",
            "<SCRIPT>Z</SCRIPT>", "<style/>", "<p  class = \"x\" >",
            "<br >", "</ p>", "<p/>", "é中文 ",
            "<select name=s><option>1</option></select>",
            "<a \"x>", "<p ' b>",
        ]
    ),
    st.text(max_size=12),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_html_frag, max_size=20).map("".join))
def test_fast_html_tokenizer_matches_htmlparser(html):
    from sparkextract.core.boilerplate import extract_html

    assert extract_html(html) == _parser_only(html)


def test_stray_quote_run_is_linear():
    """A run of stray quotes in a tag once made the fast tokenizer's tag
    regex backtrack exponentially (about 6 s at 34 quotes); it must now
    fail the tag match at once and fall back to HTMLParser."""
    import time

    from sparkextract.core.extract import extract_input_span

    html = "<p>hi</p><a " + '"' * 34
    t0 = time.perf_counter()
    extract_input_span("html", html, None, 0)
    assert time.perf_counter() - t0 < 0.5
    assert extract_html(html) == _parser_only(html)


@given(st.binary(max_size=500), st.integers(min_value=1, max_value=16))
@settings(deadline=None)
def test_frame_sampler_partitions_payload(raw, n_frames):
    """Frame sampling is a partition of the payload: frames concatenate
    back to the original bytes, and the frame count is min(n, len)."""
    from sparkextract.spark.multimodal import _sample_frames_stub

    frames = _sample_frames_stub(raw, n_frames)
    assert b"".join(frames) == raw
    assert len(frames) == min(n_frames, len(raw))
    if frames:
        assert all(len(f) >= 1 for f in frames)


@given(
    st.lists(
        st.tuples(
            st.text(max_size=40),
            st.one_of(st.none(), st.integers(-10**6, 10**6), st.booleans(),
                      st.text(max_size=40)),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(deadline=None)
def test_excel_sheet_xml_roundtrip(rows):
    """The stdlib xlsx sheet XML is well-formed and value-preserving for
    arbitrary header/cell strings (XML metacharacters, unicode)."""
    import xml.etree.ElementTree as ET

    from sparkextract.spark.excel import _sheet_xml

    header = ["h&<>\"'", "v"]
    xml = _sheet_xml(header, [(k, v) for k, v in rows])
    root = ET.fromstring(xml)  # must parse
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    got_rows = root.findall(".//m:row", ns)
    assert len(got_rows) == len(rows) + 1
    first_cell = got_rows[1].find("m:c", ns)
    from sparkextract.spark.excel import _XML_INVALID

    t = first_cell.find(".//m:t", ns)
    assert (t.text or "") == _XML_INVALID.sub("", rows[0][0])
