"""Tests for the text query family (``queries/text.py``): BPE merges on a
constructed corpus."""

from conftest import write_docs


def test_q122_bpe_merge_constructed(spark, tmp_path):
    """On a corpus where 'aa bb' is the clear winner: stage 0 ranks it
    first, and after the merge no (aa, bb) adjacency survives anywhere
    while the merged token participates in stage-1 pairs."""
    from sparkextract.queries.text import q122_bpe_merge

    root = str(tmp_path)
    rows = [
        (0, "aa bb cc aa bb", "en", "s", 14),
        (1, "cc aa bb dd", "en", "s", 11),
        (2, "aa bb aa bb aa", "en", "s", 14),
        (3, "dd cc dd", "en", "s", 8),
    ]
    write_docs(
        spark, rows, root,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = q122_bpe_merge(spark, root).collect()
    s0 = [r for r in out if r.stage == 0]
    s1 = [r for r in out if r.stage == 1]
    assert (s0[0].w1, s0[0].w2, s0[0].cnt) == ("aa", "bb", 5)
    assert all((r.w1, r.w2) != ("aa", "bb") for r in s1)
    assert any("aa_bb" in (r.w1, r.w2) for r in s1)
    # doc 2 "aa bb aa bb aa" -> [aa_bb, aa_bb, aa]; doc 0 and doc 1
    # each produce one (cc, aa_bb) adjacency. (aa_bb, aa_bb) itself is
    # excluded from the ranked table by the same w1<>w2 rule the argmax
    # uses.
    s1_counts = {(r.w1, r.w2): r.cnt for r in s1}
    assert s1_counts.get(("aa_bb", "aa")) == 1
    assert s1_counts.get(("cc", "aa_bb")) == 2
