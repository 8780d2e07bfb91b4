from perfbench import inputs
from perfbench.check import expected_spans, failures, group_rows


def _case():
    docs = {i: inputs.mixed_document(i, seed=9) for i in (0, 1, 2, 13)}
    expected = expected_spans(docs)
    rows = [(doc_id, *span) for doc_id, spans in expected.items() for span in spans]
    seen = {
        "manifest_docs": 100,
        "manifest_spans": 5000,
        "read_rows": 5000,
        "sample": group_rows(reversed(rows)),
    }
    return expected, seen


def _failures(expected, seen, committed=60):
    return failures(
        todo_docs=60, committed_docs=committed, corpus_docs=100, seen=seen, expected=expected
    )


def test_correct_output_passes():
    expected, seen = _case()
    assert sum(map(len, expected.values())) > 20
    assert _failures(expected, seen) == []


def test_one_altered_span_fails_the_op():
    expected, seen = _case()
    doc_id = next(iter(seen["sample"]))
    kind, text, media_ref, offset = seen["sample"][doc_id][0]
    seen["sample"][doc_id][0] = (kind, (text or "") + "x", media_ref, offset)
    assert len(_failures(expected, seen)) == 1


def test_a_dropped_span_fails_the_op():
    expected, seen = _case()
    doc_id = next(iter(seen["sample"]))
    seen["sample"][doc_id].pop()
    assert len(_failures(expected, seen)) == 1


def test_counts_must_agree():
    expected, seen = _case()
    assert len(_failures(expected, seen, committed=59)) == 1
    seen["read_rows"] -= 1
    assert len(_failures(expected, seen)) == 1
    seen["manifest_docs"] = 99
    assert len(_failures(expected, seen)) == 2
