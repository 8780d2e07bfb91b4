"""Tests for the incremental query family (``queries/incremental.py``):
streaming dedup and the Merkle diff against pure-Python twins."""

import hashlib
from collections import Counter

from conftest import SF_DIR, py_md5_bucket, read_docs


def test_q145_matches_pure_python(spark):
    """Committed streaming-dedup sink equals first-writer-wins over the
    base-then-clones arrival order (pure Python)."""
    from sparkextract.queries.incremental import q145_streaming_stateful_dedup

    expected = {}
    for d, text, _l in read_docs("doc_id", "text", "lang"):
        h = hashlib.md5(text.encode()).hexdigest()
        if h not in expected or d < expected[h][0]:
            expected[h] = (d, len(text))
    # clones (doc_id % 5 -> +1M, same text) arrive in drain 2: suppressed
    rows = {
        r["content_hash"]: (int(r["doc_id"]), r["first_len"])
        for r in q145_streaming_stateful_dedup(spark, SF_DIR).collect()
    }
    assert rows == expected


def test_q172_clean_leaves_skip_doc_work_and_counts_match(spark):
    from sparkextract.queries.incremental import (
        _Q172_ADDED_LEAVES,
        _Q172_CHANGED_LEAVES,
        _Q172_LEAVES,
        q172_merkle_snapshot_diff,
    )

    rows = {r["leaf"]: r for r in q172_merkle_snapshot_diff(spark, SF_DIR).collect()}
    docs = read_docs("doc_id")
    per_leaf = Counter(
        py_md5_bucket(str(r["doc_id"]), _Q172_LEAVES) for r in docs
    )
    assert set(rows) == set(per_leaf)
    for leaf, r in rows.items():
        assert r["new_count"] == per_leaf[leaf]
        if leaf < _Q172_CHANGED_LEAVES:
            assert not r["clean"]
            assert r["n_changed"] == per_leaf[leaf] and r["n_added"] == 0
            assert r["old_count"] == per_leaf[leaf]
        elif leaf in _Q172_ADDED_LEAVES:
            assert not r["clean"]
            assert r["n_added"] == per_leaf[leaf] and r["n_changed"] == 0
            assert r["old_count"] == 0
        else:
            assert r["clean"]
            assert r["n_added"] == r["n_changed"] == r["n_removed"] == 0
            assert r["old_count"] == per_leaf[leaf]
