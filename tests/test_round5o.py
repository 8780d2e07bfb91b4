"""q172 (Merkle diff): pure-Python re-derivation of the verdict at
sf0.001."""

import hashlib
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5o-tests", master="local[4]")
    yield s


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _md5_bucket(s: str, n: int) -> int:
    return int(_md5(s)[:8], 16) % n


def test_q172_clean_leaves_skip_doc_work_and_counts_match(spark):
    from sparkextract.queries.incremental import (
        _Q172_ADDED_LEAVES,
        _Q172_CHANGED_LEAVES,
        _Q172_LEAVES,
        q172_merkle_snapshot_diff,
    )

    rows = {r["leaf"]: r for r in q172_merkle_snapshot_diff(spark, SF_DIR).collect()}
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id"]
    ).to_pylist()
    per_leaf = Counter(
        _md5_bucket(str(r["doc_id"]), _Q172_LEAVES) for r in docs
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
