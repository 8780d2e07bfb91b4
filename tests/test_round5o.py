"""q172 (Merkle diff) and q174 (AMS F2): pure-Python re-derivations of
the verdicts at sf0.001."""

import hashlib
import math
import os
from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5o-tests", master="local[4]", shuffle_partitions=8)
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


def test_q174_sketch_and_exact_match_python(spark):
    from sparkextract.queries.sketches import (
        _Q174_HEADLEN,
        _Q174_NEST,
        q174_ams_f2_join_size,
    )

    row = q174_ams_f2_join_size(spark, SF_DIR).collect()[0]
    tbl = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    keys = []
    for r in tbl:
        kh = _md5(r["text"][:_Q174_HEADLEN])
        keys.append(kh)
        if r["doc_id"] % 7 == 0:
            keys.append(kh)
        if r["doc_id"] % 21 == 0:
            keys.append(kh)
    counts = Counter(keys)
    exact_f2 = sum(c * c for c in counts.values())
    zs = [
        sum(
            (1 if _md5_bucket(f"j{j}|{kh}", 2) == 0 else -1) for kh in keys
        )
        for j in range(_Q174_NEST)
    ]
    est = sorted(z * z for z in zs)[_Q174_NEST // 2]
    assert row["n_rows"] == len(keys)
    assert row["n_keys"] == len(counts)
    assert row["exact_f2"] == exact_f2
    assert row["est_f2"] == est
    assert row["ratio_u"] == (1000000 * est) // exact_f2
