"""q208 (consistent-hash ring): pure-Python re-derivation at sf0.001."""

import hashlib
import math
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5af-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _docs(cols):
    return pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=cols).to_pylist()


def test_q208_matches_python_ring(spark):
    from sparkextract.queries.planning import (
        _Q208_RING,
        _Q208_S1,
        _Q208_S2,
        _q208_ring,
        q208_consistent_hash_ring,
    )
    import bisect

    rings = {s: _q208_ring(s) for s in (_Q208_S1, _Q208_S2)}

    def place(kh, n_shards):
        ring = rings[n_shards]
        i = bisect.bisect_left(ring, (kh, -1))
        return ring[i][1] if i < len(ring) else ring[0][1]

    moved_ring = moved_mod = 0
    per_shard: dict[int, list] = {}
    docs = _docs(["doc_id"])
    for d in docs:
        kh = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:8], 16) % _Q208_RING
        ra, rb = place(kh, _Q208_S1), place(kh, _Q208_S2)
        ma, mb = kh % _Q208_S1, kh % _Q208_S2
        per_shard.setdefault(rb, [0, 0, 0])
        per_shard[rb][0] += 1
        if ra != rb:
            per_shard[rb][1] += 1
            moved_ring += 1
        if ma != mb:
            per_shard[rb][2] += 1
            moved_mod += 1
    rows = {r["shard"]: r for r in q208_consistent_hash_ring(spark, SF_DIR).collect()}
    assert set(rows) == set(per_shard)
    for shard, (n, rm, mm) in per_shard.items():
        r = rows[shard]
        assert (r["n_docs"], r["ring_moved"], r["mod_moved"]) == (n, rm, mm)
        assert r["ring_moved_frac_u"] == (1000000 * rm) // n
        assert r["mod_moved_frac_u"] == (1000000 * mm) // n
    # the consistent-hashing contract: the ring moves FAR less than mod
    # (expected ~1/(S+1) ~ 11% vs ~8/9 ~ 89%)
    n_total = len(docs)
    assert moved_ring / n_total < 0.25
    assert moved_mod / n_total > 0.7
    assert moved_ring < moved_mod / 3
