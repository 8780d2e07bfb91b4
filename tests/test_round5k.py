"""q164 (rendezvous-hash rebalancing audit): pure-Python
re-implementation of the HRW winner encoding plus the theory bounds
(hrw moves ~1/(S+1), mod moves ~S/(S+1))."""

import hashlib
import os

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5k-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _hrw(doc_id, n):
    best = -1
    for s in range(n):
        score = int(
            hashlib.md5(f"{doc_id}|{s}".encode()).hexdigest()[:8], 16
        )
        best = max(best, score * 16 + s)
    return best % 16


def test_q164_matches_pure_python_and_theory(spark):
    import pyarrow.parquet as pq

    from sparkextract.queries.planning import (
        _Q164_S1,
        _Q164_S2,
        q164_rendezvous_rebalance,
    )

    got = {
        r["policy"]: (r["n_docs"], r["n_moved"], r["moved_frac_u"])
        for r in q164_rendezvous_rebalance(spark, SF_DIR).collect()
    }
    ids = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).column(
        "doc_id"
    ).to_pylist()
    hrw_moved = sum(
        1 for d in ids if _hrw(d, _Q164_S1) != _hrw(d, _Q164_S2)
    )
    mod_moved = sum(1 for d in ids if d % _Q164_S1 != d % _Q164_S2)
    import math

    n = len(ids)
    assert got["hrw"] == (
        n,
        hrw_moved,
        math.floor(hrw_moved * 1e6 / n + 0.5),
    )
    assert got["mod"] == (
        n,
        mod_moved,
        math.floor(mod_moved * 1e6 / n + 0.5),
    )
    # theory: hrw ~ 1/(S+1), mod ~ S/(S+1) — wide tolerance bands
    assert hrw_moved / n < 0.25
    assert mod_moved / n > 0.75
    assert hrw_moved < mod_moved
