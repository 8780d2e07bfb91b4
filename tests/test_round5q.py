"""q179 (Misra-Gries heavy hitters): pure-Python re-derivations at
sf0.001."""

import hashlib
import os
from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5q-tests", master="local[4]")
    yield s


def _md5_bucket(s: str, n: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n


def _mg_compress(counts, k):
    """Agarwal et al. 2012 merge-rule compression: keep the k largest
    (count desc, token asc), subtract the (k+1)-th largest, drop <= 0."""
    ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    off = ranked[k][1] if len(ranked) > k else 0
    return {t: c - off for t, c in ranked[:k] if c - off > 0}, off


def test_q179_matches_python_mg_and_bound_holds(spark):
    from sparkextract.queries.sketches import (
        _Q179_K,
        _Q179_P,
        q179_misra_gries_heavy_hitters,
    )

    rows = {
        r["token"]: r
        for r in q179_misra_gries_heavy_hitters(spark, SF_DIR).collect()
    }
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    part = defaultdict(Counter)
    exact = Counter()
    for r in docs:
        pid = _md5_bucket(str(r["doc_id"]), _Q179_P)
        for t in r["text"].split(" "):
            if t:
                part[pid][t] += 1
                exact[t] += 1
    merged = Counter()
    total_off = 0
    for pid, counts in part.items():
        summ, off = _mg_compress(counts, _Q179_K)
        total_off += off
        for t, c in summ.items():
            merged[t] += c
    final, moff = _mg_compress(merged, _Q179_K)
    bound = total_off + moff
    assert set(rows) == set(final)
    for t, est in final.items():
        r = rows[t]
        assert r["est"] == est
        assert r["exact"] == exact[t]
        assert r["err"] == exact[t] - est
        assert r["bound"] == bound
        # the mergeable-summaries guarantee, row by row
        assert r["within_bound"] and est <= exact[t] <= est + bound
