"""q192 (leave-one-source-out influence): pure-Python re-derivation at
sf0.001."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5x-tests", master="local[4]", shuffle_partitions=8)
    yield s


def test_q192_matches_python_loo(spark):
    from sparkextract.queries.stats import q192_loo_influence

    rows = {r["source"]: r for r in q192_loo_influence(spark, SF_DIR).collect()}
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["source", "n_chars"]
    ).to_pylist()
    n = Counter()
    s = Counter()
    for d in docs:
        n[d["source"]] += 1
        s[d["source"]] += d["n_chars"]
    N, S = sum(n.values()), sum(s.values())
    assert set(rows) == set(n)
    infl = {}
    for src in n:
        full = S / N
        loo = (S - s[src]) / (N - n[src]) if N != n[src] else 0.0
        infl[src] = round(full - loo, 6) if N != n[src] else 0.0
        r = rows[src]
        assert (r["n_docs"], r["sum_chars"]) == (n[src], s[src])
        assert abs(r["full_mean"] - round(full, 6)) < 1e-9
        assert abs(r["loo_mean"] - round(loo, 6)) < 1e-9
        assert abs(r["influence"] - infl[src]) < 1e-9
    order = sorted(infl, key=lambda k: (-abs(infl[k]), k))
    for i, src in enumerate(order, start=1):
        assert rows[src]["influence_rank"] == i
    # influences must nearly cancel: sum of n_i * influence_i ~ 0
    assert abs(sum(n[k] * infl[k] for k in infl)) < 1.0
