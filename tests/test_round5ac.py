"""q202 (UCB1 crawl scheduler) and q203 (Mann-Whitney U): pure-Python
re-derivations at sf0.001."""

import hashlib
import math
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5ac-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _docs(cols):
    return pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=cols).to_pylist()


def test_q202_matches_python_ucb(spark):
    from sparkextract.queries.planning import _Q202_KEEP_MIN, q202_ucb_crawl_scheduler

    rows = {r["source"]: r for r in q202_ucb_crawl_scheduler(spark, SF_DIR).collect()}
    n = Counter()
    kept = Counter()
    for d in _docs(["source", "n_chars"]):
        n[d["source"]] += 1
        if d["n_chars"] >= _Q202_KEEP_MIN:
            kept[d["source"]] += 1
    N = sum(n.values())
    assert set(rows) == set(n)
    ucbs = {}
    for src in n:
        bonus = round(math.sqrt(2.0 * math.log(N) / n[src]), 6)
        ucb = round(kept[src] / n[src] + math.sqrt(2.0 * math.log(N) / n[src]), 6)
        ucbs[src] = ucb
        r = rows[src]
        assert (r["n_docs"], r["n_kept"]) == (n[src], kept[src])
        assert r["mean_u"] == (1000000 * kept[src]) // n[src]
        assert abs(r["bonus"] - bonus) < 1e-9
        assert abs(r["ucb"] - ucb) < 1e-9
    order = sorted(ucbs, key=lambda s: (-ucbs[s], s))
    for i, src in enumerate(order, start=1):
        assert rows[src]["priority"] == i
    # UCB exploration property: a small arm outranks an equal-mean big arm
    small = min(n, key=lambda s: n[s])
    big = max(n, key=lambda s: n[s])
    if n[small] < n[big]:
        assert rows[small]["bonus"] > rows[big]["bonus"]


def test_q203_matches_python_mwu(spark):
    from sparkextract.queries.stats import q203_mann_whitney_u

    (r,) = q203_mann_whitney_u(spark, SF_DIR).collect()
    a, b = [], []
    for d in _docs(["doc_id", "n_chars"]):
        h = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:8], 16) % 2
        (a if h == 0 else b).append(d["n_chars"])
    n_a, n_b = len(a), len(b)
    pooled = sorted(a + b)
    # midranks via value runs
    ranks = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j] == pooled[i]:
            j += 1
        ranks[pooled[i]] = (i + 1 + j) / 2  # average of ranks i+1..j
        i = j
    rs_a = sum(ranks[v] for v in a)
    assert r["rs2_a"] == round(2 * rs_a)
    u_a = rs_a - n_a * (n_a + 1) / 2
    assert r["u2_a"] == round(2 * u_a)
    assert r["u2_b"] == round(2 * (n_a * n_b - u_a))
    counts = Counter(pooled)
    tie_sum = sum(t**3 - t for t in counts.values())
    assert r["tie_sum"] == tie_sum
    nn = n_a + n_b
    sigma = math.sqrt(n_a * n_b / 12 * ((nn + 1) - tie_sum / (nn * (nn - 1))))
    z = round((u_a - n_a * n_b / 2) / sigma, 6)
    assert abs(r["z"] - z) < 1e-9
    # identical underlying distributions -> |z| far below 1.96
    assert abs(r["z"]) < 1.96
