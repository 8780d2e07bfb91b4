"""q196 (KMV/theta sketch) and q197 (KS two-sample): pure-Python
re-derivations at sf0.001."""

import hashlib
import math
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5z-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _docs(cols):
    return pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=cols).to_pylist()


def _half(doc_id):
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 2


def test_q196_matches_python_kmv(spark):
    from sparkextract.queries.sketches import _Q196_K, _Q196_MAXH, q196_kmv_theta_sketch

    rows = {r["part"]: r for r in q196_kmv_theta_sketch(spark, SF_DIR).collect()}
    assert set(rows) == {"half0", "half1", "intersection"}
    universe = {0: set(), 1: set()}
    for d in _docs(["doc_id", "text"]):
        h = _half(d["doc_id"])
        universe[h].update(t for t in d["text"].split(" ") if t)
    hashes = {
        h: sorted(
            {int(hashlib.md5(t.encode()).hexdigest()[:12], 16) for t in universe[h]}
        )
        for h in (0, 1)
    }
    sketches = {h: hashes[h][:_Q196_K] for h in (0, 1)}
    kth = {h: max(sketches[h]) for h in (0, 1)}
    for h in (0, 1):
        r = rows[f"half{h}"]
        assert r["n_exact"] == len(hashes[h])
        assert r["k_eff"] == len(sketches[h])
        assert r["kth_min"] == kth[h]
        est = (len(sketches[h]) - 1) * float(_Q196_MAXH) / kth[h]
        assert abs(r["est"] - round(est, 6)) < 1e-6
        # the estimate should be in the right ballpark (within 50%)
        assert 0.5 * len(hashes[h]) < r["est"] < 1.5 * len(hashes[h])
    th = min(kth.values())
    inter_k = len(
        {x for x in sketches[0] if x < th} & {x for x in sketches[1] if x < th}
    )
    r = rows["intersection"]
    assert r["kth_min"] == th
    assert r["k_eff"] == inter_k
    assert r["n_exact"] == len(set(hashes[0]) & set(hashes[1]))
    assert abs(r["est"] - round(inter_k * float(_Q196_MAXH) / th, 6)) < 1e-6


def test_q197_matches_python_ks(spark):
    from sparkextract.queries.stats import _Q197_TOPN, q197_ks_two_sample

    rows = q197_ks_two_sample(spark, SF_DIR).collect()
    assert len(rows) == _Q197_TOPN
    samples = {0: [], 1: []}
    for d in _docs(["doc_id", "n_chars"]):
        samples[_half(d["doc_id"])].append(d["n_chars"])
    n_a, n_b = len(samples[0]), len(samples[1])
    vals = sorted(set(samples[0]) | set(samples[1]))
    cum_a = cum_b = 0
    gaps = []
    for v in vals:
        cum_a += sum(1 for x in samples[0] if x == v)
        cum_b += sum(1 for x in samples[1] if x == v)
        gap_u = abs(cum_a * n_b - cum_b * n_a) * 1000000 // (n_a * n_b)
        gaps.append((v, cum_a, cum_b, gap_u))
    ks_u = max(g[3] for g in gaps)
    expected = sorted(gaps, key=lambda g: (-g[3], g[0]))[:_Q197_TOPN]
    ks_scaled = round(math.sqrt(n_a * n_b / (n_a + n_b)) * ks_u / 1000000.0, 6)
    for r, (v, ca, cb, gap) in zip(rows, expected):
        assert (r["v"], r["cum_a"], r["cum_b"], r["gap_u"]) == (v, ca, cb, gap)
        assert (r["n_a"], r["n_b"], r["ks_u"]) == (n_a, n_b, ks_u)
        assert abs(r["ks_scaled"] - ks_scaled) < 1e-9
    # same underlying distribution on both md5 halves: far below the
    # alpha=0.05 rejection line 1.358
    assert ks_scaled < 1.358
