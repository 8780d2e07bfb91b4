"""q196 (KMV/theta sketch): pure-Python re-derivation at sf0.001."""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5z-tests", master="local[4]")
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
