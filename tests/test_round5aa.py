"""q198 (cuckoo filter): pure-Python re-derivation at sf0.001."""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5aa-tests", master="local[4]")
    yield s


def _h8(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _docs(cols):
    return pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=cols).to_pylist()


def _kgrams(text: str, k: int):
    a = [t for t in text.split(" ") if t]
    return {
        hashlib.md5(" ".join(a[i : i + k]).encode()).hexdigest()
        for i in range(len(a) - k + 1)
    }


def test_q198_matches_python_cuckoo(spark):
    from sparkextract.queries.sketches import (
        _Q198_EVAL_BUCKETS,
        _Q198_FPBITS,
        _Q198_K,
        _Q198_M,
        q198_cuckoo_filter_probe,
    )

    def fp(kh):
        return _h8(kh + ":fp") % ((1 << _Q198_FPBITS) - 1) + 1

    def i1(kh):
        return _h8(kh + ":b") % _Q198_M

    def i2(kh):
        return i1(kh) ^ (_h8(str(fp(kh)) + ":h") % _Q198_M)

    docs = _docs(["doc_id", "text"])
    eval_docs = [d for d in docs if _h8(str(d["doc_id"])) % _Q198_EVAL_BUCKETS == 0]
    rest = [d for d in docs if _h8(str(d["doc_id"])) % _Q198_EVAL_BUCKETS != 0]
    ekh = set()
    for d in eval_docs:
        ekh |= _kgrams(d["text"], _Q198_K)
    filt = {(i1(kh), fp(kh)) for kh in ekh} | {(i2(kh), fp(kh)) for kh in ekh}
    # partial-key property: i2 is recoverable from (i1, fp) alone
    for kh in list(ekh)[:50]:
        assert i2(kh) == i1(kh) ^ (_h8(str(fp(kh)) + ":h") % _Q198_M)
        assert 0 <= i2(kh) < _Q198_M

    corpus = [(d["doc_id"], d["text"]) for d in rest] + [
        (d["doc_id"] + 3000000, d["text"]) for d in eval_docs
    ]
    rows = {r["doc_id"]: r for r in q198_cuckoo_filter_probe(spark, SF_DIR).collect()}
    expected_ids = {doc_id for doc_id, text in corpus if _kgrams(text, _Q198_K)}
    assert set(rows) == expected_ids
    total_fp = 0
    for doc_id, text in corpus:
        khs = _kgrams(text, _Q198_K)
        if not khs:
            continue
        n_cuckoo = sum(
            1 for kh in khs if (i1(kh), fp(kh)) in filt or (i2(kh), fp(kh)) in filt
        )
        n_exact = sum(1 for kh in khs if kh in ekh)
        r = rows[doc_id]
        assert r["n_kgrams"] == len(khs)
        assert r["n_cuckoo"] == n_cuckoo
        assert r["n_exact"] == n_exact
        assert r["n_false_pos"] == n_cuckoo - sum(
            1
            for kh in khs
            if kh in ekh and ((i1(kh), fp(kh)) in filt or (i2(kh), fp(kh)) in filt)
        )
        # no false negatives, ever
        assert n_cuckoo >= n_exact
        total_fp += r["n_false_pos"]
    # injected verbatim copies are fully caught
    for d in eval_docs:
        khs = _kgrams(d["text"], _Q198_K)
        if khs:
            assert rows[d["doc_id"] + 3000000]["n_exact"] == len(khs)
