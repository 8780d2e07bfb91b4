"""q188 (Heaps'-law vocab growth) and q189 (interpolated Kneser-Ney
bigram LM): pure-Python re-derivations at sf0.001."""

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
    s = get_spark("sparkextract-r5v-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _docs():
    return pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()


def _bucket(doc_id: int, n: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % n


def test_q188_matches_python_heaps(spark):
    from sparkextract.queries.text import _Q188_BUCKETS, q188_heaps_law

    rows = {r["bucket"]: r for r in q188_heaps_law(spark, SF_DIR).collect()}
    per_bucket = Counter()
    first_seen: dict[str, int] = {}
    for d in _docs():
        b = _bucket(d["doc_id"], _Q188_BUCKETS)
        for t in d["text"].split(" "):
            if not t:
                continue
            per_bucket[b] += 1
            if t not in first_seen or b < first_seen[t]:
                first_seen[t] = b
    vnew = Counter(first_seen.values())
    n_cum = v_cum = 0
    prev = None
    for b in sorted(per_bucket):
        n_prev, v_prev = n_cum, v_cum
        n_cum += per_bucket[b]
        v_cum += vnew.get(b, 0)
        r = rows[b]
        assert (r["n_cum"], r["v_cum"]) == (n_cum, v_cum)
        if prev is None or n_cum == n_prev:
            assert r["beta"] == 0.0
        else:
            beta = (math.log(v_cum) - math.log(v_prev)) / (
                math.log(n_cum) - math.log(n_prev)
            )
            assert abs(r["beta"] - round(beta, 6)) < 1e-9
            # Heaps exponent sits in [0, 1): 0 exactly when the bucket
            # introduces no new types (tiny synthetic vocab saturates)
            assert 0.0 <= r["beta"] < 1.0
        prev = b
    assert set(rows) == set(per_bucket)


def test_q189_matches_python_kneser_ney(spark):
    from sparkextract.queries.quality import _Q189_D, q189_kneser_ney_lm

    rows = {r["doc_id"]: r for r in q189_kneser_ney_lm(spark, SF_DIR).collect()}
    doc_bigrams: dict[int, list] = {}
    big = Counter()
    for d in _docs():
        w = [t for t in d["text"].split(" ") if t]
        bgs = list(zip(w, w[1:]))
        if bgs:
            doc_bigrams[d["doc_id"]] = bgs
            big.update(bgs)
    c_a = Counter()
    n1f = Counter()
    n1r = Counter()
    for (a, b), c in big.items():
        c_a[a] += c
        n1f[a] += 1
        n1r[b] += 1
    n_types = len(big)
    assert set(rows) == set(doc_bigrams)
    for doc_id, bgs in doc_bigrams.items():
        s = 0
        for a, b in bgs:
            p = (big[(a, b)] - _Q189_D) / c_a[a] + (
                _Q189_D * n1f[a] / c_a[a]
            ) * (n1r[b] / n_types)
            assert 0.0 < p <= 1.0
            s += round(math.log(p), 9)
        xent = round(-s / len(bgs), 6)
        r = rows[doc_id]
        assert r["n_bigrams"] == len(bgs)
        assert abs(r["xent"] - xent) < 1e-9


def test_q189_kn_probabilities_normalize(spark):
    """For each context a, sum_b P(b|a) == 1 exactly in the KN algebra
    (the discount mass redistributed via continuation counts): checked
    in Python over the corpus-trained LM."""
    big = Counter()
    for d in _docs():
        w = [t for t in d["text"].split(" ") if t]
        big.update(zip(w, w[1:]))
    from sparkextract.queries.quality import _Q189_D

    c_a = Counter()
    n1f = Counter()
    n1r = Counter()
    for (a, b), c in big.items():
        c_a[a] += c
        n1f[a] += 1
        n1r[b] += 1
    n_types = len(big)
    pcont_total = sum(n1r.values()) / n_types  # == 1 by construction? no:
    # sum_b n1r[b] == n_types, so sum_b Pcont(b) == 1 exactly
    assert abs(pcont_total - 1.0) < 1e-12
    # pick the 5 highest-frequency contexts and check normalization over
    # SEEN continuations + the continuation distribution over unseen ones
    for a, _ in c_a.most_common(5):
        seen_mass = sum(
            (big[(a, b)] - _Q189_D) / c_a[a]
            for (aa, b) in big
            if aa == a
        )
        backoff_w = _Q189_D * n1f[a] / c_a[a]
        # full sum over ALL b of the interpolated term = backoff_w * 1
        total = seen_mass + backoff_w
        assert abs(total - 1.0) < 1e-9
