"""q206 (CUSUM drift): pure-Python recurrence re-derivation at
sf0.001 — proves the two-window closed form equals the classical
max(0, S+d) recurrence."""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5ae-tests", master="local[4]", shuffle_partitions=8)
    yield s


def test_q206_matches_python_cusum(spark):
    from sparkextract.queries.stats import (
        _Q206_BUCKETS,
        _Q206_H_PCT,
        _Q206_K_PCT,
        q206_cusum_drift,
    )

    rows = {r["bucket"]: r for r in q206_cusum_drift(spark, SF_DIR).collect()}
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "n_chars"]
    ).to_pylist()
    sums = {}
    counts = {}
    total = n_total = 0
    for d in docs:
        b = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:8], 16) % _Q206_BUCKETS
        sums[b] = sums.get(b, 0) + d["n_chars"]
        counts[b] = counts.get(b, 0) + 1
        total += d["n_chars"]
        n_total += 1
    mu0 = (1000000 * total) // n_total
    k = mu0 * _Q206_K_PCT // 100
    h = mu0 * _Q206_H_PCT // 100
    assert set(rows) == set(sums)
    s_up = s_dn = 0
    for b in sorted(sums):
        mean_u = (1000000 * sums[b]) // counts[b]
        # the classical recurrence, run directly
        s_up = max(0, s_up + (mean_u - mu0 - k))
        s_dn = max(0, s_dn + (mu0 - mean_u - k))
        r = rows[b]
        assert (r["n"], r["mean_u"], r["mu0_u"], r["h_u"]) == (
            counts[b],
            mean_u,
            mu0,
            h,
        )
        assert r["s_up"] == s_up, f"bucket {b}: closed form != recurrence"
        assert r["s_dn"] == s_dn
        assert r["alarm"] == (s_up > h or s_dn > h)
    # NOTE: no quiet-detector assertion — at sf0.001 a bucket holds
    # ~50 docs, so batch means wobble ~1/sqrt(50) ~ 14% and the 5%
    # decision interval can legitimately fire on sampling noise alone;
    # what the test proves is the closed form == recurrence, exactly.


def test_q206_closed_form_on_synthetic_shift():
    """The P_t - min(P_j, 0) identity vs the recurrence on a stream
    with a deliberate level shift (pure Python, no Spark needed)."""
    devs = [-3, 1, -2, 5, 7, 4, -1, 6]  # shift upward mid-stream
    s = 0
    expected = []
    for d in devs:
        s = max(0, s + d)
        expected.append(s)
    prefix = 0
    min_p = 0
    got = []
    for d in devs:
        prefix += d
        min_p = min(min_p, prefix)
        got.append(prefix - min(min_p, 0))
    assert got == expected
