"""q190 (DP Laplace release) and q191 (Poisson bootstrap): pure-Python
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
    s = get_spark("sparkextract-r5w-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _u_micro(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % 1000000


def test_q190_matches_python_laplace(spark):
    from sparkextract.queries.stats import _Q190_EPS, _Q190_SALT, q190_dp_noisy_release

    rows = {r["source"]: r for r in q190_dp_noisy_release(spark, SF_DIR).collect()}
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["source"]
    ).to_pylist()
    counts = Counter(d["source"] for d in docs)
    assert set(rows) == set(counts)
    noised = {}
    for src, n in counts.items():
        u = (_u_micro(f"{_Q190_SALT}:{src}") + 0.5) / 1000000.0
        sign = 1.0 if u >= 0.5 else -1.0
        noise = round(-(1.0 / _Q190_EPS) * sign * math.log(1.0 - 2.0 * abs(u - 0.5)), 6)
        noised[src] = (n, noise, round(n + noise, 6))
    for src, (n, noise, noisy) in noised.items():
        r = rows[src]
        assert r["true_n"] == n
        assert abs(r["noise"] - noise) < 1e-9
        assert abs(r["noisy"] - noisy) < 1e-9
        assert abs(r["l1_err"] - round(abs(noise), 6)) < 1e-9
    # rank audit recomputes from the released values
    by_true = sorted(noised, key=lambda s: (-noised[s][0], s))
    by_noisy = sorted(noised, key=lambda s: (-noised[s][2], s))
    for src in noised:
        r = rows[src]
        # the ORDER BY is a total order (value DESC, source ASC), so
        # RANK == position in the sorted list
        rt = 1 + by_true.index(src)
        rn = 1 + by_noisy.index(src)
        assert r["rank_true"] == rt
        assert r["rank_noisy"] == rn
        assert r["rank_shift"] == abs(rt - rn)


def test_q191_matches_python_bootstrap(spark):
    from sparkextract.queries.stats import (
        _Q191_REPS,
        _Q191_SALT,
        _Q191_THRESH,
        q191_poisson_bootstrap,
    )

    rows = {r["r"]: r for r in q191_poisson_bootstrap(spark, SF_DIR).collect()}
    assert set(rows) == set(range(_Q191_REPS))
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "n_chars"]
    ).to_pylist()

    def w_of(doc_id, r):
        u = _u_micro(f"{_Q191_SALT}:{doc_id}:{r}")
        for k, t in enumerate(_Q191_THRESH):
            if u < t:
                return k
        return len(_Q191_THRESH)

    means = {}
    for r in range(_Q191_REPS):
        n_eff = wsum = 0
        for d in docs:
            w = w_of(d["doc_id"], r)
            n_eff += w
            wsum += w * d["n_chars"]
        means[r] = (n_eff, round(wsum / n_eff, 6))
        assert rows[r]["n_eff"] == n_eff
        assert abs(rows[r]["boot_mean"] - means[r][1]) < 1e-9
    ordered = sorted(means.values(), key=lambda t: t[1])
    ci_lo, ci_hi = ordered[1][1], ordered[_Q191_REPS - 2][1]
    for r in rows.values():
        assert abs(r["ci_lo"] - ci_lo) < 1e-9
        assert abs(r["ci_hi"] - ci_hi) < 1e-9
    # the interval brackets the plain mean
    plain = sum(d["n_chars"] for d in docs) / len(docs)
    assert ci_lo <= plain <= ci_hi


def test_q191_poisson_table_is_a_cdf():
    from sparkextract.queries.stats import _Q191_THRESH

    assert all(b > a for a, b in zip(_Q191_THRESH, _Q191_THRESH[1:]))
    assert _Q191_THRESH[-1] == 1000000  # CDF saturates -> w always defined
    # first threshold is e^-1 in micro units
    assert _Q191_THRESH[0] == round(math.exp(-1.0) * 1000000)
