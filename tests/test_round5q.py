"""q179 (Misra-Gries heavy hitters) and q180 (decayed popularity):
pure-Python re-derivations at sf0.001."""

import hashlib
import os
from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5q-tests", master="local[4]", shuffle_partitions=8)
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


def test_q180_decay_weights_exact_and_ranks(spark):
    from sparkextract.queries.relational import (
        _Q180_MAX_E,
        _Q180_STEP_US,
        q180_decayed_popularity,
    )
    from fractions import Fraction

    rows = {r["event_type"]: r for r in q180_decayed_popularity(spark, SF_DIR).collect()}
    ev = pq.read_table(
        os.path.join(SF_DIR, "events.parquet"), columns=["event_type", "ts"]
    ).to_pylist()
    # pyarrow timestamps are tz-naive micros; derive exactly from the value
    t_us = [
        r["ts"].value if hasattr(r["ts"], "value") else int(r["ts"].timestamp() * 1e6)
        for r in ev
    ]
    tmax = max(t_us)
    mass = defaultdict(Fraction)
    n = Counter()
    for r, t in zip(ev, t_us):
        e = min((tmax - t) // _Q180_STEP_US, _Q180_MAX_E)
        mass[r["event_type"]] += Fraction(1, 2**e)
        n[r["event_type"]] += 1
    assert set(rows) == set(mass)
    for et, r in rows.items():
        assert r["n_events"] == n[et]
        # exact decimal sum rounded to 6 dp, then the nearest double
        expected = float(
            (mass[et] * 10**6 + Fraction(1, 2)).__floor__()
        ) / 1e6
        assert r["decayed_mass"] == pytest.approx(expected, abs=2e-6)
    raw_order = sorted(rows, key=lambda t: (-rows[t]["n_events"], t))
    dec_order = sorted(rows, key=lambda t: (-mass[t], t))
    for i, et in enumerate(raw_order, 1):
        assert rows[et]["rank_raw"] == i
    for i, et in enumerate(dec_order, 1):
        assert rows[et]["rank_decayed"] == i
        assert rows[et]["rank_changed"] == (
            rows[et]["rank_raw"] != rows[et]["rank_decayed"]
        )
