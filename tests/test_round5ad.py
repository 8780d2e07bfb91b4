"""q204 (winsorized/trimmed means): pure-Python re-derivation at
sf0.001."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5ad-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _by_lang():
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["lang", "n_chars"]
    ).to_pylist()
    out: dict[str, list] = {}
    for d in docs:
        out.setdefault(d["lang"], []).append(d["n_chars"])
    return out


def _nearest_rank(sorted_vals, q_num, q_den):
    """min v whose cumulative count satisfies cum * q_den >= n * q_num."""
    n = len(sorted_vals)
    cum = 0
    counts = Counter(sorted_vals)
    for v in sorted(counts):
        cum += counts[v]
        if cum * q_den >= n * q_num:
            return v
    return sorted_vals[-1]


def test_q204_matches_python_winsor(spark):
    from sparkextract.queries.stats import _Q204_HI, _Q204_LO, q204_winsorized_stats

    rows = {r["lang"]: r for r in q204_winsorized_stats(spark, SF_DIR).collect()}
    data = _by_lang()
    assert set(rows) == set(data)
    for lang, xs in data.items():
        xs.sort()
        lo = _nearest_rank(xs, _Q204_LO, 100)
        hi = _nearest_rank(xs, _Q204_HI, 100)
        r = rows[lang]
        assert (r["p_lo"], r["p_hi"], r["n_docs"]) == (lo, hi, len(xs))
        plain = sum(xs) / len(xs)
        wins = sum(min(max(x, lo), hi) for x in xs) / len(xs)
        kept = [x for x in xs if lo <= x <= hi]
        trim = sum(kept) / len(kept)
        assert abs(r["mean_plain"] - round(plain, 6)) < 1e-9
        assert abs(r["mean_winsor"] - round(wins, 6)) < 1e-9
        assert abs(r["mean_trim"] - round(trim, 6)) < 1e-9
        assert r["n_clamped"] == len(xs) - len(kept)
        # robustness ordering sanity: fences shrink the spread
        assert min(xs) <= lo <= hi <= max(xs)
