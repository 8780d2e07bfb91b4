"""q192 (leave-one-source-out influence) and q193 (chi-square drift):
pure-Python re-derivations at sf0.001."""

import hashlib
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


def test_q193_matches_python_chi2(spark):
    from sparkextract.queries.stats import q193_chi_square_drift

    rows = {r["lang"]: r for r in q193_chi_square_drift(spark, SF_DIR).collect()}
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "lang"]
    ).to_pylist()
    o = Counter()
    for d in docs:
        h = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:8], 16) % 2
        o[(d["lang"], h)] += 1
    langs = sorted({lang for lang, _ in o})
    assert set(rows) == set(langs)
    c0 = sum(o[(lg, 0)] for lg in langs)
    c1 = sum(o[(lg, 1)] for lg in langs)
    N = c0 + c1
    total = 0.0
    per = {}
    for lg in langs:
        rt = o[(lg, 0)] + o[(lg, 1)]
        e0, e1 = rt * c0 / N, rt * c1 / N
        chi2 = (o[(lg, 0)] - e0) ** 2 / e0 + (o[(lg, 1)] - e1) ** 2 / e1
        per[lg] = (e0, e1, round(chi2, 6))
        total += round(chi2, 6)
    for lg in langs:
        r = rows[lg]
        assert (r["o0"], r["o1"]) == (o[(lg, 0)], o[(lg, 1)])
        assert abs(r["e0"] - round(per[lg][0], 6)) < 1e-9
        assert abs(r["e1"] - round(per[lg][1], 6)) < 1e-9
        assert abs(r["chi2_lang"] - per[lg][2]) < 1e-9
        assert abs(r["chi2_total"] - round(total, 6)) < 1e-6
        assert r["dof"] == len(langs) - 1
        # both halves of an md5 split draw from one distribution:
        # the statistic should be far below the rejection region
        assert r["chi2_total"] < 50.0
