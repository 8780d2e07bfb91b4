"""q186 (Chao1/Good-Turing vocab richness) and q187 (graph modularity):
pure-Python re-derivations at sf0.001."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5u-tests", master="local[4]", shuffle_partitions=8)
    yield s


def test_q186_matches_python_chao1(spark):
    from sparkextract.queries.text import q186_vocab_richness

    rows = {r["lang"]: r for r in q186_vocab_richness(spark, SF_DIR).collect()}
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["lang", "text"]
    ).to_pylist()
    by_lang: dict[str, Counter] = {}
    for d in docs:
        c = by_lang.setdefault(d["lang"], Counter())
        c.update(t for t in d["text"].split(" ") if t)
    assert set(rows) == set(by_lang)
    for lang, tc in by_lang.items():
        v = len(tc)
        n = sum(tc.values())
        f1 = sum(1 for c in tc.values() if c == 1)
        f2 = sum(1 for c in tc.values() if c == 2)
        chao1_u = 1000000 * v + (1000000 * f1 * (f1 - 1)) // (2 * (f2 + 1))
        p0_u = (1000000 * f1) // n
        r = rows[lang]
        assert (r["v_obs"], r["n_tokens"], r["f1"], r["f2"]) == (v, n, f1, f2)
        assert r["chao1_u"] == chao1_u
        assert r["p0_u"] == p0_u
        assert r["coverage_u"] == 1000000 - p0_u


def test_q187_modularity_identity(spark):
    """Per-cell contributions obey the Newman identity: counts are
    consistent (sum e_within <= m, sum deg = 2m) and each contribution
    recomputes from its own integer columns."""
    from sparkextract.queries.graph import q187_graph_modularity

    rows = q187_graph_modularity(spark, SF_DIR).collect()
    assert len(rows) > 0
    m = rows[0]["m_edges"]
    assert all(r["m_edges"] == m for r in rows)
    assert m > 0, "edge set must be non-trivial for the audit to mean anything"
    assert sum(r["e_within"] for r in rows) <= m
    # every edge endpoint lies in some cell -> degrees fully accounted
    assert sum(r["deg_sum"] for r in rows) == 2 * m
    for r in rows:
        expect = r["e_within"] / m - (r["deg_sum"] / (2 * m)) ** 2
        assert abs(r["q_contrib"] - round(expect, 6)) < 1e-9
    q = sum(r["q_contrib"] for r in rows)
    assert -0.5 <= q < 1.0


def test_q187_partition_is_exhaustive(spark):
    """Every non-centroid vector lands in exactly one cell."""
    from sparkextract.queries.graph import _Q187_K, _q187_assign

    vec_ids = pq.read_table(
        os.path.join(SF_DIR, "embeddings.parquet"), columns=["vec_id"]
    ).column("vec_id").to_pylist()
    n_points = sum(1 for v in vec_ids if v > _Q187_K)
    assign = _q187_assign(spark, SF_DIR).collect()
    assert len(assign) == n_points
    assert len({r["vec_id"] for r in assign}) == len(assign)
    assert all(1 <= r["cell"] <= _Q187_K for r in assign)
