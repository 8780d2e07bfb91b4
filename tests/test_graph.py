"""Tests for the graph query family (``queries/graph.py``): PageRank
invariants and label propagation on a long chain and past its bound."""

import os

import pytest

from conftest import SF_DIR


def test_q119_pagerank_invariants(spark):
    """Every rank ≥ the damping floor (150000 micro-units), the top-20
    is sorted by (rank desc, doc_id asc), and total rank mass never
    exceeds the undamped total n*1e6 (floor division only loses mass)."""
    from sparkextract.queries.graph import q119_pagerank

    rows = q119_pagerank(spark, SF_DIR).collect()
    assert len(rows) == 20
    ranks = [r.rank_units for r in rows]
    assert all(r >= 150000 for r in ranks)
    keys = [(-r.rank_units, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    # the top-20 of a 500-doc graph holds well under the total mass
    n_docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    assert sum(ranks) <= n_docs * 1_000_000


def test_label_propagation_long_chain(spark):
    """A 25-node path graph (diameter 24) must converge to one component
    within the iteration bound — the pathological-chain guard."""
    from sparkextract.queries.graph import label_propagation

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(24)], "left_id long, right_id long"
    )
    labels = label_propagation(pairs)
    got = {r["lbl"] for r in labels.collect()}
    assert got == {0}
    assert labels.count() == 25


def test_label_propagation_bound_raises(spark):
    """A chain longer than the 30-iteration bound can cover must fail
    loudly, never silently return partial labels, and must not leave its
    persisted edges behind in the session's cache."""
    from sparkextract.queries.graph import label_propagation

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "left_id long, right_id long"
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with pytest.raises(RuntimeError, match="did not converge"):
        label_propagation(pairs)
    assert cache.numCachedEntries() <= before
