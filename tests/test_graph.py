"""Tests for the graph query family (``queries/graph.py``): PageRank
invariants."""

import os

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
