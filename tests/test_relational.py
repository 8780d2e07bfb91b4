"""Tests for the relational query family (``queries/relational.py``): the
two-level deterministic shuffle."""

from conftest import SF_DIR


def test_q105_two_level_equals_global_order(spark):
    """global_pos is a permutation of 0..N-1, shard boundaries respect the
    global order (shard is a prefix of the order key), and the order is
    reproducible run-to-run."""
    from sparkextract.queries.registry import SPARK_QUERIES

    rows = SPARK_QUERIES["q105_deterministic_shuffle"](spark, SF_DIR).collect()
    n = len(rows)
    assert sorted(r["global_pos"] for r in rows) == list(range(n))
    by_pos = sorted(rows, key=lambda r: r["global_pos"])
    shards = [r["shard"] for r in by_pos]
    assert shards == sorted(shards)  # shard never decreases along the order
    again = SPARK_QUERIES["q105_deterministic_shuffle"](spark, SF_DIR).collect()
    assert {r["doc_id"]: r["global_pos"] for r in rows} == {
        r["doc_id"]: r["global_pos"] for r in again
    }
