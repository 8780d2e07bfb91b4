"""q165 (two-phase large-star/small-star CC): correctness on synthetic
graphs a diameter-bound algorithm would struggle with, plus agreement
with min-label propagation on the real near-dup pair set."""

import os

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5l-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _labels(spark, pairs, max_rounds=40):
    from sparkextract.queries.graph import two_phase_cc

    df = spark.createDataFrame(pairs, "left_id long, right_id long")
    return {
        r["id"]: r["lbl"] for r in two_phase_cc(df, max_rounds=max_rounds).collect()
    }


def test_chain_converges_in_log_rounds(spark):
    """A 200-node path graph has diameter 199 — min-label propagation
    needs ~199 rounds; two-phase must finish in far fewer (O(log^2 n),
    here bounded at 12 alternating rounds) with every node labeled by
    the chain minimum."""
    pairs = [(i, i + 1) for i in range(200)]
    got = _labels(spark, pairs, max_rounds=12)
    assert got == {i: 0 for i in range(201)}


def test_disjoint_components_and_singleton_edges(spark):
    pairs = [(5, 3), (3, 9), (20, 21), (40, 40 + 1), (41, 42), (7, 7)]
    got = _labels(spark, pairs)
    assert got[3] == got[5] == got[9] == 3
    assert got[20] == got[21] == 20
    assert got[40] == got[41] == got[42] == 40
    # self-edges carry no connectivity and are dropped up front
    assert 7 not in got and len(got) == 8


def test_matches_label_propagation_on_real_pairs(spark):
    """Both algorithms reach the identical min-label fixed point on the
    actual simhash near-dup pair set."""
    from sparkextract.queries.dedup import q68_simhash_near_dup
    from sparkextract.queries.graph import label_propagation
    from sparkextract.queries.graph import two_phase_cc

    pairs = q68_simhash_near_dup(spark, SF_DIR).localCheckpoint()
    a = {r["id"]: r["lbl"] for r in two_phase_cc(pairs).collect()}
    b = {r["id"]: r["lbl"] for r in label_propagation(pairs).collect()}
    assert a == b and len(a) > 0
