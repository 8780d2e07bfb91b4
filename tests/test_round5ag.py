"""q209 (df-pruning advisor): pure-Python re-derivation at sf0.001."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5ag-tests", master="local[4]", shuffle_partitions=8)
    yield s


def test_q209_matches_python_sweep(spark):
    from sparkextract.queries.text import _Q209_THRESHOLDS, q209_df_pruning_advisor

    rows = {r["min_df"]: r for r in q209_df_pruning_advisor(spark, SF_DIR).collect()}
    assert set(rows) == set(_Q209_THRESHOLDS)
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    df = Counter()
    mass = Counter()
    for d in docs:
        toks = [t for t in d["text"].split(" ") if t]
        mass.update(toks)
        df.update(set(toks))
    v_total = len(df)
    m_total = sum(mass.values())
    prev_v = prev_m = None
    for th in _Q209_THRESHOLDS:
        v_kept = sum(1 for t in df if df[t] >= th)
        m_kept = sum(mass[t] for t in df if df[t] >= th)
        r = rows[th]
        assert (r["v_kept"], r["v_total"]) == (v_kept, v_total)
        assert (r["mass_kept"], r["m_total"]) == (m_kept, m_total)
        assert r["v_kept_frac_u"] == (1000000 * v_kept) // v_total
        assert r["mass_kept_frac_u"] == (1000000 * m_kept) // m_total
        # monotone: raising the threshold never keeps more
        if prev_v is not None:
            assert v_kept <= prev_v and m_kept <= prev_m
        prev_v, prev_m = v_kept, m_kept
        # the Zipf economics: mass survives better than vocabulary
        assert r["mass_kept_frac_u"] >= r["v_kept_frac_u"]
