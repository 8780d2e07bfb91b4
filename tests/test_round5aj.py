"""q215 (design effect): pure-Python re-derivation at sf0.001."""

import math
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5aj-tests", master="local[4]", shuffle_partitions=8)
    yield s


def test_q215_matches_python_anova(spark):
    from sparkextract.queries.stats import q215_design_effect

    (r,) = q215_design_effect(spark, SF_DIR).collect()
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["source", "n_chars"]
    ).to_pylist()
    groups: dict[str, list] = {}
    for d in docs:
        groups.setdefault(d["source"], []).append(d["n_chars"])
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    s1 = sum(sum(v) for v in groups.values())
    s2 = sum(x * x for v in groups.values() for x in v)
    grand = s1 * s1 / n
    sst = s2 - grand
    ssb = sum(sum(v) ** 2 / len(v) for v in groups.values()) - grand
    msb = ssb / (k - 1)
    msw = (sst - ssb) / (n - k)
    m_bar = n / k
    rho = (msb - msw) / (msb + (m_bar - 1) * msw)
    deff = 1 + (m_bar - 1) * round(rho, 6)
    assert (r["n_sources"], r["n_docs"]) == (k, n)
    assert abs(r["m_bar"] - round(m_bar, 6)) < 1e-9
    assert abs(r["sst"] - round(sst, 6)) < 1e-4
    assert abs(r["ssb"] - round(ssb, 6)) < 1e-4
    assert abs(r["rho"] - round(rho, 6)) < 1e-6
    assert abs(r["deff"] - round(deff, 6)) < 1e-4
    # sanity: rho in [-1, 1], deff positive
    assert -1.0 <= r["rho"] <= 1.0
    assert r["deff"] > 0
