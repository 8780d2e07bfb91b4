"""q175 (AGMS join size): pure-Python re-derivation of the verdict at
sf0.001."""

import hashlib
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5p-tests", master="local[4]")
    yield s


def _md5_bucket(s: str, n: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n


def test_q175_sketch_and_exact_match_python(spark):
    from sparkextract.queries.sketches import _Q175_NEST, q175_agms_join_size

    row = q175_agms_join_size(spark, SF_DIR).collect()[0]
    ok = [
        r["o_orderkey"]
        for r in pq.read_table(
            os.path.join(SF_DIR, "orders.parquet"), columns=["o_orderkey"]
        ).to_pylist()
    ]
    lk = [
        r["l_orderkey"]
        for r in pq.read_table(
            os.path.join(SF_DIR, "lineitem.parquet"), columns=["l_orderkey"]
        ).to_pylist()
    ]
    co, cl = Counter(ok), Counter(lk)
    exact = sum(c * cl.get(k, 0) for k, c in co.items())

    def z(keys, j):
        return sum(
            1 if _md5_bucket(f"j{j}|{k}", 2) == 0 else -1 for k in keys
        )

    prods = sorted(z(ok, j) * z(lk, j) for j in range(_Q175_NEST))
    est = prods[_Q175_NEST // 2]
    assert row["n_orders"] == len(ok) and row["n_lineitem"] == len(lk)
    assert row["exact_join_size"] == exact
    assert row["est_join_size"] == est
    assert row["ratio_u"] == (1000000 * est) // exact
