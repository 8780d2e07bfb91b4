"""q175-q178 (AGMS join size, FS linkage, margin alignment, padding
waste): pure-Python re-derivations of the verdicts at sf0.001."""

import hashlib
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5p-tests", master="local[4]", shuffle_partitions=8)
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


def test_q178_padding_waste_matches_python_and_sorting_wins(spark):
    from sparkextract.queries.text import (
        _Q178_B,
        _Q178_NBUCKETS,
        q178_padding_waste_audit,
    )

    rows = {r["policy"]: r for r in q178_padding_waste_audit(spark, SF_DIR).collect()}
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "n_chars"]
    ).to_pylist()
    lens = [(r["doc_id"], r["n_chars"] // 4) for r in docs]
    n = len(lens)
    by_len = sorted(lens, key=lambda t: (t[1], t[0]))
    base, extra = divmod(n, _Q178_NBUCKETS)
    lbucket = {}
    pos = 0
    for b in range(_Q178_NBUCKETS):
        size = base + (1 if b < extra else 0)
        for d, _l in by_len[pos : pos + size]:
            lbucket[d] = b
        pos += size
    orders = {
        "arrival": sorted(lens),
        "length_sorted": by_len,
        "bucketed": sorted(lens, key=lambda t: (lbucket[t[0]], t[0])),
    }
    for policy, seq in orders.items():
        toks = [l for _d, l in seq]
        batches = [toks[i : i + _Q178_B] for i in range(0, n, _Q178_B)]
        padded = sum(max(b) * len(b) - sum(b) for b in batches)
        cap = sum(max(b) * len(b) for b in batches)
        r = rows[policy]
        assert r["n_batches"] == len(batches)
        assert r["total_tokens"] == sum(toks)
        assert r["padded_tokens"] == padded, policy
        assert r["waste_u"] == (1000000 * padded) // cap
    assert rows["length_sorted"]["padded_tokens"] <= rows["bucketed"]["padded_tokens"]
    assert rows["bucketed"]["padded_tokens"] <= rows["arrival"]["padded_tokens"]
