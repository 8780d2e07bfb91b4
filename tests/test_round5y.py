"""q194 (sorted-neighborhood blocking): pure-Python re-derivation at
sf0.001."""

import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5y-tests", master="local[4]")
    yield s


def _docs():
    return pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"),
        columns=["doc_id", "text", "n_chars"],
    ).to_pylist()


def _snm_pairs(docs, key_fn, blk_fn):
    from collections import defaultdict

    blocks = defaultdict(list)
    for d in docs:
        blocks[blk_fn(d["text"])].append((key_fn(d["text"]), d["doc_id"]))
    pairs = set()
    for rows in blocks.values():
        rows.sort()
        for i, (_, a) in enumerate(rows):
            for _, b in rows[i + 1 : i + 3]:
                pairs.add((min(a, b), max(a, b)))
    return pairs


def test_q194_matches_python_snm(spark):
    from sparkextract.queries.dedup import _Q194_MIN_JAC_U, q194_sorted_neighborhood

    rows = {
        (r["left_id"], r["right_id"]): r
        for r in q194_sorted_neighborhood(spark, SF_DIR).collect()
    }
    docs = _docs()
    cand = _snm_pairs(docs, lambda t: t[:24], lambda t: t[:4]) | _snm_pairs(
        docs, lambda t: t[:24][::-1], lambda t: t[:24][::-1][:4]
    )
    sets = {d["doc_id"]: set(t for t in d["text"].split(" ") if t) for d in docs}
    expected = {}
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        jac_u = (1000000 * inter) // union
        if jac_u >= _Q194_MIN_JAC_U:
            expected[(a, b)] = (inter, union, jac_u)
    assert set(rows) == set(expected)
    for key, (inter, union, jac_u) in expected.items():
        r = rows[key]
        assert (r["n_common"], r["n_union"], r["jac_u"]) == (inter, union, jac_u)
