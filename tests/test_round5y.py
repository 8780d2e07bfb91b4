"""q194 (sorted-neighborhood blocking) and q195 (compaction planner):
pure-Python re-derivations at sf0.001."""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5y-tests", master="local[4]", shuffle_partitions=8)
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


def test_q195_matches_python_packing(spark):
    from sparkextract.queries.planning import (
        _Q195_FILES,
        _Q195_TARGET,
        q195_compaction_planner,
    )

    rows = {r["file_id"]: r for r in q195_compaction_planner(spark, SF_DIR).collect()}
    sizes: dict[int, int] = {}
    ndocs: dict[int, int] = {}
    for d in _docs():
        f = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:8], 16) % _Q195_FILES
        sizes[f] = sizes.get(f, 0) + d["n_chars"]
        ndocs[f] = ndocs.get(f, 0) + 1
    assert set(rows) == set(sizes)
    cum = 0
    bins: dict[int, int] = {}
    for f in sorted(sizes):
        small = sizes[f] < _Q195_TARGET
        r = rows[f]
        assert (r["size_bytes"], r["n_docs"], r["is_small"]) == (
            sizes[f],
            ndocs[f],
            small,
        )
        if small:
            b = cum // _Q195_TARGET
            cum += sizes[f]
            bins[b] = bins.get(b, 0) + sizes[f]
            assert r["bin"] == b
            assert r["disposition"] == "compact"
        else:
            assert r["bin"] == -1
            assert r["disposition"] == "keep"
    for f, r in rows.items():
        if r["is_small"]:
            assert r["bin_fill"] == bins[r["bin"]]
            # next-fit invariant: a bin never exceeds target + one file
            assert r["bin_fill"] < 2 * _Q195_TARGET
