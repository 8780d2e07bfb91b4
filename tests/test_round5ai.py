"""q212 (posting encoding advisor): pure-Python re-derivation at
sf0.001."""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5ai-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _docs(cols):
    return pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=cols).to_pylist()


def test_q212_matches_python_sizes(spark):
    from sparkextract.queries.planning import _Q212_TOPK, q212_posting_encoding_advisor

    docs = _docs(["doc_id", "text"])
    postings: dict[str, list] = {}
    for d in docs:
        for t in set(x for x in d["text"].split(" ") if x):
            postings.setdefault(t, []).append(d["doc_id"])
    u = max(d["doc_id"] for d in docs) + 1

    def sizes(lst):
        lst = sorted(lst)
        n = len(lst)
        l = max((u // n).bit_length() - 1, 0)
        ef = n * (2 + l)
        varint = 0
        prev = None
        for x in lst:
            g = x + 1 if prev is None else x - prev
            varint += 8 * ((g.bit_length() + 6) // 7)
            prev = x
        return ef, u, varint

    order = sorted(postings, key=lambda t: (-len(postings[t]), t))[:_Q212_TOPK]
    rows = q212_posting_encoding_advisor(spark, SF_DIR).collect()
    assert [r["token"] for r in rows] == order
    for r in rows:
        lst = postings[r["token"]]
        ef, bitmap, varint = sizes(lst)
        assert r["df"] == len(lst)
        assert r["universe"] == u
        assert (r["ef_bits"], r["bitmap_bits"], r["varint_bits"]) == (
            ef,
            bitmap,
            varint,
        )
        best = min(
            [("elias_fano", ef), ("bitmap", bitmap), ("varint", varint)],
            key=lambda kv: (kv[1], ["elias_fano", "bitmap", "varint"].index(kv[0])),
        )[0]
        assert r["best_encoding"] == best
        # the economics the advisor encodes: dense lists (n > u/2) are
        # where the bitmap must win — EF pays >= 2 bits/element
        if len(lst) > u / 2:
            assert r["best_encoding"] == "bitmap"
