"""q211 (dedup ROI curve): pure-Python re-derivation at sf0.001."""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5ah-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _docs():
    return pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()


def test_q211_matches_python_roi(spark):
    from sparkextract.queries.dedup import _Q211_TOPK, q211_dedup_roi_curve

    docs = _docs()
    corpus = [(d["doc_id"], d["text"]) for d in docs] + [
        (d["doc_id"] + 1000000, d["text"]) for d in docs if d["doc_id"] % 13 == 0
    ]
    clusters: dict[str, list] = {}
    for _, text in corpus:
        clusters.setdefault(hashlib.md5(text.encode()).hexdigest(), []).append(text)
    stats = {
        k: (len(v), len(v[0]), (len(v) - 1) * len(v[0])) for k, v in clusters.items()
    }
    total = sum(n * ln for n, ln, _ in stats.values())
    order = sorted(stats, key=lambda k: (-stats[k][2], k))[:_Q211_TOPK]
    rows = q211_dedup_roi_curve(spark, SF_DIR).collect()
    assert [r["ckey"] for r in rows] == order
    cum = 0
    for r, k in zip(rows, order):
        n, ln, rem = stats[k]
        cum += rem
        assert (r["cluster_size"], r["removable_chars"]) == (n, rem)
        assert r["cum_removable"] == cum
        assert r["total_chars"] == total
        assert r["cum_saved_frac_u"] == (1000000 * cum) // total
    # injected verbatim copies guarantee a non-trivial ROI
    assert rows[0]["removable_chars"] > 0
