"""q201 (compression proxy): pure-Python re-derivation at sf0.001."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5ab-tests", master="local[4]")
    yield s


def _docs(cols):
    return pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=cols).to_pylist()


def test_q201_matches_python_proxy(spark):
    from sparkextract.queries.quality import _Q201_N, q201_compression_proxy

    rows = {r["source"]: r for r in q201_compression_proxy(spark, SF_DIR).collect()}
    inst = Counter()
    grams: dict[str, Counter] = {}
    for d in _docs(["source", "text"]):
        a = [t for t in d["text"].split(" ") if t]
        if len(a) < _Q201_N:
            continue
        c = grams.setdefault(d["source"], Counter())
        for i in range(len(a) - _Q201_N + 1):
            c[" ".join(a[i : i + _Q201_N])] += 1
            inst[d["source"]] += 1
    assert set(rows) == set(grams)
    for src, c in grams.items():
        n_inst = inst[src]
        n_dist = len(c)
        rep_u = (1000000 * (n_inst - n_dist)) // n_inst
        r = rows[src]
        assert (r["n_instances"], r["n_distinct"], r["n_repeated"]) == (
            n_inst,
            n_dist,
            n_inst - n_dist,
        )
        assert r["repeat_frac_u"] == rep_u
        assert r["dict_worthy"] == (rep_u >= 300000)
