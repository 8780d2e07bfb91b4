"""q186 (Chao1/Good-Turing vocab richness): pure-Python re-derivation
at sf0.001."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5u-tests", master="local[4]", shuffle_partitions=8)
    yield s


def test_q186_matches_python_chao1(spark):
    from sparkextract.queries.text import q186_vocab_richness

    rows = {r["lang"]: r for r in q186_vocab_richness(spark, SF_DIR).collect()}
    docs = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["lang", "text"]
    ).to_pylist()
    by_lang: dict[str, Counter] = {}
    for d in docs:
        c = by_lang.setdefault(d["lang"], Counter())
        c.update(t for t in d["text"].split(" ") if t)
    assert set(rows) == set(by_lang)
    for lang, tc in by_lang.items():
        v = len(tc)
        n = sum(tc.values())
        f1 = sum(1 for c in tc.values() if c == 1)
        f2 = sum(1 for c in tc.values() if c == 2)
        chao1_u = 1000000 * v + (1000000 * f1 * (f1 - 1)) // (2 * (f2 + 1))
        p0_u = (1000000 * f1) // n
        r = rows[lang]
        assert (r["v_obs"], r["n_tokens"], r["f1"], r["f2"]) == (v, n, f1, f2)
        assert r["chao1_u"] == chao1_u
        assert r["p0_u"] == p0_u
        assert r["coverage_u"] == 1000000 - p0_u
