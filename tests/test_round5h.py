"""q159 soft-dedup weights: a pure-Python re-implementation over the
raw parquet plus structural invariants, guarding the
inverse-multiplicity weight identity."""

import os
from collections import Counter

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5h-tests", master="local[4]")
    yield s


def _docs(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("source").to_pylist(),
        )
    )


def test_q159_weight_identity_and_mass_conservation(spark):
    from sparkextract.queries.dedup import q159_soft_dedup_weights

    rows = q159_soft_dedup_weights(spark, SF_DIR).collect()
    docs = list(_docs(SF_DIR))
    docs += [
        (d + 4_000_000, t, "mirror") for d, t, _ in docs if d % 10 == 0
    ]
    clusters = Counter(t for _, t, _ in docs)
    exp = {}
    for _, text, source in docs:
        c = clusters[text]
        n_tok = len(text.split(" "))
        n, nd, raw, eff = exp.get(source, (0, 0, 0, 0))
        exp[source] = (
            n + 1,
            nd + (1 if c > 1 else 0),
            raw + n_tok,
            eff + n_tok * (1_000_000 // c),
        )
    got = {
        r["source"]: (
            r["n_docs"],
            r["n_dup_docs"],
            r["raw_tokens"],
            r["eff_tokens_u"],
        )
        for r in rows
    }
    assert got == exp
    # a cluster of size c contributes <= its raw mass; the injected
    # mirror source is 100% duplicated (every row in a size-2 cluster)
    assert all(e <= r * 1_000_000 for _, _, r, e in got.values())
    m = got["mirror"]
    assert m[1] == m[0] and m[0] > 0
    assert m[3] == m[2] * 500_000  # 1e6 div 2 on every mirror token
