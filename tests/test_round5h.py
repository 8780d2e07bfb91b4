"""q159-q160 (soft-dedup weights, template profiling): pure-Python
re-implementations over the raw parquet plus structural invariants —
guarding the inverse-multiplicity weight identity and the two-level
prefix reduction."""

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


def test_q160_matches_pure_python_profile(spark):
    from sparkextract.queries.quality import q160_template_prefix_profile

    rows = {
        r["source"]: r
        for r in q160_template_prefix_profile(spark, SF_DIR).collect()
    }
    per = {}
    for _, text, source in _docs(SF_DIR):
        prefix = " ".join(text.split(" ")[:2])
        per.setdefault(source, Counter())[prefix] += 1
    assert set(rows) == set(per)
    for source, cnt in per.items():
        r = rows[source]
        n = sum(cnt.values())
        shared = sum(c for c in cnt.values() if c > 1)
        assert r["n_docs"] == n
        assert r["n_prefixes"] == len(cnt)
        assert r["max_prefix_docs"] == max(cnt.values())
        import math

        assert r["template_share_u"] == math.floor(
            shared * 1e6 / n + 0.5
        )
