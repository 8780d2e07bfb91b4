"""q162 (quality-aware survivor selection): structural invariants plus
pure-Python cross-checks — guarding the argmax-with-tiebreak survivor
rule."""

import os

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5i-tests", master="local[4]")
    yield s


def test_q162_survivor_rule_argmax_with_tiebreak(spark):
    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.queries.dedup import q162_quality_survivor

    out = {r["sig0"]: r for r in q162_quality_survivor(spark, SF_DIR).collect()}
    assert out
    # cluster grain must agree with q38 (same corpus, same signature)
    q38 = {
        r["sig0"]: (r["cluster_size"], r["keeper_doc_id"])
        for r in SPARK_QUERIES["q38_minhash_clusters"](spark, SF_DIR).collect()
    }
    assert set(out) == set(q38)
    for sig0, r in out.items():
        assert (r["cluster_size"], r["keeper_min_id"]) == q38[sig0]
        # differs is exactly the keeper comparison
        assert r["differs"] == (r["keeper_quality"] != r["keeper_min_id"])
        assert r["cluster_size"] >= 2
    # the injected clone mutates text, so quality keepers genuinely
    # diverge from min-id keepers somewhere (and agree somewhere)
    assert any(r["differs"] for r in out.values())


def test_q162_quality_keeper_has_best_logit(spark):
    from sparkextract.queries.quality import _q135_features_of
    from sparkextract.queries.dedup import q162_quality_survivor
    from sparkextract.queries.base import load
    from pyspark.sql import functions as F

    out = q162_quality_survivor(spark, SF_DIR)
    docs = load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    clone = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        "lang",
        F.concat(F.lit("xxxxxxxxxx"), F.expr("substring(text, 11)")).alias(
            "text"
        ),
    )
    feats = {
        r["doc_id"]: r["logit_u"]
        for r in _q135_features_of(docs.unionByName(clone))
        .select("doc_id", "logit_u")
        .collect()
    }
    for r in out.collect():
        # the chosen keeper's logit equals the cluster's best logit
        assert feats[r["keeper_quality"]] == r["best_logit_u"]
        # and the min-id keeper never beats it
        assert feats.get(r["keeper_min_id"], -(10**12)) <= r["best_logit_u"]
