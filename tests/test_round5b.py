"""Property tests for the round-5 final-wave operators (q119–q127):
PageRank mass/floor invariants, ROUGE harmonic-mean bound, BPE merge
exhaustiveness and BM25 ranking on constructed corpora, the PCA power
step against numpy and the RRF integer identity."""

import os

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5b-tests", master="local[4]")
    yield s


def test_q119_pagerank_invariants(spark):
    """Every rank ≥ the damping floor (150000 micro-units), the top-20
    is sorted by (rank desc, doc_id asc), and total rank mass never
    exceeds the undamped total n*1e6 (floor division only loses mass)."""
    from sparkextract.queries.graph import q119_pagerank

    rows = q119_pagerank(spark, SF_DIR).collect()
    assert len(rows) == 20
    ranks = [r.rank_units for r in rows]
    assert all(r >= 150000 for r in ranks)
    keys = [(-r.rank_units, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    # the top-20 of a 500-doc graph holds well under the total mass
    n_docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    assert sum(ranks) <= n_docs * 1_000_000


def test_q121_rouge_bounds(spark):
    """P, R, F1 ∈ [0,1] and F1 (harmonic mean) sits between min(P, R)
    and max(P, R), within the 6-dp rounding quantum, for every pair."""
    from sparkextract.queries.retrieval import q121_rouge_eval

    rows = q121_rouge_eval(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        for v in (r.rouge1_p, r.rouge1_r, r.rouge1_f, r.rouge2_f):
            assert 0.0 <= v <= 1.0
        assert (
            min(r.rouge1_p, r.rouge1_r) - 1e-6
            <= r.rouge1_f
            <= max(r.rouge1_p, r.rouge1_r) + 1e-6
        )


def _write_docs(spark, rows, path):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )


def test_q122_bpe_merge_constructed(spark, tmp_path):
    """On a corpus where 'aa bb' is the clear winner: stage 0 ranks it
    first, and after the merge no (aa, bb) adjacency survives anywhere
    while the merged token participates in stage-1 pairs."""
    from sparkextract.queries.text import q122_bpe_merge

    root = str(tmp_path)
    rows = [
        (0, "aa bb cc aa bb", "en", "s", 14),
        (1, "cc aa bb dd", "en", "s", 11),
        (2, "aa bb aa bb aa", "en", "s", 14),
        (3, "dd cc dd", "en", "s", 8),
    ]
    _write_docs(spark, rows, root)
    out = q122_bpe_merge(spark, root).collect()
    s0 = [r for r in out if r.stage == 0]
    s1 = [r for r in out if r.stage == 1]
    assert (s0[0].w1, s0[0].w2, s0[0].cnt) == ("aa", "bb", 5)
    assert all((r.w1, r.w2) != ("aa", "bb") for r in s1)
    assert any("aa_bb" in (r.w1, r.w2) for r in s1)
    # doc 2 "aa bb aa bb aa" -> [aa_bb, aa_bb, aa]; doc 0 and doc 1
    # each produce one (cc, aa_bb) adjacency. (aa_bb, aa_bb) itself is
    # excluded from the ranked table by the same w1<>w2 rule the argmax
    # uses.
    s1_counts = {(r.w1, r.w2): r.cnt for r in s1}
    assert s1_counts.get(("aa_bb", "aa")) == 1
    assert s1_counts.get(("cc", "aa_bb")) == 2


def test_q125_bm25_constructed(spark, tmp_path):
    """Query doc 0 (doc_id % 50 == 0) self-retrieves at rank 1; with
    identical tf for a query term, the shorter doc outranks the longer
    one (BM25 length normalization); docs sharing no query term never
    appear."""
    from sparkextract.queries.retrieval import q125_bm25_topk

    pad_s = " ".join(f"pad{chr(97 + i)}" for i in range(5))
    pad_l = " ".join(f"quux{chr(97 + i)}{chr(97 + j)}" for i in range(8) for j in range(5))
    rows = [
        (0, "alpha beta gamma delta echo", "en", "s", 27),
        (1, "alpha " + pad_s, "en", "s", 20),       # short, tf(alpha)=1
        (2, "alpha " + pad_l, "en", "s", 120),      # long,  tf(alpha)=1
        (3, "zz yy xx ww vv", "en", "s", 14),       # no query term
    ]
    _write_docs(spark, rows, str(tmp_path))
    out = q125_bm25_topk(spark, str(tmp_path)).collect()
    assert all(r.query_id == 0 for r in out)
    by_rank = {r.rnk: r for r in out}
    assert by_rank[1].doc_id == 0            # self-retrieval anchor
    assert all(r.doc_id != 3 for r in out)   # no shared term -> absent
    s1 = next(r.score for r in out if r.doc_id == 1)
    s2 = next(r.score for r in out if r.doc_id == 2)
    assert s1 > s2                           # shorter doc wins at equal tf
    scores = [by_rank[i].score for i in sorted(by_rank)]
    assert scores == sorted(scores, reverse=True)


def test_q126_pca_power_step_numpy(spark):
    """One power step equals the numpy computation w = X^T (X v0) on the
    3-decimal-quantized matrix (within the 6-dp output rounding), v1 is
    unit-norm within rounding, and lambda_est = ||w||."""
    import numpy as np

    from sparkextract.queries.ann import q126_pca_power_step

    out = sorted(q126_pca_power_step(spark, SF_DIR).collect(), key=lambda r: r.dim0)
    assert [r.dim0 for r in out] == list(range(64))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    X = np.round(
        np.array([r.embedding for r in emb.select("embedding").collect()], dtype=np.float64),
        3,
    )
    w_np = X.T @ (X @ np.full(64, 0.125))
    w_sp = np.array([r.w for r in out])
    assert np.max(np.abs(w_sp - w_np)) < 5e-5
    lam = out[0].lambda_est
    assert all(r.lambda_est == lam for r in out)
    assert abs(lam - float(np.linalg.norm(w_sp))) < 5e-4
    v1 = np.array([r.v1 for r in out])
    assert abs(float(v1 @ v1) - 1.0) < 1e-4


def test_q127_rrf_fusion_integer_identity(spark):
    """Every fused score equals the exact integer identity
    10^9//(60+r_bm25) + 10^9//(60+r_tfidf); output is sorted by fused
    desc within query; a doc ranked 1 by BOTH rankers is fused rank 1."""
    from sparkextract.queries.retrieval import q127_rrf_fusion

    rows = q127_rrf_fusion(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.fused_units == 10**9 // (60 + r.r_bm25) + 10**9 // (60 + r.r_tfidf)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r.rnk)
        fus = [r.fused_units for r in rs]
        assert fus == sorted(fus, reverse=True)
        both_first = [r for r in rs if r.r_bm25 == 1 and r.r_tfidf == 1]
        if both_first:
            assert both_first[0].rnk == 1
