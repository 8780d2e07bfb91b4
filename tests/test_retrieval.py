"""Tests for the retrieval query family (``queries/retrieval.py``):
ranking bounds and identities, BM25 on a constructed corpus and the q128
MMR rerank against an independent numpy re-implementation of the greedy
recursion."""

import math
import os

import numpy as np

from conftest import SF_DIR, write_docs


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
    write_docs(
        spark, rows, str(tmp_path),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
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


def test_q156_ndcg_bounds_and_identity(spark):
    from sparkextract.queries.retrieval import q156_ndcg_eval

    rows = q156_ndcg_eval(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_rel"] <= 5
        assert 0 <= r["ndcg_u"] <= 1_000_000
        if r["idcg"] > 0:
            # cross-column identity: ndcg_u is the snapped ratio
            expect = math.floor(1e6 * r["dcg"] / r["idcg"] + 0.5)
            assert r["ndcg_u"] == expect
            # rearrangement bound: the ideal reorder dominates
            assert r["dcg"] <= r["idcg"] + 1e-9


def _numpy_mmr(sf_dir):
    """Independent MMR over the parquet embeddings (pure numpy)."""
    import pyarrow.parquet as pq

    from sparkextract.queries.retrieval import _Q128_K, _Q128_NCAND, _Q128_STRIDE

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vec_ids = t.column("vec_id").to_pylist()
    embs = {
        v: np.asarray(e, dtype=np.float64)
        for v, e in zip(vec_ids, t.column("embedding").to_pylist())
    }

    def cos_u(a, b):
        c = float(np.dot(a, b)) / (
            float(np.sqrt(np.dot(a, a))) * float(np.sqrt(np.dot(b, b)))
        )
        return int(np.round(c * 1_000_000))

    out = []
    for qid in sorted(v for v in embs if v % _Q128_STRIDE == 0):
        qe = embs[qid]
        rel = {v: cos_u(e, qe) for v, e in embs.items() if v != qid}
        cand = sorted(rel, key=lambda v: (-rel[v], v))[:_Q128_NCAND]
        selected = []
        for step in range(1, _Q128_K + 1):
            best = None
            for v in cand:
                if v in (s for s, _ in selected):
                    continue
                ms = max(
                    (cos_u(embs[v], embs[s]) for s, _ in selected),
                    default=0,
                )
                score = 7 * rel[v] - 3 * ms
                key = (-score, v)
                if best is None or key < best[0]:
                    best = (key, v, score)
            _, v, score = best
            selected.append((v, score))
            out.append((qid, step, v, rel[v], score))
    return out


def test_q128_matches_numpy_reference(spark):
    from sparkextract.queries.retrieval import q128_mmr_rerank

    got = [
        (r["query_id"], r["step"], r["vec_id"], r["rel_u"], r["score_u"])
        for r in q128_mmr_rerank(spark, SF_DIR).collect()
    ]
    assert got == _numpy_mmr(SF_DIR)


def test_q128_greedy_invariants(spark):
    from sparkextract.queries.retrieval import _Q128_K, q128_mmr_rerank

    rows = q128_mmr_rerank(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q
    for qid, picks in by_q.items():
        picks.sort(key=lambda r: r["step"])
        assert [r["step"] for r in picks] == list(range(1, _Q128_K + 1))
        ids = [r["vec_id"] for r in picks]
        assert len(set(ids)) == _Q128_K  # no repeats
        assert qid not in ids  # query never retrieves itself
        # step 1 is the pure-relevance argmax: its MMR score is 7*rel
        assert picks[0]["score_u"] == 7 * picks[0]["rel_u"]
        # later steps: score = 7*rel - 3*maxsim with maxsim a cosine in
        # micro-units (may be negative), so it stays within 3e6 of 7*rel
        for r in picks[1:]:
            assert abs(r["score_u"] - 7 * r["rel_u"]) <= 3_000_000
