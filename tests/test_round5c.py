"""q128 MMR rerank: structural invariants plus a full independent
numpy re-implementation of the greedy MMR recursion over the same
micro-unit inputs (the oracle SQL is the cross-engine twin; this test
is a third, loop-free-in-SQL-land implementation guarding the greedy
semantics themselves)."""

import os

import numpy as np
import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5c-tests", master="local[4]", shuffle_partitions=8)
    yield s


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


def test_q129_k_anonymity_recount(spark):
    """Independent pandas recount of both generalization levels."""
    import pyarrow.parquet as pq

    from sparkextract.queries.quality import _Q129_K, q129_k_anonymity

    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).to_pandas()
    t["len_bucket"] = t["n_chars"] // 200
    g0 = t.groupby(["lang", "source", "len_bucket"]).size().to_dict()
    g1 = t.groupby(["lang", "len_bucket"]).size().to_dict()

    rows = q129_k_anonymity(spark, SF_DIR).collect()
    assert len(rows) == len(t)
    for r in rows:
        exp_g0 = g0[(r["lang"], r["source"], r["len_bucket"])]
        exp_g1 = g1[(r["lang"], r["len_bucket"])]
        assert r["g0"] == exp_g0 and r["g1"] == exp_g1
        exp_level = 0 if exp_g0 >= _Q129_K else (1 if exp_g1 >= _Q129_K else 2)
        assert r["anon_level"] == exp_level
        assert r["released"] == (exp_level < 2)


def test_q131_matches_numpy_reference(spark):
    """Independent numpy silhouette over the same quantized inputs."""
    import pyarrow.parquet as pq

    from sparkextract.queries.ann import _Q131_K, q131_simplified_silhouette

    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    embs = {
        int(v): np.round(np.asarray(e, dtype=np.float64), 3)
        for v, e in zip(
            t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()
        )
    }
    cents = {c: embs[c] for c in range(1, _Q131_K + 1)}
    expected = {}
    for v, e in embs.items():
        if v <= _Q131_K:
            continue
        d2 = sorted(
            (float(np.sum((e - c) ** 2)), cid) for cid, c in cents.items()
        )
        (a2, cell), (b2, _) = d2[0], d2[1]
        a_u = int(np.round(np.sqrt(a2) * 1_000_000))
        b_u = int(np.round(np.sqrt(b2) * 1_000_000))
        sil = 0 if max(a_u, b_u) == 0 else (b_u - a_u) * 1_000_000 // max(a_u, b_u)
        expected[v] = (cell, a_u, b_u, sil)

    rows = q131_simplified_silhouette(spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for r in rows:
        assert (
            r["cell"], r["a_u"], r["b_u"], r["sil_u"]
        ) == expected[r["vec_id"]]
        assert r["a_u"] <= r["b_u"]  # nearest-centroid assignment
        assert 0 <= r["sil_u"] <= 1_000_000


def test_q130_entropy_matches_python(spark):
    """Independent per-doc Shannon entropy (direct -sum p ln p form,
    NOT the ln(n) - S/n identity the query uses) over the raw parquet."""
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    from sparkextract.queries.quality import _Q130_LOW_ENTROPY, q130_token_entropy

    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    expected = {}
    for doc_id, text in zip(
        t.column("doc_id").to_pylist(), t.column("text").to_pylist()
    ):
        toks = [w for w in text.split(" ") if w != ""]
        if not toks:
            continue
        counts = Counter(toks)
        n = len(toks)
        h = -sum((c / n) * math.log(c / n) for c in counts.values())
        expected[doc_id] = (n, len(counts), h)

    rows = q130_token_entropy(spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for r in rows:
        n, types, h = expected[r["doc_id"]]
        assert r["n_tokens"] == n and r["n_types"] == types
        # query freezes per-term decimals at 1e-9 and the result at 1e-6;
        # the direct-form float sum differs by at most the frozen grain
        assert abs(r["entropy"] - h) < 1e-5
        assert r["keep"] == (r["entropy"] >= _Q130_LOW_ENTROPY)
        # entropy is bounded by ln(n_types) (uniform) and >= 0
        assert -1e-9 <= r["entropy"] <= math.log(max(types, 2)) + 1e-6


def test_q132_mapping_is_real_mojibake():
    """The simulated byte mapping IS the actual utf-8-read-as-latin-1
    round trip, and the repair rule is its exact inverse."""
    from sparkextract.queries.quality import _Q132_MAP

    for plain, intended, mojibake in _Q132_MAP:
        assert intended.encode("utf-8").decode("latin-1") == mojibake
        assert mojibake.encode("latin-1").decode("utf-8") == intended
        assert plain not in mojibake


def test_q132_repair_roundtrip(spark):
    """Every doc round-trips; exactly the md5-bucket docs are flagged,
    with n_bad_seqs equal to their (a+e) occurrence count."""
    import hashlib

    import pyarrow.parquet as pq

    from sparkextract.queries.quality import (
        _Q132_BAD_BUCKET,
        _Q132_BUCKETS,
        q132_encoding_repair,
    )

    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    docs = dict(
        zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    )
    rows = q132_encoding_repair(spark, SF_DIR).collect()
    assert len(rows) == len(docs)
    flagged = 0
    for r in rows:
        text = docs[r["doc_id"]]
        bucket = (
            int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
            % _Q132_BUCKETS
        )
        is_bad = bucket == _Q132_BAD_BUCKET
        assert r["roundtrip_ok"] is True
        assert r["was_mojibake"] == is_bad
        exp_bad = (text.count("a") + text.count("e")) if is_bad else 0
        assert r["n_bad_seqs"] == exp_bad
        if is_bad:
            flagged += 1
            intended = text.replace("a", "á").replace("e", "é")
            assert (
                r["repaired_md5"]
                == hashlib.md5(intended.encode("utf-8")).hexdigest()
            )
    assert flagged > 0
