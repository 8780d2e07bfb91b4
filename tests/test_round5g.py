"""q154 and q156 (CDC chunking, nDCG): pure-Python re-implementations
over the raw parquet plus structural invariants — guarding the
semantics (rolling-window boundary rule and shift re-synchronization,
DCG rearrangement bound) next to the Spark plan and the DuckDB
oracle."""

import hashlib
import math
import os
from collections import Counter

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5g-tests", master="local[4]")
    yield s


def _docs(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("lang").to_pylist(),
            t.column("n_chars").to_pylist(),
        )
    )


def _md5_bucket(s: str, n: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n


def _cdc_chunks(tokens):
    """Pure-Python twin of q154's boundary rule: cut AFTER token i iff
    md5_bucket(lag2 || ' ' || lag1 || ' ' || tok, 4) == 0."""
    out, cur = [], []
    for i, tok in enumerate(tokens):
        cur.append(tok)
        lag1 = tokens[i - 1] if i >= 1 else ""
        lag2 = tokens[i - 2] if i >= 2 else ""
        if _md5_bucket(f"{lag2} {lag1} {tok}", 4) == 0:
            out.append(" ".join(cur))
            cur = []
    if cur:
        out.append(" ".join(cur))
    return out


def _fix_chunks(tokens, b=8):
    return [" ".join(tokens[i : i + b]) for i in range(0, len(tokens), b)]


def test_q154_matches_pure_python(spark):
    from sparkextract.queries.dedup import q154_cdc_chunking

    rows = {
        r["doc_id"]: r
        for r in q154_cdc_chunking(spark, SF_DIR).collect()
    }
    docs = _docs(SF_DIR)
    assert len(rows) == len(docs)
    checked = 0
    for doc_id, text, _, _ in docs[:25]:
        toks = text.split(" ")
        shifted = ["zq"] + toks
        for fn, n_col, s_col in (
            (_cdc_chunks, "n_cdc", "shared_cdc"),
            (_fix_chunks, "n_fix", "shared_fix"),
        ):
            orig = Counter(fn(toks))
            shif = Counter(fn(shifted))
            shared = sum(min(c, shif[h]) for h, c in orig.items())
            assert rows[doc_id][n_col] == sum(orig.values())
            assert rows[doc_id][s_col] == shared
        checked += 1
    assert checked == 25


def test_q154_shift_invariance_separates_methods(spark):
    from sparkextract.queries.dedup import q154_cdc_chunking

    agg = (
        q154_cdc_chunking(spark, SF_DIR)
        .groupBy()
        .sum("n_cdc", "shared_cdc", "n_fix", "shared_fix")
        .collect()[0]
    )
    n_cdc, s_cdc, n_fix, s_fix = agg
    # CDC re-syncs after <= w tokens; fixed blocks never re-align
    assert s_cdc / n_cdc > 0.7
    assert s_fix / n_fix < 0.05


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
