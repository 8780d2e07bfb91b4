"""Tests for the ANN query family (``queries/ann.py``): the PCA power
step against numpy, the q46 IVF probes, the q50 recall bounds and the q111 PQ/ADC
invariants."""

import os

from conftest import SF_DIR


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


def test_ivf_topk_probes_two_cells(spark):
    from sparkextract.queries.registry import SPARK_QUERIES

    rows = SPARK_QUERIES["q46_ivf_topk"](spark, SF_DIR).collect()
    assert len(rows) == 10
    # every hit comes from one of the <=2 probed coarse cells
    assert len({r["cell"] for r in rows}) <= 2
    # scores sorted descending with vec_id tiebreak
    cos = [r["cosine"] for r in rows]
    assert cos == sorted(cos, reverse=True)


def test_wave4_ann_recall_bounds(spark):
    from sparkextract.queries.registry import ORACLE_SQL, SPARK_QUERIES

    assert "q50_ann_recall" in ORACLE_SQL
    row = SPARK_QUERIES["q50_ann_recall"](spark, SF_DIR).collect()[0]
    assert 0 <= row["n_overlap"] <= 10
    assert row["recall_at_10"] == row["n_overlap"] / 10.0


def test_q111_pq_adc_invariants(spark):
    """PQ/ADC invariants: ADC distance underestimates nothing structural —
    exact top-1 (the query itself, distance 0) is ranked first by ADC
    too (its codes reconstruct its own cells, so its table sum is the
    minimum possible for its code word), every ADC distance is a sum of
    codebook-table entries (non-negative), and recall@20 is sane
    (> 0: at least the query itself is a hit)."""
    from sparkextract.queries.ann import _Q111_TOPK, q111_pq_adc_topk

    rows = q111_pq_adc_topk(spark, SF_DIR).collect()
    assert len(rows) == _Q111_TOPK
    # result arrives ADC-ranked; the query vector (vec_id 0) has
    # exact_d2u == 0 and must be present and flagged a hit
    self_row = [r for r in rows if r["vec_id"] == 0]
    assert self_row and self_row[0]["exact_d2u"] == 0
    assert self_row[0]["in_exact_topk"] == 1
    hits = sum(r["in_exact_topk"] for r in rows)
    assert 1 <= hits <= _Q111_TOPK
    assert all(r["adc_d2u"] >= 0 for r in rows)
    # ranking is by (adc_d2u, vec_id) ascending
    keys = [(r["adc_d2u"], r["vec_id"]) for r in rows]
    assert keys == sorted(keys)
