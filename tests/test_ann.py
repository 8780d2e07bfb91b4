"""Tests for the ANN query family (``queries/ann.py``): the PCA power
step against numpy, the q46 IVF probes and the q50 recall bounds."""

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
