"""Round-5 hardening tests: hot-key de-skew semantics for the
content-hash dedup operators (q96/q99 — round-4 VERDICT item 1), memo
staleness under in-session input rewrite (round-3 ADVICE, fixed via
input_token), label-propagation convergence on a pathological long
chain, and the deterministic fail_after_buckets rule."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _write_docs(spark, rows, path):
    spark.createDataFrame(rows, "doc_id long, text string, n_chars long").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))


def test_q96_hot_block_corpus(spark, tmp_path):
    """One 8-token block occupies ~50% of a synthetic corpus: the
    map-side-combinable first-occurrence agg must keep exactly one copy
    (lowest doc_id, lowest block_idx) and every other doc reports it as
    a duplicate block."""
    from sparkextract.queries.dedup import _Q96_BLOCK, q96_block_dedup

    hot = " ".join(["hot"] * _Q96_BLOCK)
    rows = []
    for d in range(40):
        uniq = " ".join(f"d{d}w{i}" for i in range(_Q96_BLOCK))
        # every doc: [hot block][unique block] -> hot is 50% of all blocks
        rows.append((d, f"{hot} {uniq}", 0))
    root = str(tmp_path / "hot96")
    _write_docs(spark, rows, root)
    out = {r["doc_id"]: r for r in q96_block_dedup(spark, root).collect()}
    assert len(out) == 40
    # doc 0 keeps both blocks; every other doc keeps only its unique block
    assert out[0]["n_kept"] == 2 and out[0]["kept_frac"] == 1.0
    for d in range(1, 40):
        assert out[d]["n_blocks"] == 2
        assert out[d]["n_kept"] == 1
        assert out[d]["kept_frac"] == 0.5


def test_q99_hot_window_corpus(spark, tmp_path):
    """A 20-token window shared by EVERY doc (the boilerplate case that
    melts a content-hash window at scale): each doc's shared windows are
    dup, its unique tail windows are not, and a doc that is pure
    boilerplate is flagged."""
    from sparkextract.queries.dedup import _Q99_K, q99_exact_substring_dedup

    boiler = " ".join(f"b{i}" for i in range(_Q99_K))
    rows = [(0, boiler, 0)]  # pure boilerplate: dup_frac 1.0 -> flagged
    for d in range(1, 30):
        tail = " ".join(f"d{d}t{i}" for i in range(_Q99_K))
        rows.append((d, f"{boiler} {tail}", 0))
    root = str(tmp_path / "hot99")
    _write_docs(spark, rows, root)
    out = {r["doc_id"]: r for r in q99_exact_substring_dedup(spark, root).collect()}
    assert out[0]["n_windows"] == 1 and out[0]["dup_frac"] == 1.0
    assert out[0]["flagged"]
    for d in range(1, 30):
        r = out[d]
        # 2K tokens -> K+1 windows; only the leading all-boiler window is
        # shared across docs, the K windows touching the unique tail are not
        assert r["n_windows"] == _Q99_K + 1
        assert r["n_dup"] == 1
        assert not r["flagged"]


def test_checkpoint_memo_invalidates_on_rewrite(spark, tmp_path):
    """Rewriting the parquet under the same dir in one session must MISS
    the memo (input_token keys on file size/mtime), not serve stale
    checkpointed data."""
    from sparkextract.queries.base import checkpoint_memo, load

    root = str(tmp_path / "memo")
    _write_docs(spark, [(1, "alpha", 0)], root)
    build = lambda: load(spark, root, "documents").select("doc_id", "text")
    first = checkpoint_memo(spark, root, "t", build).collect()
    assert [r["text"] for r in first] == ["alpha"]
    shutil.rmtree(os.path.join(root, "documents.parquet"))
    _write_docs(spark, [(1, "beta", 0)], root)
    second = checkpoint_memo(spark, root, "t", build).collect()
    assert [r["text"] for r in second] == ["beta"]


def test_components_memo_invalidates_on_rewrite(spark, tmp_path):
    """_dup_components must recompute after the embeddings table under the
    same sf_dir is rewritten in-session (round-3 ADVICE staleness item)."""
    from sparkextract.queries.graph import _dup_components

    root = str(tmp_path / "comp")

    def write_embeddings(n):
        # identical unit vectors: every pair is cosine 1.0 and co-buckets
        # under any LSH banding -> one all-member cluster per corpus
        rows = [
            (int(i), [1.0] + [0.0] * 63, int(i % 3)) for i in range(n)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(root, "embeddings.parquet")
        )

    write_embeddings(8)
    a = _dup_components(spark, root).count()
    shutil.rmtree(os.path.join(root, "embeddings.parquet"))
    write_embeddings(16)
    b = _dup_components(spark, root).count()
    # the second run must see the larger corpus (more clustered nodes),
    # not the stale checkpointed labels of the first
    assert a > 0
    assert b > a


def test_label_propagation_long_chain(spark):
    """A 25-node path graph (diameter 24) must converge to one component
    within the iteration bound — the pathological-chain guard."""
    from sparkextract.queries.graph import label_propagation

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(24)], "left_id long, right_id long"
    )
    labels = label_propagation(pairs)
    got = {r["lbl"] for r in labels.collect()}
    assert got == {0}
    assert labels.count() == 25


def test_label_propagation_bound_raises(spark):
    """A chain longer than the 30-iteration bound can cover must fail
    loudly, never silently return partial labels, and must not leave its
    persisted edges behind in the session's cache."""
    from sparkextract.queries.graph import label_propagation

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "left_id long, right_id long"
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with pytest.raises(RuntimeError, match="did not converge"):
        label_propagation(pairs)
    assert cache.numCachedEntries() <= before


def test_ocr_media_deterministic(spark):
    """ocr_media: cleaned pseudo-OCR text derived from the payload hash —
    equal payloads give equal text, artifacts collapsed, fixed length."""
    import hashlib

    from sparkextract.core.normalize import collapse_ws
    from sparkextract.core.ocr import OCR_TEXT_LEN, pseudo_ocr_raw
    from sparkextract.spark.multimodal import MEDIA_SCHEMA, ocr_media

    rows = [
        ("m1", "d1", "image", b"same-bytes", 4, 4),
        ("m2", "d2", "audio", b"same-bytes", 4, 4),
        ("m3", "d3", "video", b"other", 4, 4),
        ("m4", "d4", "pdf", None, 4, 4),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in ocr_media(media).collect()}
    assert got["m1"]["ocr_text"] == got["m2"]["ocr_text"]
    assert got["m1"]["ocr_text"] != got["m3"]["ocr_text"]
    for r in got.values():
        assert r["n_ocr_chars"] == OCR_TEXT_LEN
        assert "  " not in r["ocr_text"] and "\t" not in r["ocr_text"]
    expect = collapse_ws(pseudo_ocr_raw(hashlib.md5(b"same-bytes").hexdigest()))
    assert got["m1"]["ocr_text"] == expect


def test_fail_after_buckets_is_bucket_id_rule(spark, tmp_path):
    """fail_after_buckets commits exactly the buckets with id < N —
    deterministic on the bucket ID, independent of which buckets happen
    to be populated (round-4 ADVICE: the oracle derives run_seq from
    this rule)."""
    from sparkextract.schema import DOC_SCHEMA
    from sparkextract.spark.manifest import read_manifest, run_extraction_job

    docs = spark.createDataFrame(
        [(f"d{i}", [{"kind": "text", "text": "x" * 120, "media_ref": None, "offset": 0}])
         for i in range(64)],
        schema=DOC_SCHEMA,
    )
    root = str(tmp_path / "failrule")
    run_extraction_job(spark, docs, root, run_id="r1", num_buckets=8,
                       fail_after_buckets=3)
    m = read_manifest(spark, root).filter(F.col("status") == "done")
    got = sorted(r["doc_id_bucket"] for r in m.collect())
    assert all(b < 3 for b in got)


def test_q110_semantic_dedup_ledger(spark):
    """SemDeDup ledger invariants: every corpus vector is assigned to
    exactly one cell, the per-cell arithmetic holds, and the injected
    +0.25-on-dim-1 twins (same construction as q53) are caught as
    within-cluster semantic duplicates."""
    from sparkextract.queries.dedup import _banded_corpus
    from sparkextract.queries.dedup import q110_semantic_dedup

    rows = q110_semantic_dedup(spark, SF_DIR).collect()
    corpus_n = _banded_corpus(spark, SF_DIR).count()
    assert sum(r["n_members"] for r in rows) == corpus_n
    for r in rows:
        assert r["n_survivors"] == r["n_members"] - r["n_dups"]
        assert r["n_survivors"] >= 1
    # twins sit at cosine >= 0.95 of their originals and share a nearest
    # centroid, so at least one duplicate must be flagged corpus-wide
    assert sum(r["n_dups"] for r in rows) >= 1


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


def test_q113_coverage_monotone(spark):
    """Vocabulary coverage is monotone in vocab size, bounded by (0, 1],
    and covered_tokens never exceeds the corpus token total."""
    from sparkextract.queries.text import _Q113_SIZES, q113_vocab_coverage

    rows = {r["vocab_size"]: r for r in q113_vocab_coverage(spark, SF_DIR).collect()}
    assert set(rows) == set(_Q113_SIZES)
    prev_cov, prev_tok = 0.0, 0
    for v in sorted(_Q113_SIZES):
        r = rows[v]
        assert 0.0 < r["coverage"] <= 1.0
        assert r["coverage"] >= prev_cov and r["covered_tokens"] >= prev_tok
        prev_cov, prev_tok = r["coverage"], r["covered_tokens"]


def test_q114_jsd_invariants(spark):
    """Per-token JS contributions are non-negative (log-sum inequality:
    p ln(p/m) + q ln(q/m) >= 0 for m = (p+q)/2), the total bounds every
    contribution, and the injected 'stale' prefix token must surface as
    a top drift contributor (it exists only in the old snapshot)."""
    from sparkextract.queries.incremental import snapshot_token_drift

    rows = snapshot_token_drift(spark, SF_DIR).collect()
    assert rows
    total = rows[0]["jsd_total"]
    assert total > 0
    for r in rows:
        assert r["js_contrib"] >= 0
        assert r["js_contrib"] <= total
        assert r["jsd_total"] == total
    assert any(r["token"] == "stale" for r in rows)
    stale = next(r for r in rows if r["token"] == "stale")
    assert stale["c_new"] == 0 and stale["c_old"] > 0 and stale["delta_share"] < 0


def test_q115_zipf_slope_sane(spark):
    """The power-law fit is negative (frequency falls with rank),
    n_points is bounded by the top-N cut, and the intercept recovers a
    positive ln-frequency scale."""
    from sparkextract.queries.text import _Q115_TOPN, q115_zipf_slope

    row = q115_zipf_slope(spark, SF_DIR).collect()[0]
    assert 1 <= row["n_points"] <= _Q115_TOPN
    assert row["zipf_slope"] < 0
    assert row["intercept"] > 0


def test_q116_incremental_ivf_delta_only(spark):
    """Index maintenance touches ONLY the CDC delta: every added/changed
    vector gets exactly one cell from the 8 centroids, every unchanged
    vector keeps a NULL cell, and the delta share matches the md5
    bucket rule (buckets 0 and 1 of 10)."""
    from sparkextract.queries.incremental import incremental_ivf

    rows = incremental_ivf(spark, SF_DIR).collect()
    n = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).count()
    assert len(rows) == n
    for r in rows:
        if r["status"] == "unchanged":
            assert not r["needs_index"] and r["cell"] is None
        else:
            assert r["needs_index"] and r["cell"] is not None
            assert 1 <= r["cell"] <= 8
    delta = sum(1 for r in rows if r["needs_index"])
    assert 0 < delta < n


def test_q117_composition_agrees_with_parts(spark):
    """The corpus-refresh flagship's stage aggregates must equal the
    standalone operators' own aggregates — the composition proof."""
    from sparkextract.queries.incremental import (
        q106_incremental_extraction,
        snapshot_diff,
    )
    from sparkextract.queries.incremental import (
        incremental_ivf,
        q117_corpus_refresh_pipeline,
        snapshot_token_drift,
    )

    rows = {
        (r["stage"], r["probe"]): r
        for r in q117_corpus_refresh_pipeline(spark, SF_DIR).collect()
    }
    diff = {
        r["status"]: r["n"]
        for r in snapshot_diff(spark, SF_DIR).groupBy("status").count()
        .withColumnRenamed("count", "n").collect()
    }
    for status, n in diff.items():
        assert rows[("diff", status)]["n"] == n
    spans = sum(
        r["span_count"] for r in q106_incremental_extraction(spark, SF_DIR).collect()
    )
    assert rows[("extract", "spans_reextracted")]["n"] == spans
    jsd = snapshot_token_drift(spark, SF_DIR).collect()[0]["jsd_total"]
    assert rows[("drift", "jsd_total")]["metric"] == jsd
    reassigned = incremental_ivf(spark, SF_DIR).filter("needs_index").count()
    assert rows[("index", "reassigned")]["n"] == reassigned
