"""Tests for the incremental query family (``queries/incremental.py``):
streaming dedup and the Merkle diff against pure-Python twins, the q95
crash+resume state and root reaping, the q103 snapshot statuses,
q106's changed-only extraction and the q117 corpus-refresh stages
(token drift, incremental IVF, their composition)."""

import hashlib
import os
import time
from collections import Counter

from pyspark.sql import functions as F

from conftest import SF_DIR, py_md5_bucket, read_docs


def test_q145_matches_pure_python(spark):
    """Committed streaming-dedup sink equals first-writer-wins over the
    base-then-clones arrival order (pure Python)."""
    from sparkextract.queries.incremental import q145_streaming_stateful_dedup

    expected = {}
    for d, text, _l in read_docs("doc_id", "text", "lang"):
        h = hashlib.md5(text.encode()).hexdigest()
        if h not in expected or d < expected[h][0]:
            expected[h] = (d, len(text))
    # clones (doc_id % 5 -> +1M, same text) arrive in drain 2: suppressed
    rows = {
        r["content_hash"]: (int(r["doc_id"]), r["first_len"])
        for r in q145_streaming_stateful_dedup(spark, SF_DIR).collect()
    }
    assert rows == expected


def test_q172_clean_leaves_skip_doc_work_and_counts_match(spark):
    from sparkextract.queries.incremental import (
        _Q172_ADDED_LEAVES,
        _Q172_CHANGED_LEAVES,
        _Q172_LEAVES,
        q172_merkle_snapshot_diff,
    )

    rows = {r["leaf"]: r for r in q172_merkle_snapshot_diff(spark, SF_DIR).collect()}
    docs = read_docs("doc_id")
    per_leaf = Counter(
        py_md5_bucket(str(r["doc_id"]), _Q172_LEAVES) for r in docs
    )
    assert set(rows) == set(per_leaf)
    for leaf, r in rows.items():
        assert r["new_count"] == per_leaf[leaf]
        if leaf < _Q172_CHANGED_LEAVES:
            assert not r["clean"]
            assert r["n_changed"] == per_leaf[leaf] and r["n_added"] == 0
            assert r["old_count"] == per_leaf[leaf]
        elif leaf in _Q172_ADDED_LEAVES:
            assert not r["clean"]
            assert r["n_added"] == per_leaf[leaf] and r["n_changed"] == 0
            assert r["old_count"] == 0
        else:
            assert r["clean"]
            assert r["n_added"] == r["n_changed"] == r["n_removed"] == 0
            assert r["old_count"] == per_leaf[leaf]


def test_q95_crash_resume_split(spark):
    """All buckets end 'done'; buckets below the crash point committed in
    run 1, the rest in the resume run; doc counts cover the corpus."""
    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.queries.incremental import _Q95_BUCKETS, _Q95_FAIL_AFTER

    rows = SPARK_QUERIES["q95_manifest_resume_state"](spark, SF_DIR).collect()
    assert len(rows) == _Q95_BUCKETS
    for r in rows:
        assert r["status"] == "done"
        assert r["run_seq"] == (1 if r["doc_id_bucket"] < _Q95_FAIL_AFTER else 2)
        assert r["span_count"] >= r["doc_count"] >= 1
        assert r["table_count"] == 0
    n_docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    assert sum(r["doc_count"] for r in rows) == n_docs


def test_q95_root_reaps_only_day_old_siblings(tmp_path, monkeypatch):
    """A sibling root of another, possibly still running, session survives
    ``_session_root``; only one untouched for more than a day is reaped.
    The streaming queries' roots (q108, q145) follow the same rule."""
    import tempfile
    import types

    from sparkextract.queries.incremental import _ROOT_REAP_AGE_S, _session_root

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId="app-1"))
    for tag in ("q95", "q145"):
        fresh = tmp_path / f"sparkextract_{tag}_fresh"
        stale = tmp_path / f"sparkextract_{tag}_stale"
        for d in (fresh, stale):
            (d / "manifest").mkdir(parents=True)
        old = time.time() - _ROOT_REAP_AGE_S - 60
        os.utime(stale, (old, old))
        root = _session_root(fake, "/data/sf", tag)
        assert root.startswith(str(tmp_path)) and root not in (str(fresh), str(stale))
        assert (fresh / "manifest").is_dir()
        assert not stale.exists()
        # the root in use is touched, so a later session does not reap it
        os.makedirs(root)
        os.utime(root, (old, old))
        assert _session_root(fake, "/data/sf", tag) == root
        assert os.path.getmtime(root) > old + 60


def test_q103_statuses(spark):
    """Bucket 0 docs are added, bucket 1 changed, the rest unchanged;
    needs_extraction covers exactly added+changed."""
    from sparkextract.queries.base import md5_bucket
    from sparkextract.queries.incremental import _SNAPSHOT_BUCKETS, snapshot_diff

    out = snapshot_diff(spark, SF_DIR)
    b = md5_bucket(F.col("doc_id"), _SNAPSHOT_BUCKETS)
    expect = (
        F.when(b == 0, F.lit("added"))
        .when(b == 1, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    checked = out.withColumn("expect", expect).cache()
    assert checked.filter("status != expect").count() == 0
    assert checked.filter(
        "needs_extraction != (status IN ('added', 'changed'))"
    ).count() == 0
    assert {r["status"] for r in checked.select("status").distinct().collect()} == {
        "added", "changed", "unchanged"
    }
    checked.unpersist()


def test_q106_only_changed_docs_extracted(spark):
    """Every output doc is added/changed; unchanged docs are absent; span
    counts obey the passthrough property."""
    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.queries.base import md5_bucket
    from sparkextract.queries.incremental import _SNAPSHOT_BUCKETS

    out = SPARK_QUERIES["q106_incremental_extraction"](spark, SF_DIR)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    joined = out.join(docs.select("doc_id", "n_chars"), "doc_id").withColumn(
        "b", md5_bucket(F.col("doc_id"), _SNAPSHOT_BUCKETS)
    ).cache()
    assert joined.filter("b NOT IN (0, 1)").count() == 0
    assert joined.filter("(b = 0) != (status = 'added')").count() == 0
    expect = F.when(F.col("n_chars") >= 100, 1).otherwise(0) + F.when(
        F.col("doc_id") % 3 == 0, 1
    ).otherwise(0)
    assert joined.filter(F.col("span_count") != expect).count() == 0
    joined.unpersist()


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
