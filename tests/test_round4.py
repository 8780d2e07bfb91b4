"""Semantic tests for the round-4 operators (queries/round4.py):
n-gram decontamination, citation assembly, query expansion, the
end-to-end corpus-clean composition, and the driver-visible manifest
crash+resume state. The oracle gate checks value equality vs DuckDB;
these tests pin the SEMANTICS (what the numbers mean) on the sf0.001
corpus and on tiny synthetic frames."""

import os
import time

import pytest
from pyspark.sql import functions as F

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r4-tests", master="local[4]", shuffle_partitions=8)
    yield s


def test_kgram_hashes_short_doc_and_overlap(spark):
    """Docs shorter than k yield no k-grams; identical texts yield the
    identical distinct k-gram key set."""
    from sparkextract.queries.sketches import _Q91_K, _kgram_hashes

    long_text = " ".join(f"w{i % 7}" for i in range(_Q91_K + 5))
    rows = [
        (1, "too short"),
        (2, long_text),
        (3, long_text),
        (4, " ".join(["x"] * _Q91_K)),  # exactly k tokens -> exactly 1 k-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kh = _kgram_hashes(df, _Q91_K)
    got = {
        r["doc_id"]: r["n"]
        for r in kh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert 1 not in got
    assert got[4] == 1
    assert got[2] == got[3] > 0
    a = {r["kh"] for r in kh.filter("doc_id = 2").collect()}
    b = {r["kh"] for r in kh.filter("doc_id = 3").collect()}
    assert a == b


def test_q91_injected_copies_are_contaminated(spark):
    """Every injected verbatim eval copy (doc_id >= 3,000,000) with at
    least one k-gram must score contam_frac 1.0 and keep=False; natural
    corpus docs are overwhelmingly kept."""
    from sparkextract.queries.registry import SPARK_QUERIES

    out = SPARK_QUERIES["q91_ngram_decontamination"](spark, SF_DIR).cache()
    injected = out.filter("doc_id >= 3000000")
    n_inj = injected.count()
    assert n_inj > 0
    bad = injected.filter("contam_frac < 1.0 OR keep").count()
    assert bad == 0
    natural = out.filter("doc_id < 3000000")
    kept_frac = natural.filter("keep").count() / natural.count()
    assert kept_frac > 0.5
    out.unpersist()


def test_q92_citation_format_consistent(spark):
    """cite_index is contiguous from 1 ordered by similarity desc, and the
    rendered citation string agrees with the typed fields."""
    from sparkextract.queries.registry import SPARK_QUERIES

    rows = SPARK_QUERIES["q92_citation_assembly"](spark, SF_DIR).collect()
    assert rows
    by_idx = sorted(rows, key=lambda r: r["cite_index"])
    assert [r["cite_index"] for r in by_idx] == list(range(1, len(rows) + 1))
    sims = [r["similarity_score"] for r in by_idx]
    assert sims == sorted(sims, reverse=True)
    for r in rows:
        expect = (
            f"Source {r['cite_index']} ({r['filename']}, "
            f"Page {r['page_number']}, {r['content_type']})"
        )
        assert r["citation"] == expect
        assert 0.0 <= r["confidence_score"] <= 1.0


def test_q93_expansion_shape(spark):
    """Variant 0 is the original query; every expansion appends exactly
    one non-query token and carries positive co-occurrence support."""
    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.queries.retrieval import _Q93_QUERY, _Q93_TOPK

    rows = SPARK_QUERIES["q93_query_expansion"](spark, SF_DIR).collect()
    originals = [r for r in rows if r["variant_rank"] == 0]
    assert len(originals) == 1 and originals[0]["expanded_query"] == _Q93_QUERY
    terms = set(_Q93_QUERY.split(" "))
    for r in rows:
        if r["variant_rank"] == 0:
            continue
        assert 1 <= r["variant_rank"] <= _Q93_TOPK
        assert r["base_term"] in terms
        assert r["added_token"] not in terms
        assert r["expanded_query"] == f"{_Q93_QUERY} {r['added_token']}"
        assert r["df_ab"] > 0


def test_q94_stage_semantics(spark):
    """Injected near-dups lose to their originals; quality drops carry no
    survivor; every kept doc is its own survivor."""
    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.queries.quality import _Q94_MIN_TOKENS

    out = SPARK_QUERIES["q94_corpus_clean_pipeline"](spark, SF_DIR).cache()
    # quality gate: stage agrees with the token count, survivor NULL
    assert out.filter(
        f"(n_tokens < {_Q94_MIN_TOKENS}) != (stage = 'dropped_quality')"
    ).count() == 0
    assert out.filter(
        "stage = 'dropped_quality' AND survivor_id IS NOT NULL"
    ).count() == 0
    # kept docs survive as themselves
    assert out.filter("stage = 'kept' AND survivor_id != doc_id").count() == 0
    # injected near-dups (doc_id >= 2,000,000) that pass quality: a 10-char
    # prefix rewrite keeps LONG docs within the simhash radius but can push
    # very short ones past it (the banded join is radius-5 lossless, not a
    # semantic guarantee for arbitrary edits), so require a detected
    # MAJORITY — and every detected one must lose to its verbatim original
    inj = out.filter(f"doc_id >= 2000000 AND n_tokens >= {_Q94_MIN_TOKENS}")
    n_inj = inj.count()
    assert n_inj > 0
    dropped = inj.filter("stage = 'dropped_dup'")
    n_drop = dropped.count()
    assert n_drop > n_inj * 0.5
    # min-label components: a survivor is always a strictly smaller id; it
    # is the verbatim original unless the original itself sits in a larger
    # transitive cluster, so require exact-original for the majority only
    assert dropped.filter("survivor_id >= doc_id").count() == 0
    exact = dropped.filter("survivor_id = doc_id - 2000000").count()
    assert exact > n_drop * 0.5
    out.unpersist()


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


def test_q96_block_dedup_first_writer_wins(spark):
    """A block's first occurrence (by doc_id, block_idx) is kept and every
    later occurrence dropped; a fully-unique doc keeps everything and its
    kept_text_md5 equals the md5 of its block-joined text."""
    from sparkextract.queries.registry import SPARK_QUERIES

    out = SPARK_QUERIES["q96_block_dedup"](spark, SF_DIR).cache()
    rows = out.collect()
    # n_kept == 0 is legal: a doc whose every block appeared earlier
    assert rows and all(0 <= r["n_kept"] <= r["n_blocks"] for r in rows)
    # corpus-wide: with a ~31-token vocabulary 8-token blocks collide, so
    # SOME dedup must happen, but doc 0 (first writer for all its blocks
    # unless it self-repeats) keeps its first block at minimum
    assert any(r["n_kept"] < r["n_blocks"] for r in rows)
    d0 = [r for r in rows if r["doc_id"] == 0][0]
    assert d0["n_kept"] >= 1
    out.unpersist()


def test_q96_oracle_tiny(spark):
    """3-doc frame with a verbatim duplicate: the copy keeps nothing, the
    original keeps all."""
    import duckdb

    from sparkextract.queries.dedup import _Q96_ORACLE

    t = " ".join(f"tok{i}" for i in range(20))
    rows = [(1, t), (2, t), (3, "short unique words only here")]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{s}')" for i, s in rows)
        + ") AS t(doc_id, text)"
    )
    got = {
        r[0]: (r[1], r[2]) for r in con.execute(_Q96_ORACLE).fetchall()
    }
    assert got[1][1] == got[1][0]  # original keeps all blocks
    assert got[2][1] == 0  # verbatim copy keeps none
    assert got[3][1] == got[3][0]


def test_q97_redaction_counts(spark):
    """Injected docs carry exactly the injected PII; uninjected docs have
    none; redacted text never contains an email/phone shape."""
    from sparkextract.queries.registry import SPARK_QUERIES

    out = SPARK_QUERIES["q97_pii_redaction"](spark, SF_DIR).cache()
    assert out.filter("doc_id % 7 = 0 AND n_emails != 1").count() == 0
    assert out.filter("doc_id % 7 != 0 AND n_emails != 0").count() == 0
    assert out.filter("doc_id % 13 = 0 AND n_phones != 1").count() == 0
    assert out.filter("doc_id % 13 != 0 AND n_phones != 0").count() == 0
    assert out.filter("has_pii != (n_emails + n_phones > 0)").count() == 0
    out.unpersist()


def test_q98_blocklist_applied(spark):
    """Blocked domains (md5 bucket 0) are absent; surviving stats are
    internally consistent."""
    import hashlib

    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.queries.relational import _Q98_BLOCK_BUCKETS, _Q98_DOMAINS

    rows = SPARK_QUERIES["q98_domain_rollup"](spark, SF_DIR).collect()
    assert rows
    blocked = {
        f"site{i}.example.com"
        for i in range(_Q98_DOMAINS)
        if int(hashlib.md5(f"site{i}.example.com".encode()).hexdigest()[:8], 16)
        % _Q98_BLOCK_BUCKETS
        == 0
    }
    assert blocked  # the rule must actually block something
    got = {r["domain"] for r in rows}
    assert not (got & blocked)
    assert len(got) + len(blocked) == _Q98_DOMAINS
    for r in rows:
        assert r["total_chars"] >= r["n_docs"] >= 1
        assert abs(r["mean_chars"] - r["total_chars"] / r["n_docs"]) < 1e-4


def test_q99_verbatim_pair_fully_duplicated(spark):
    """Two identical long docs are 100% duplicated windows; a unique-vocab
    doc has zero."""
    from sparkextract.queries.dedup import _Q99_K
    from sparkextract.queries.sketches import _kgram_hashes

    t = " ".join(f"w{i}" for i in range(_Q99_K + 10))
    u = " ".join(f"zq{i}" for i in range(_Q99_K + 5))
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, u)], "doc_id long, text string"
    )
    wk = _kgram_hashes(df, _Q99_K)
    cnt = wk.groupBy("kh").count()
    j = wk.join(cnt, "kh").groupBy("doc_id").agg(
        F.sum(F.when(F.col("count") >= 2, 1).otherwise(0)).alias("dup"),
        F.count("*").alias("n"),
    )
    got = {r["doc_id"]: (r["dup"], r["n"]) for r in j.collect()}
    assert got[1][0] == got[1][1] > 0
    assert got[2][0] == got[2][1]
    assert got[3][0] == 0


def test_q100_packing_invariants(spark):
    """Per shard: start positions tile the stream exactly (sum of tokens ==
    max end), windows are consistent with CTX, ordering is size-desc."""
    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.queries.text import _Q100_CTX

    out = SPARK_QUERIES["q100_sequence_packing"](spark, SF_DIR).collect()
    assert out
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["start_pos"])
        pos = 0
        prev_tokens = None
        for r in rs:
            assert r["start_pos"] == pos
            pos += r["n_tokens"]
            assert r["first_window"] == r["start_pos"] // _Q100_CTX
            assert r["last_window"] == (pos - 1) // _Q100_CTX
            assert r["n_windows"] == r["last_window"] - r["first_window"] + 1
            if prev_tokens is not None:
                assert r["n_tokens"] <= prev_tokens
            prev_tokens = r["n_tokens"]


def test_q101_clusters_never_split(spark):
    """Every member of a near-dup cluster lands in the same split, and the
    split of a singleton is its own md5 bucket."""
    from sparkextract.queries.registry import SPARK_QUERIES

    out = SPARK_QUERIES["q101_leakage_safe_split"](spark, SF_DIR).cache()
    n_bad = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter("k > 1")
        .count()
    )
    assert n_bad == 0
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    assert "train" in splits
    # clustered points exist on this corpus (q53's LSH finds near-dups)
    assert out.filter("in_cluster").count() > 0
    out.unpersist()


def test_q102_quantization_fidelity(spark):
    """Quantized cosine tracks exact cosine within the int8 error budget,
    and a constant vector dequantizes to itself."""
    from sparkextract.queries.registry import SPARK_QUERIES
    from sparkextract.queries.ann import _q102_deq_col

    rows = SPARK_QUERIES["q102_int8_quantization"](spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert abs(r["cos_quant"] - r["cos_exact"]) < 0.05
    # constant vector: scale==0 path returns the constant itself
    df = spark.createDataFrame(
        [(1, [2.5] * 4)], "vec_id long, embedding array<float>"
    )
    got = df.select(_q102_deq_col().alias("d")).collect()[0]["d"]
    assert got == [2.5] * 4


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


def test_q104_bloom_no_false_negatives(spark):
    """Every exact hit is bloom-positive (zero false negatives — the
    Bloom contract); injected verbatim eval copies are 100% exact;
    false positives stay under a few percent at the sized m/n."""
    from sparkextract.queries.registry import SPARK_QUERIES

    out = SPARK_QUERIES["q104_bloom_filter_probe"](spark, SF_DIR).cache()
    assert out.filter("n_bloom < n_exact").count() == 0
    assert out.filter("n_false_pos != n_bloom - n_exact").count() == 0
    inj = out.filter("doc_id >= 3000000")
    assert inj.count() > 0
    assert inj.filter("n_exact != n_kgrams").count() == 0
    tot = out.agg(
        F.sum("n_kgrams").alias("k"), F.sum("n_false_pos").alias("fp")
    ).collect()[0]
    assert tot["fp"] / tot["k"] < 0.05
    out.unpersist()


def test_q105_two_level_equals_global_order(spark):
    """global_pos is a permutation of 0..N-1, shard boundaries respect the
    global order (shard is a prefix of the order key), and the order is
    reproducible run-to-run."""
    from sparkextract.queries.registry import SPARK_QUERIES

    rows = SPARK_QUERIES["q105_deterministic_shuffle"](spark, SF_DIR).collect()
    n = len(rows)
    assert sorted(r["global_pos"] for r in rows) == list(range(n))
    by_pos = sorted(rows, key=lambda r: r["global_pos"])
    shards = [r["shard"] for r in by_pos]
    assert shards == sorted(shards)  # shard never decreases along the order
    again = SPARK_QUERIES["q105_deterministic_shuffle"](spark, SF_DIR).collect()
    assert {r["doc_id"]: r["global_pos"] for r in rows} == {
        r["doc_id"]: r["global_pos"] for r in again
    }


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


def test_q107_recall_bounds(spark):
    """Candidates are a subset of truth (q53 post-verifies with the exact
    cosine filter, so precision is 1.0 by construction); recall is high
    on the injected twins and within [0, 1]."""
    from sparkextract.queries.registry import SPARK_QUERIES

    r = SPARK_QUERIES["q107_lsh_recall_eval"](spark, SF_DIR).collect()[0]
    assert r["n_truth"] > 0
    assert r["n_hit"] <= min(r["n_truth"], r["n_candidates"])
    assert r["precision"] == 1.0
    assert 0.0 <= r["recall"] <= 1.0
    assert r["recall"] > 0.5
