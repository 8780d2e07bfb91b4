"""Tests for the dedup query family (``queries/dedup.py``): pure-Python
re-implementations next to the Spark plan and the DuckDB oracle, a hot
shingle on a constructed corpus, the q94/q96/q99 semantics, the q96/q99
hot-key corpora, the q110 SemDeDup ledger and the bigram guard of the
48-bit simhash."""

import os
from collections import Counter

from pyspark.sql import functions as F

from conftest import SF_DIR, py_md5_bucket, read_docs, write_docs


def test_q139_matches_pure_python(spark):
    """Blocked candidate mining equals the brute-force O(N^2) reference
    restricted to pairs sharing a rare 5-gram (pure Python)."""
    from sparkextract.queries.dedup import (
        _Q139_DF_HI,
        _Q139_DF_LO,
        _Q139_K,
        q139_bitext_candidates,
    )

    docs = read_docs("doc_id", "text", "lang")
    grams = {}
    toksets = {}
    langs = {}
    for d, text, lang in docs:
        toks = [x for x in text.split(" ") if x != ""]
        toksets[d] = set(toks)
        langs[d] = lang
        gs = {
            "|".join(toks[i : i + _Q139_K])
            for i in range(len(toks) - _Q139_K + 1)
        }
        grams[d] = gs
    df = {}
    for gs in grams.values():
        for g in gs:
            df[g] = df.get(g, 0) + 1
    rare = {g for g, c in df.items() if _Q139_DF_LO <= c <= _Q139_DF_HI}
    expected = {}
    for a in docs:
        if langs[a[0]] != "en":
            continue
        for b in docs:
            if langs[b[0]] == "en":
                continue
            shared = grams[a[0]] & grams[b[0]] & rare
            if shared:
                inter = len(toksets[a[0]] & toksets[b[0]])
                uni = len(toksets[a[0]] | toksets[b[0]])
                expected[(a[0], b[0])] = (
                    len(shared),
                    round(inter * 1e6 / uni),
                )
    rows = {
        (r["left_id"], r["right_id"]): (r["n_shared_keys"], r["jaccard_u"])
        for r in q139_bitext_candidates(spark, SF_DIR).collect()
    }
    assert rows == expected
    assert len(rows) > 0  # the blocking keys produce candidates at test SF


def test_q139_df_cap_excludes_hot_shingle(spark, tmp_path):
    """A boilerplate 5-gram present in half the corpus must be excluded
    by the df cap: candidates stay bounded by the rare keys only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkextract.queries.dedup import _Q139_DF_HI, q139_bitext_candidates

    n = 120
    hot = "one two three four five"  # shared 5-gram in half the docs
    rows = []
    for d in range(n):
        lang = "en" if d % 2 == 0 else "fr"
        body = f"tok{d}a tok{d}b tok{d}c tok{d}d tok{d}e tok{d}f"
        text = (hot + " " + body) if d % 2 == 0 or d % 3 == 0 else body
        rows.append((d, text, lang, "src0", len(text)))
    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array([r[2] for r in rows]),
            "source": pa.array([r[3] for r in rows]),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    sf = str(tmp_path / "hotshingle")
    os.makedirs(sf)
    pq.write_table(t, os.path.join(sf, "documents.parquet"))
    got = q139_bitext_candidates(spark, sf).collect()
    # the hot shingle's df (>> cap) excludes it as a blocking key; the
    # per-doc body shingles are unique (df=1, below the lo bound), so no
    # candidate survives at all — without the cap the hot key alone
    # would generate ~n^2/4 en-x-fr pairs
    hot_df = sum(1 for d in range(n) if d % 2 == 0 or d % 3 == 0)
    assert hot_df > _Q139_DF_HI
    assert got == []


def _cdc_chunks(tokens):
    """Pure-Python twin of q154's boundary rule: cut AFTER token i iff
    md5_bucket(lag2 || ' ' || lag1 || ' ' || tok, 4) == 0."""
    out, cur = [], []
    for i, tok in enumerate(tokens):
        cur.append(tok)
        lag1 = tokens[i - 1] if i >= 1 else ""
        lag2 = tokens[i - 2] if i >= 2 else ""
        if py_md5_bucket(f"{lag2} {lag1} {tok}", 4) == 0:
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
    docs = read_docs("doc_id", "text", "lang", "n_chars")
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


def test_q159_weight_identity_and_mass_conservation(spark):
    from sparkextract.queries.dedup import q159_soft_dedup_weights

    rows = q159_soft_dedup_weights(spark, SF_DIR).collect()
    docs = list(read_docs("doc_id", "text", "source"))
    docs += [
        (d + 4_000_000, t, "mirror") for d, t, _ in docs if d % 10 == 0
    ]
    clusters = Counter(t for _, t, _ in docs)
    exp = {}
    for _, text, source in docs:
        c = clusters[text]
        n_tok = len(text.split(" "))
        n, nd, raw, eff = exp.get(source, (0, 0, 0, 0))
        exp[source] = (
            n + 1,
            nd + (1 if c > 1 else 0),
            raw + n_tok,
            eff + n_tok * (1_000_000 // c),
        )
    got = {
        r["source"]: (
            r["n_docs"],
            r["n_dup_docs"],
            r["raw_tokens"],
            r["eff_tokens_u"],
        )
        for r in rows
    }
    assert got == exp
    # a cluster of size c contributes <= its raw mass; the injected
    # mirror source is 100% duplicated (every row in a size-2 cluster)
    assert all(e <= r * 1_000_000 for _, _, r, e in got.values())
    m = got["mirror"]
    assert m[1] == m[0] and m[0] > 0
    assert m[3] == m[2] * 500_000  # 1e6 div 2 on every mirror token


def _snm_pairs(docs, key_fn, blk_fn):
    from collections import defaultdict

    blocks = defaultdict(list)
    for d in docs:
        blocks[blk_fn(d["text"])].append((key_fn(d["text"]), d["doc_id"]))
    pairs = set()
    for rows in blocks.values():
        rows.sort()
        for i, (_, a) in enumerate(rows):
            for _, b in rows[i + 1 : i + 3]:
                pairs.add((min(a, b), max(a, b)))
    return pairs


def test_q194_matches_python_snm(spark):
    from sparkextract.queries.dedup import _Q194_MIN_JAC_U, q194_sorted_neighborhood

    rows = {
        (r["left_id"], r["right_id"]): r
        for r in q194_sorted_neighborhood(spark, SF_DIR).collect()
    }
    docs = read_docs("doc_id", "text", "n_chars")
    cand = _snm_pairs(docs, lambda t: t[:24], lambda t: t[:4]) | _snm_pairs(
        docs, lambda t: t[:24][::-1], lambda t: t[:24][::-1][:4]
    )
    sets = {d["doc_id"]: set(t for t in d["text"].split(" ") if t) for d in docs}
    expected = {}
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        jac_u = (1000000 * inter) // union
        if jac_u >= _Q194_MIN_JAC_U:
            expected[(a, b)] = (inter, union, jac_u)
    assert set(rows) == set(expected)
    for key, (inter, union, jac_u) in expected.items():
        r = rows[key]
        assert (r["n_common"], r["n_union"], r["jac_u"]) == (inter, union, jac_u)


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


def test_simhash_bigrams_spaceless_doc(spark):
    # ADVICE r2: a doc with no space used to hit sequence(1, 0) == [1, 0]
    # and abort on element_at(w, 0); now it simply has no bigrams and is
    # absent from the signature set (matching DuckDB's empty range(1,1))
    from sparkextract.queries.dedup import _simhash48_col

    docs = spark.createDataFrame(
        [(1, "spaceless"), (2, ""), (3, "two words here")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in _simhash48_col(docs).collect()}
    assert set(sigs) == {3}
    assert isinstance(sigs[3], int)


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
    write_docs(spark, rows, root)
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
    write_docs(spark, rows, root)
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
