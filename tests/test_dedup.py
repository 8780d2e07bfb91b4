"""Tests for the dedup query family (``queries/dedup.py``): pure-Python
re-implementations next to the Spark plan and the DuckDB oracle, and a
hot shingle on a constructed corpus."""

import os
from collections import Counter

from conftest import SF_DIR, py_md5_bucket, read_docs


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
