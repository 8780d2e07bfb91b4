"""Tests for the quality query family (``queries/quality.py``):
pure-Python re-implementations of the per-doc scores over the raw
parquet, next to the Spark plan and the DuckDB oracle, and the q132
mojibake mapping and repair."""

import hashlib
import math
from collections import Counter

from conftest import SF_DIR, py_md5_bucket, read_docs


def _py_logit(text):
    from sparkextract.queries.quality import _Q135_BIAS, _Q135_STOP, _Q135_W

    toks = [x for x in text.split(" ") if x != ""]
    n = len(toks)
    if n < 1:
        return None
    f_len = round(math.log(1 + n) * 1e6)
    f_mwl = round(sum(len(x) for x in toks) / n * 1e6)
    f_uniq = round(len(set(toks)) / n * 1e6)
    n_stop = sum(1 for x in toks if x in _Q135_STOP)
    f_stop = round(n_stop / n * 1e6)
    w = _Q135_W
    return (
        w[0] * f_len + w[1] * f_mwl + w[2] * f_uniq + w[3] * f_stop
        + _Q135_BIAS
    )


def test_q135_matches_pure_python(spark):
    from sparkextract.queries.quality import q135_quality_classifier

    rows = {
        r["doc_id"]: r
        for r in q135_quality_classifier(spark, SF_DIR).collect()
    }
    expected = {d: _py_logit(t) for d, t, _l in read_docs("doc_id", "text", "lang")}
    expected = {d: v for d, v in expected.items() if v is not None}
    assert set(rows) == set(expected)
    for d, logit in expected.items():
        assert rows[d]["logit_u"] == logit, d
        assert rows[d]["keep"] == (logit >= 0), d
    keeps = {r["keep"] for r in rows.values()}
    assert keeps == {True, False}  # the bias splits the corpus


def test_q136_matches_pure_python(spark):
    from sparkextract.queries.quality import (
        _Q136_GAMMA_DEN,
        _Q136_Z_FLAG_U,
        q136_watermark_detect,
    )

    rows = {
        r["doc_id"]: r for r in q136_watermark_detect(spark, SF_DIR).collect()
    }
    for d, text, _l in read_docs("doc_id", "text", "lang"):
        toks = [x for x in text.split(" ") if x != ""]
        if len(toks) < 2:
            assert d not in rows
            continue
        bg = [f"{a}|{b}" for a, b in zip(toks, toks[1:])]
        g = sum(1 for x in bg if py_md5_bucket(x, _Q136_GAMMA_DEN) == 0)
        n = len(bg)
        z = round((g - 0.25 * n) / math.sqrt(0.1875 * n) * 1e6)
        r = rows[d]
        assert (r["n_bigrams"], r["n_green"], r["z_u"]) == (n, g, z), d
        assert r["flagged"] == (z >= _Q136_Z_FLAG_U), d


def test_q141_matches_pure_python(spark):
    import re

    from sparkextract.queries.quality import (
        _Q141_SECRET_RE,
        _Q141_SLOPPY_RE,
        q141_secret_scan_eval,
    )

    cm = {"strict": [0, 0, 0], "sloppy": [0, 0, 0]}
    for d, text, _l in read_docs("doc_id", "text", "lang"):
        t = text
        if d % 11 == 0:
            t += " key sk-" + hashlib.md5(str(d).encode()).hexdigest()
        if d % 9 == 0:
            t += " id sk-" + hashlib.md5(f"x{d}".encode()).hexdigest()[:8]
        truth = d % 11 == 0
        for name, rx in (("strict", _Q141_SECRET_RE), ("sloppy", _Q141_SLOPPY_RE)):
            det = re.search(rx, t) is not None
            if det and truth:
                cm[name][0] += 1
            elif det:
                cm[name][1] += 1
            elif truth:
                cm[name][2] += 1
    rows = {r["detector"]: r for r in q141_secret_scan_eval(spark, SF_DIR).collect()}
    for name, (tp, fp, fn) in cm.items():
        r = rows[name]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn), name
    # the strict detector is perfect on injected truth; sloppy pays fp
    assert rows["strict"]["fp"] == 0 and rows["strict"]["fn"] == 0
    assert rows["sloppy"]["fp"] > 0
    assert rows["sloppy"]["recall_u"] == 1_000_000


def test_q189_matches_python_kneser_ney(spark):
    from sparkextract.queries.quality import _Q189_D, q189_kneser_ney_lm

    rows = {r["doc_id"]: r for r in q189_kneser_ney_lm(spark, SF_DIR).collect()}
    doc_bigrams: dict[int, list] = {}
    big = Counter()
    for d in read_docs("doc_id", "text"):
        w = [t for t in d["text"].split(" ") if t]
        bgs = list(zip(w, w[1:]))
        if bgs:
            doc_bigrams[d["doc_id"]] = bgs
            big.update(bgs)
    c_a = Counter()
    n1f = Counter()
    n1r = Counter()
    for (a, b), c in big.items():
        c_a[a] += c
        n1f[a] += 1
        n1r[b] += 1
    n_types = len(big)
    assert set(rows) == set(doc_bigrams)
    for doc_id, bgs in doc_bigrams.items():
        s = 0
        for a, b in bgs:
            p = (big[(a, b)] - _Q189_D) / c_a[a] + (
                _Q189_D * n1f[a] / c_a[a]
            ) * (n1r[b] / n_types)
            assert 0.0 < p <= 1.0
            s += round(math.log(p), 9)
        xent = round(-s / len(bgs), 6)
        r = rows[doc_id]
        assert r["n_bigrams"] == len(bgs)
        assert abs(r["xent"] - xent) < 1e-9


def test_q189_kn_probabilities_normalize(spark):
    """For each context a, sum_b P(b|a) == 1 exactly in the KN algebra
    (the discount mass redistributed via continuation counts): checked
    in Python over the corpus-trained LM."""
    big = Counter()
    for d in read_docs("doc_id", "text"):
        w = [t for t in d["text"].split(" ") if t]
        big.update(zip(w, w[1:]))
    from sparkextract.queries.quality import _Q189_D

    c_a = Counter()
    n1f = Counter()
    n1r = Counter()
    for (a, b), c in big.items():
        c_a[a] += c
        n1f[a] += 1
        n1r[b] += 1
    n_types = len(big)
    pcont_total = sum(n1r.values()) / n_types  # == 1 by construction? no:
    # sum_b n1r[b] == n_types, so sum_b Pcont(b) == 1 exactly
    assert abs(pcont_total - 1.0) < 1e-12
    # pick the 5 highest-frequency contexts and check normalization over
    # SEEN continuations + the continuation distribution over unseen ones
    for a, _ in c_a.most_common(5):
        seen_mass = sum(
            (big[(a, b)] - _Q189_D) / c_a[a]
            for (aa, b) in big
            if aa == a
        )
        backoff_w = _Q189_D * n1f[a] / c_a[a]
        # full sum over ALL b of the interpolated term = backoff_w * 1
        total = seen_mass + backoff_w
        assert abs(total - 1.0) < 1e-9


def test_q130_entropy_matches_python(spark):
    """Independent per-doc Shannon entropy (direct -sum p ln p form,
    NOT the ln(n) - S/n identity the query uses) over the raw parquet."""
    import math
    from collections import Counter

    from sparkextract.queries.quality import _Q130_LOW_ENTROPY, q130_token_entropy

    expected = {}
    for doc_id, text in read_docs("doc_id", "text"):
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

    from sparkextract.queries.quality import (
        _Q132_BAD_BUCKET,
        _Q132_BUCKETS,
        q132_encoding_repair,
    )

    docs = dict(read_docs("doc_id", "text"))
    rows = q132_encoding_repair(spark, SF_DIR).collect()
    assert len(rows) == len(docs)
    flagged = 0
    for r in rows:
        text = docs[r["doc_id"]]
        bucket = py_md5_bucket(str(r["doc_id"]), _Q132_BUCKETS)
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
