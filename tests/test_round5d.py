"""q135, q136 (classifier inference, watermark detection), q139, q141
and q145: structural invariants plus an independent pure-Python
re-implementation over the raw parquet — a third implementation next
to the Spark plan and the DuckDB oracle, guarding the semantics
themselves (feature formulas, green-list PRF)."""

import hashlib
import math
import os

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5d-tests", master="local[4]")
    yield s


def _docs(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("lang").to_pylist(),
        )
    )


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


def _md5_bucket(s, n):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n


def test_q135_matches_pure_python(spark):
    from sparkextract.queries.quality import q135_quality_classifier

    rows = {
        r["doc_id"]: r
        for r in q135_quality_classifier(spark, SF_DIR).collect()
    }
    expected = {d: _py_logit(t) for d, t, _l in _docs(SF_DIR)}
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
    for d, text, _l in _docs(SF_DIR):
        toks = [x for x in text.split(" ") if x != ""]
        if len(toks) < 2:
            assert d not in rows
            continue
        bg = [f"{a}|{b}" for a, b in zip(toks, toks[1:])]
        g = sum(1 for x in bg if _md5_bucket(x, _Q136_GAMMA_DEN) == 0)
        n = len(bg)
        z = round((g - 0.25 * n) / math.sqrt(0.1875 * n) * 1e6)
        r = rows[d]
        assert (r["n_bigrams"], r["n_green"], r["z_u"]) == (n, g, z), d
        assert r["flagged"] == (z >= _Q136_Z_FLAG_U), d


def test_q139_matches_pure_python(spark):
    """Blocked candidate mining equals the brute-force O(N^2) reference
    restricted to pairs sharing a rare 5-gram (pure Python)."""
    from sparkextract.queries.dedup import (
        _Q139_DF_HI,
        _Q139_DF_LO,
        _Q139_K,
        q139_bitext_candidates,
    )

    docs = _docs(SF_DIR)
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


def test_q141_matches_pure_python(spark):
    import re

    from sparkextract.queries.quality import (
        _Q141_SECRET_RE,
        _Q141_SLOPPY_RE,
        q141_secret_scan_eval,
    )

    cm = {"strict": [0, 0, 0], "sloppy": [0, 0, 0]}
    for d, text, _l in _docs(SF_DIR):
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


def test_q145_matches_pure_python(spark):
    """Committed streaming-dedup sink equals first-writer-wins over the
    base-then-clones arrival order (pure Python)."""
    from sparkextract.queries.incremental import q145_streaming_stateful_dedup

    expected = {}
    for d, text, _l in _docs(SF_DIR):
        h = hashlib.md5(text.encode()).hexdigest()
        if h not in expected or d < expected[h][0]:
            expected[h] = (d, len(text))
    # clones (doc_id % 5 -> +1M, same text) arrive in drain 2: suppressed
    rows = {
        r["content_hash"]: (int(r["doc_id"]), r["first_len"])
        for r in q145_streaming_stateful_dedup(spark, SF_DIR).collect()
    }
    assert rows == expected


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
