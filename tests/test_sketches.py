"""Tests for the sketches query family (``queries/sketches.py``):
pure-Python re-derivations of the cuckoo, Misra-Gries and KMV
sketches, the k-gram keys, q91 contamination and the q104 Bloom probe."""

import hashlib
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from conftest import SF_DIR, py_md5_bucket, read_docs


def _kgrams(text: str, k: int):
    a = [t for t in text.split(" ") if t]
    return {
        hashlib.md5(" ".join(a[i : i + k]).encode()).hexdigest()
        for i in range(len(a) - k + 1)
    }


def test_q198_matches_python_cuckoo(spark):
    from sparkextract.queries.sketches import (
        _EVAL_BUCKETS,
        _Q198_FPBITS,
        _Q198_K,
        _Q198_M,
        q198_cuckoo_filter_probe,
    )

    def fp(kh):
        return py_md5_bucket(kh + ":fp", (1 << _Q198_FPBITS) - 1) + 1

    def i1(kh):
        return py_md5_bucket(kh + ":b", _Q198_M)

    def i2(kh):
        return i1(kh) ^ py_md5_bucket(str(fp(kh)) + ":h", _Q198_M)

    docs = read_docs("doc_id", "text")
    eval_docs = [d for d in docs if py_md5_bucket(str(d["doc_id"]), _EVAL_BUCKETS) == 0]
    rest = [d for d in docs if py_md5_bucket(str(d["doc_id"]), _EVAL_BUCKETS) != 0]
    ekh = set()
    for d in eval_docs:
        ekh |= _kgrams(d["text"], _Q198_K)
    filt = {(i1(kh), fp(kh)) for kh in ekh} | {(i2(kh), fp(kh)) for kh in ekh}
    # partial-key property: i2 is recoverable from (i1, fp) alone
    for kh in list(ekh)[:50]:
        assert i2(kh) == i1(kh) ^ py_md5_bucket(str(fp(kh)) + ":h", _Q198_M)
        assert 0 <= i2(kh) < _Q198_M

    corpus = [(d["doc_id"], d["text"]) for d in rest] + [
        (d["doc_id"] + 3000000, d["text"]) for d in eval_docs
    ]
    rows = {r["doc_id"]: r for r in q198_cuckoo_filter_probe(spark, SF_DIR).collect()}
    expected_ids = {doc_id for doc_id, text in corpus if _kgrams(text, _Q198_K)}
    assert set(rows) == expected_ids
    total_fp = 0
    for doc_id, text in corpus:
        khs = _kgrams(text, _Q198_K)
        if not khs:
            continue
        n_cuckoo = sum(
            1 for kh in khs if (i1(kh), fp(kh)) in filt or (i2(kh), fp(kh)) in filt
        )
        n_exact = sum(1 for kh in khs if kh in ekh)
        r = rows[doc_id]
        assert r["n_kgrams"] == len(khs)
        assert r["n_cuckoo"] == n_cuckoo
        assert r["n_exact"] == n_exact
        assert r["n_false_pos"] == n_cuckoo - sum(
            1
            for kh in khs
            if kh in ekh and ((i1(kh), fp(kh)) in filt or (i2(kh), fp(kh)) in filt)
        )
        # no false negatives, ever
        assert n_cuckoo >= n_exact
        total_fp += r["n_false_pos"]
    # injected verbatim copies are fully caught
    for d in eval_docs:
        khs = _kgrams(d["text"], _Q198_K)
        if khs:
            assert rows[d["doc_id"] + 3000000]["n_exact"] == len(khs)


def _mg_compress(counts, k):
    """Agarwal et al. 2012 merge-rule compression: keep the k largest
    (count desc, token asc), subtract the (k+1)-th largest, drop <= 0."""
    ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    off = ranked[k][1] if len(ranked) > k else 0
    return {t: c - off for t, c in ranked[:k] if c - off > 0}, off


def test_q179_matches_python_mg_and_bound_holds(spark):
    from sparkextract.queries.sketches import (
        _Q179_K,
        _Q179_P,
        q179_misra_gries_heavy_hitters,
    )

    rows = {
        r["token"]: r
        for r in q179_misra_gries_heavy_hitters(spark, SF_DIR).collect()
    }
    docs = read_docs("doc_id", "text")
    part = defaultdict(Counter)
    exact = Counter()
    for r in docs:
        pid = py_md5_bucket(str(r["doc_id"]), _Q179_P)
        for t in r["text"].split(" "):
            if t:
                part[pid][t] += 1
                exact[t] += 1
    merged = Counter()
    total_off = 0
    for pid, counts in part.items():
        summ, off = _mg_compress(counts, _Q179_K)
        total_off += off
        for t, c in summ.items():
            merged[t] += c
    final, moff = _mg_compress(merged, _Q179_K)
    bound = total_off + moff
    assert set(rows) == set(final)
    for t, est in final.items():
        r = rows[t]
        assert r["est"] == est
        assert r["exact"] == exact[t]
        assert r["err"] == exact[t] - est
        assert r["bound"] == bound
        # the mergeable-summaries guarantee, row by row
        assert r["within_bound"] and est <= exact[t] <= est + bound


def test_q196_matches_python_kmv(spark):
    from sparkextract.queries.sketches import _Q196_K, _Q196_MAXH, q196_kmv_theta_sketch

    rows = {r["part"]: r for r in q196_kmv_theta_sketch(spark, SF_DIR).collect()}
    assert set(rows) == {"half0", "half1", "intersection"}
    universe = {0: set(), 1: set()}
    for d in read_docs("doc_id", "text"):
        h = py_md5_bucket(str(d["doc_id"]), 2)
        universe[h].update(t for t in d["text"].split(" ") if t)
    hashes = {
        h: sorted(
            {int(hashlib.md5(t.encode()).hexdigest()[:12], 16) for t in universe[h]}
        )
        for h in (0, 1)
    }
    sketches = {h: hashes[h][:_Q196_K] for h in (0, 1)}
    kth = {h: max(sketches[h]) for h in (0, 1)}
    for h in (0, 1):
        r = rows[f"half{h}"]
        assert r["n_exact"] == len(hashes[h])
        assert r["k_eff"] == len(sketches[h])
        assert r["kth_min"] == kth[h]
        est = (len(sketches[h]) - 1) * float(_Q196_MAXH) / kth[h]
        assert abs(r["est"] - round(est, 6)) < 1e-6
        # the estimate should be in the right ballpark (within 50%)
        assert 0.5 * len(hashes[h]) < r["est"] < 1.5 * len(hashes[h])
    th = min(kth.values())
    inter_k = len(
        {x for x in sketches[0] if x < th} & {x for x in sketches[1] if x < th}
    )
    r = rows["intersection"]
    assert r["kth_min"] == th
    assert r["k_eff"] == inter_k
    assert r["n_exact"] == len(set(hashes[0]) & set(hashes[1]))
    assert abs(r["est"] - round(inter_k * float(_Q196_MAXH) / th, 6)) < 1e-6


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
