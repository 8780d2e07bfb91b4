"""q151-q153 (Cohen's kappa, neighborhood quality propagation, Kendall
tau-a): structural invariants plus independent pure-Python
re-implementations over the raw parquet — guarding the semantics
(kappa integer identity, 1-hop message passing, tau pair counting)
next to the Spark plan and the DuckDB oracle."""

import hashlib
import math
import os

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5f-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _docs(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("lang").to_pylist(),
            t.column("source").to_pylist(),
        )
    )


def _round_half_up(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _logit_u(text):
    from sparkextract.queries.quality import _Q135_BIAS, _Q135_STOP, _Q135_W

    toks = [x for x in text.split(" ") if x != ""]
    n = len(toks)
    if n < 1:
        return None
    return (
        _Q135_W[0] * round(math.log(1 + n) * 1e6)
        + _Q135_W[1] * round(sum(len(x) for x in toks) / n * 1e6)
        + _Q135_W[2] * round(len(set(toks)) / n * 1e6)
        + _Q135_W[3] * round(sum(1 for x in toks if x in _Q135_STOP) / n * 1e6)
        + _Q135_BIAS
    )


def _entropy(text):
    toks = [x for x in text.split(" ") if x != ""]
    if not toks:
        return None
    n = len(toks)
    counts = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    s = sum(round(c * math.log(c), 9) for c in counts.values())
    return round(math.log(n) - s / n, 6)


def test_q151_matches_pure_python(spark):
    from sparkextract.queries.quality import _Q130_LOW_ENTROPY
    from sparkextract.queries.stats import q151_detector_kappa

    n = a1 = b1 = n11 = 0
    for _id, text, _lang, _src in _docs(SF_DIR):
        lg = _logit_u(text)
        if lg is None:
            continue
        ka = lg >= 0
        kb = _entropy(text) >= _Q130_LOW_ENTROPY
        n += 1
        a1 += ka
        b1 += kb
        n11 += ka and kb
    agree = n - a1 - b1 + 2 * n11
    e = a1 * b1 + (n - a1) * (n - b1)

    [r] = q151_detector_kappa(spark, SF_DIR).collect()
    assert (r.n, r.n11, r.n10, r.n01, r.n00) == (
        n, n11, a1 - n11, b1 - n11, n - a1 - b1 + n11,
    )
    assert r.po_u == _round_half_up(agree * 1e6 / n)
    assert r.pe_u == _round_half_up(e * 1e6 / (n * n))
    assert r.kappa_u == _round_half_up((n * agree - e) * 1e6 / (n * n - e))
    # the gates must genuinely disagree somewhere for kappa to mean much
    assert r.n10 + r.n01 > 0


def _edges(doc_ids, fanout):
    n = len(doc_ids)
    out = []
    for d in doc_ids:
        for j in range(fanout):
            dst = int(hashlib.md5(f"{d}#{j}".encode()).hexdigest()[:8], 16) % n
            if dst != d:
                out.append((d, dst))
    return out


def test_q152_matches_pure_python(spark):
    from sparkextract.queries.graph import _Q152_FANOUT, q152_neighbor_quality

    docs = _docs(SF_DIR)
    logits = {d: _logit_u(t) for d, t, _l, _s in docs}
    agg = {}
    for src, dst in _edges([d for d, _t, _l, _s in docs], _Q152_FANOUT):
        if logits.get(src) is None:
            continue
        n, s = agg.get(dst, (0, 0))
        agg[dst] = (n + 1, s + logits[src])

    got = {
        r.node: (r.n_in, r.sum_src_logit_u, r.mean_src_logit_u,
                 r.low_quality_neighborhood)
        for r in q152_neighbor_quality(spark, SF_DIR).collect()
    }
    assert got == {
        dst: (n, s, _round_half_up(s / n), s < 0)
        for dst, (n, s) in agg.items()
    }


def test_q153_matches_pure_python(spark):
    from sparkextract.queries.stats import _Q153_SAMPLE_BUCKETS, q153_rank_agreement

    sample = []
    for d, t, _l, _s in _docs(SF_DIR):
        if int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) \
                % _Q153_SAMPLE_BUCKETS:
            continue
        lg = _logit_u(t)
        if lg is None:
            continue
        sample.append((d, lg, _round_half_up(_entropy(t) * 1e6)))
    conc = disc = pairs = 0
    for i in range(len(sample)):
        for j in range(i + 1, len(sample)):
            pairs += 1
            p = (sample[i][1] - sample[j][1]) * (sample[i][2] - sample[j][2])
            conc += p > 0
            disc += p < 0

    [r] = q153_rank_agreement(spark, SF_DIR).collect()
    assert (r.n_sample, r.n_pairs, r.concordant, r.discordant, r.ties) == (
        len(sample), pairs, conc, disc, pairs - conc - disc,
    )
    assert r.tau_u == _round_half_up((conc - disc) * 1e6 / pairs)
    assert pairs >= 10, "sample must yield a meaningful pair grid"
