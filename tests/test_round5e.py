"""q146-q149 (edit-distance dedup, interval merge, disparity audit,
URL canonicalization): structural invariants plus independent
pure-Python re-implementations over the raw parquet — a third
implementation next to the Spark plan and the DuckDB oracle, guarding
the semantics themselves (Wagner-Fischer distance, gaps-and-islands
merge, Gini identity, canonical chain)."""

import math
import os
import re

import pytest

from sparkextract.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-r5e-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _docs(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("source").to_pylist(),
        )
    )


def _round_half_up(x: float) -> int:
    """Spark's F.round / DuckDB's ROUND round .5 AWAY from zero; python's
    round() is banker's (half-even) — ties are real here ((1 - d/L)*1e6
    lands on .5 whenever L divides 2e6*(L-d) oddly), so the reference
    implementation must match the engines' rule."""
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[len(b)]


def test_q146_matches_pure_python(spark):
    from sparkextract.queries.dedup import (
        _Q146_BLOCK_LEN,
        _Q146_BLOCK_OFF,
        _Q146_DF_MAX,
        _Q146_DF_MIN,
        _Q146_EVERY,
        _Q146_ID_OFFSET,
        _Q146_MAX_DIST,
        _Q146_PREFIX,
        q146_edit_distance_near_dup,
    )

    corpus = []
    for doc_id, text, _src in _docs(SF_DIR):
        corpus.append((doc_id, text))
        if doc_id % _Q146_EVERY == 0:
            corpus.append((doc_id + _Q146_ID_OFFSET, "zqx" + text[3:]))
    blocks = {}
    for doc_id, text in corpus:
        if len(text) < _Q146_BLOCK_OFF + _Q146_BLOCK_LEN - 1:
            continue
        bkey = text[_Q146_BLOCK_OFF - 1 : _Q146_BLOCK_OFF - 1 + _Q146_BLOCK_LEN]
        blocks.setdefault(bkey, []).append((doc_id, text[:_Q146_PREFIX]))
    expected = {}
    for members in blocks.values():
        if not (_Q146_DF_MIN <= len(members) <= _Q146_DF_MAX):
            continue
        for i, (ida, pa) in enumerate(members):
            for idb, pb in members[i + 1 :]:
                lo, hi = min(ida, idb), max(ida, idb)
                if (lo, hi) in expected:
                    continue
                d = _levenshtein(
                    pa if lo == ida else pb, pb if lo == ida else pa
                )
                if d <= _Q146_MAX_DIST:
                    sim_u = _round_half_up(
                        (1.0 - d / max(len(pa), len(pb))) * 1e6
                    )
                    expected[(lo, hi)] = (d, sim_u)

    got = {
        (r.left_id, r.right_id): (r.edit_dist, r.sim_u)
        for r in q146_edit_distance_near_dup(spark, SF_DIR).collect()
    }
    assert got == expected
    # the injected copies must surface with the injected edit budget
    injected = [
        (doc_id, doc_id + _Q146_ID_OFFSET)
        for doc_id, text, _ in _docs(SF_DIR)
        if doc_id % _Q146_EVERY == 0
        and len(text) >= _Q146_BLOCK_OFF + _Q146_BLOCK_LEN - 1
    ]
    assert injected, "fixture must inject at least one near-dup"
    for pair in injected:
        assert pair in got and got[pair][0] <= 3


def _merge_islands(positions, width):
    """(n_spans, n_islands, covered, max_len) for [p, p+width] intervals."""
    islands = []
    for p in positions:
        s, e = p, p + width
        if islands and s <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], e)
        else:
            islands.append([s, e])
    lens = [e - s + 1 for s, e in islands]
    return len(positions), len(islands), sum(lens), max(lens)


def test_q147_matches_pure_python(spark):
    from sparkextract.queries.relational import (
        _Q147_KW,
        _Q147_WIDTH,
        q147_span_interval_merge,
    )

    expected = {}
    for doc_id, text, _src in _docs(SF_DIR):
        pos = [i for i, t in enumerate(text.split(" ")) if t in _Q147_KW]
        if pos:
            expected[doc_id] = _merge_islands(pos, _Q147_WIDTH)
    got = {
        r.doc_id: (r.n_spans, r.n_islands, r.covered_tokens, r.max_island_len)
        for r in q147_span_interval_merge(spark, SF_DIR).collect()
    }
    assert got == expected


def test_q147_overlap_only_merge():
    # touching-at-boundary merges (s == prev_e), adjacent does not
    assert _merge_islands([0, 2], 2) == (2, 1, 5, 5)
    assert _merge_islands([0, 3], 2) == (2, 2, 6, 3)
    assert _merge_islands([0, 1, 7], 2) == (3, 2, 7, 4)


def test_q148_matches_pure_python(spark):
    from sparkextract.queries.quality import _Q135_STOP, _Q135_W, _Q135_BIAS
    from sparkextract.queries.quality import q148_filter_disparity

    per_src = {}
    for doc_id, text, src in _docs(SF_DIR):
        toks = [x for x in text.split(" ") if x != ""]
        if not toks:
            continue
        n = len(toks)
        logit = (
            _Q135_W[0] * round(math.log(1 + n) * 1e6)
            + _Q135_W[1] * round(sum(len(x) for x in toks) / n * 1e6)
            + _Q135_W[2] * round(len(set(toks)) / n * 1e6)
            + _Q135_W[3]
            * round(sum(1 for x in toks if x in _Q135_STOP) / n * 1e6)
            + _Q135_BIAS
        )
        nd, nk = per_src.get(src, (0, 0))
        per_src[src] = (nd + 1, nk + (1 if logit >= 0 else 0))
    rates = {s: _round_half_up(k * 1e6 / n) for s, (n, k) in per_src.items()}
    vals = list(rates.values())
    sumabs = sum(abs(a - b) for a in vals for b in vals)
    gini_u = _round_half_up(sumabs * 1e6 / (2.0 * len(vals) * sum(vals)))
    range_u = max(vals) - min(vals)

    rows = q148_filter_disparity(spark, SF_DIR).collect()
    assert len(rows) == len(per_src)
    for r in rows:
        n, k = per_src[r.source]
        assert (r.n_docs, r.n_keep, r.keep_rate_u) == (n, k, rates[r.source])
        assert r.gini_u == gini_u and r.range_u == range_u
    # both classes must be populated for the audit to mean anything
    assert 0 < sum(k for _n, k in per_src.values()) < sum(
        n for n, _k in per_src.values()
    )


def _canonicalize(url: str) -> str:
    c = re.sub(r"#.*$", "", url)
    c = re.sub(r"\?.*$", "", c)
    c = c.lower()
    c = re.sub(r"://www\.", "://", c)
    c = re.sub(r":443/", "/", c)
    c = re.sub(r"/$", "", c)
    return c


def test_q149_matches_pure_python(spark):
    from sparkextract.queries.dedup import (
        _Q149_GROUP,
        _Q149_HOSTS,
        q149_url_canonicalize,
    )

    groups = {}
    for doc_id, _text, _src in _docs(SF_DIR):
        g = doc_id // _Q149_GROUP
        host = f"site{g % _Q149_HOSTS}.example.com"
        path = f"/p/{g}"
        v = doc_id % _Q149_GROUP
        url = {
            0: f"https://{host}{path}",
            1: f"HTTPS://WWW.{host.upper()}{path}",
            2: f"https://{host}{path}?utm_source=feed&utm_medium=rss",
            3: f"https://{host}{path}/",
            4: f"https://{host}{path}#section-2",
            5: f"https://{host}:443{path}",
        }[v]
        canon = _canonicalize(url)
        # every variant canonicalizes to the plain form
        assert canon == f"https://{host}{path}"
        n, raws, first = groups.get(canon, (0, set(), doc_id))
        groups[canon] = (n + 1, raws | {url}, min(first, doc_id))

    got = {
        r.canonical_url: (r.n_docs, r.n_raw_forms, r.first_doc)
        for r in q149_url_canonicalize(spark, SF_DIR).collect()
    }
    assert got == {
        c: (n, len(raws), first) for c, (n, raws, first) in groups.items()
    }
    # a complete 6-doc group collapses 6 distinct raw forms into one row
    assert any(n == 6 and raws == 6 for n, raws, _f in got.values())
