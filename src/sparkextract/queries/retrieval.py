"""Retrieval and ranking queries (T2/T3/F7): keyword overlap, reranked
top-k, the full kNN -> dedup -> rerank -> budget pipeline, TF-IDF,
ROUGE eval, Okapi BM25, reciprocal rank fusion, MMR reranking and
nDCG@k.

q128 — MAXIMAL MARGINAL RELEVANCE (Carbonell & Goldstein, SIGIR 1998):
the standard diversity-aware second-stage reranker. Given a query and a
first-stage top-N candidate list, greedily pick K results, each step
taking the candidate maximizing

    MMR = lambda * rel(q, d)  -  (1 - lambda) * max_{s in S} sim(d, s)

over the not-yet-selected candidates (S = already selected). This is
the de-dup-at-serving-time counterpart of the corpus dedup family
(q110 SemDeDup removes near-dups from the corpus; MMR removes them
from a result page) and completes the retrieval panel next to plain
rerank (q55) and rank fusion (q127).

Reference intent: RAG retrieval re-ranking surface,
reference src/rag/vector_database.py:156-189 (similarity search)
combined with the near-dup suppression the reference applies at
chunk-store time (reference src/rag/text_processor.py:534).

Numeric discipline (the q111/q119/q127 lessons):
every cosine is snapped to BIGINT micro-units — CAST(ROUND(cos * 1e6)
AS BIGINT) — the moment it is computed, and lambda = 0.7 is carried as
the exact integer split score_u = 7*rel_u - 3*maxsim_u (the MMR score
scaled by 10). After the initial snap there is no float anywhere in
the greedy recursion, so the K-step argmax chain is bit-identical
across engines; ties break on vec_id ASC at every step.

Scale shape: the ONLY corpus-sized work is first-stage retrieval,
which at real scale is the ANN index (q46 IVF / q111 PQ), not the
brute-force pass used here to keep the oracle exact. Everything after
is bounded by queries x N_CAND: the candidate table is Q x 30 rows,
the pairwise-similarity table Q x 30 x 29 rows, and each greedy step
is a query_id-keyed join + map-side-combinable MAX + a 30-row-
partition window. Candidates and pair sims are materialized once per
(session, input) via checkpoint_memo, so the K plan-building steps
never recompute the cosines.

q156 — nDCG@k GRADED RETRIEVAL EVAL. q125/q127 rank documents; the
standard graded-relevance metric for a ranking is normalized
discounted cumulative gain: DCG = sum (2^rel - 1) / log2(rank + 1)
over the top k, normalized by the ideal reordering. Relevance grades
are deterministic (rel = 3 - md5_bucket(doc_id, 4), a synthetic
ground-truth protocol); the ranking under eval is q125's BM25 top-5.
IDCG here is the ideal reordering of the RETRIEVED set (the "local"
nDCG variant — no corpus-wide relevance scan; documented). Numeric
discipline: gains are exact integers {0,1,3,7}; each per-rank
contribution gain / (LN(rank+1)/LN(2)) is ROUND(...,6)-ed and summed
as DECIMAL(18,6) (the q125 discipline — never a float accumulation);
ndcg_u is ONE final snapped division. idcg = 0 (nothing relevant
retrieved, nothing relevant available) reports the vacuous 1_000_000.
Scale shape: everything downstream of q125 runs on its <= |Q|*k row
output; the per-query ideal reorder is a window over <= k rows.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.sql.window import Window as W

from sparkextract.queries.ann import (
    _EMB_DOUBLE_SQL,
    _cos,
    _cos_sql,
    _cos_top10,
    _cos_top10_sql,
    _emb_double,
)
from sparkextract.queries.base import (
    checkpoint_memo,
    load,
    md5_bucket,
    md5_bucket_sql,
    register,
)
from sparkextract.queries.text import _kgrams, _kgrams_sql, _words, _words_sql


# --------------------------------------------------------------------------
# F7: keyword-overlap score |words(q) ∩ words(doc)| * 0.01 (reference
# rag_pipeline.py:561-564) against a fixed query string.
_QUERY_WORDS = "table join window filter merge"


def _overlap(text="text"):
    """The keyword overlap |words(_QUERY_WORDS) ∩ distinct words(text)|."""
    return F.size(
        F.array_intersect(
            F.split(F.lit(_QUERY_WORDS), " "), F.array_distinct(F.split(text, " "))
        )
    )


def _overlap_sql(text: str = "text") -> str:
    """DuckDB twin of :func:`_overlap`."""
    return (f"LENGTH(list_intersect(string_split('{_QUERY_WORDS}', ' '),"
            f" list_distinct(string_split({text}, ' '))))")


@register(
    "q36_keyword_overlap",
    oracle=f"""
    SELECT doc_id, ROUND({_overlap_sql()} * 0.01, 6) AS overlap_score
    FROM documents
    WHERE {_overlap_sql()} >= 3
    """,
)
def q36_keyword_overlap(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    overlap = _overlap()
    return (
        docs.select("doc_id", F.round(overlap * 0.01, 6).alias("overlap_score"), overlap.alias("_n"))
        .filter(F.col("_n") >= 3)
        .drop("_n")
    )


_Q55_ORACLE = f"""
    WITH cand AS ({_cos_top10_sql()}),
    scored AS (
      SELECT c.vec_id, c.cosine,
             CAST({_overlap_sql("d.text")} AS INT) AS overlap
      FROM cand c JOIN documents d ON d.doc_id = c.vec_id
    )
    SELECT vec_id, cosine, overlap,
           ROUND(cosine + overlap * 0.01, 6) AS rerank_score
    FROM scored
    ORDER BY rerank_score DESC, vec_id ASC
    LIMIT 3
"""


@register("q55_rerank_topk", oracle=_Q55_ORACLE)
def q55_rerank_topk(spark, sf_dir):
    cand = _cos_top10(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = docs.join(
        F.broadcast(cand), docs["doc_id"] == cand["vec_id"]
    ).select("vec_id", "cosine", _overlap().alias("overlap"))
    return (
        scored.select(
            "vec_id",
            "cosine",
            "overlap",
            F.round(F.col("cosine") + F.col("overlap") * 0.01, 6).alias("rerank_score"),
        )
        .orderBy(F.desc("rerank_score"), F.asc("vec_id"))
        .limit(3)
    )


# --------------------------------------------------------------------------
# q58: the FULL RAG-query lifecycle (SURVEY.md §3.3 steps 3-6) as ONE
# plan: kNN retrieve (top-10 by cosine) -> content dedup (D3, md5 key,
# lowest-id survivor) -> heuristic rerank (similarity + overlap*0.01,
# reference src/rag/rag_pipeline.py:536-580) -> cumulative
# character budget cap (running sum over rerank order, keep while the
# PRECEDING total stays under budget — the reference's context builder,
# rag_pipeline.py:582-618; W5 shape shared with q08). Every stage is
# individually green (q27/q48/q55/q08); this is the composition witness.
# Scale shape: candidates are top-k tiny -> broadcast joins; the only
# window runs over <= k rows.
_Q58_BUDGET = 1500


_Q58_ORACLE = f"""
    WITH cand AS ({_cos_top10_sql()}),
    hydrated AS (
      SELECT c.vec_id, c.cosine, d.text, d.n_chars, md5(d.text) AS chash
      FROM cand c JOIN documents d ON d.doc_id = c.vec_id
    ),
    deduped AS (
      SELECT * FROM hydrated
      QUALIFY ROW_NUMBER() OVER (PARTITION BY chash ORDER BY vec_id ASC) = 1
    ),
    reranked AS (
      SELECT vec_id, cosine, n_chars,
             ROUND(cosine + CAST({_overlap_sql()} AS INT) * 0.01, 6) AS rerank_score
      FROM deduped
    ),
    budgeted AS (
      SELECT vec_id, rerank_score, n_chars,
             SUM(n_chars) OVER (
               ORDER BY rerank_score DESC, vec_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chars
      FROM reranked
    )
    SELECT vec_id, rerank_score,
           CAST(cum_chars AS BIGINT) AS cum_chars
    FROM budgeted
    WHERE cum_chars - n_chars < {_Q58_BUDGET}
"""


@register("q58_retrieval_pipeline", oracle=_Q58_ORACLE)
def q58_retrieval_pipeline(spark, sf_dir):
    cand = _cos_top10(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    hydrated = docs.join(F.broadcast(cand), docs["doc_id"] == cand["vec_id"]).select(
        "vec_id", "cosine", "text", "n_chars", F.md5("text").alias("chash")
    )
    deduped = (
        hydrated.withColumn(
            "rn", F.row_number().over(W.partitionBy("chash").orderBy(F.asc("vec_id")))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    reranked = deduped.select(
        "vec_id",
        "n_chars",
        F.round(F.col("cosine") + _overlap() * 0.01, 6).alias("rerank_score"),
    )
    w = (
        W.orderBy(F.desc("rerank_score"), F.asc("vec_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    budgeted = reranked.withColumn("cum_chars", F.sum("n_chars").over(w))
    return budgeted.filter(
        F.col("cum_chars") - F.col("n_chars") < _Q58_BUDGET
    ).select("vec_id", "rerank_score", F.col("cum_chars").cast("long").alias("cum_chars"))


# --------------------------------------------------------------------------
# q73: TF-IDF top-3 terms per document — keyword extraction, the text-
# analysis op a training-data pipeline runs corpus-wide. idf uses natural
# log of (N+1)/(df+1); scores are ROUND(...,6)-ed BEFORE ordering (the
# repo's float-compare discipline: Java Math.log and DuckDB ln may differ
# in the last ulp) with the token string as the total-order tie-break.
# Scale shape: explode -> (doc,token) partial-agg groupBy (1 shuffle) ->
# token-grain df agg (1 shuffle over vocab-sized data) -> equi-join tf
# with df on token (vocab-keyed shuffle join; no broadcast assumption, a
# web-corpus vocabulary is large) -> per-doc window (1 shuffle on
# doc_id). Every shuffle is key-partitioned; nothing is quadratic.
_Q73_K = 3


def _term_tf(docs):
    """(doc_id, text) -> (doc_id, token, tf): the count of each term of
    each doc, where the terms are the runs of letters of lower(text) that
    are at least 2 long."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"),
    ).filter(F.length("token") >= 2)
    return toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))


# DuckDB twin of _term_tf over the documents table: the toks and tf CTEs
_TERM_TF_SQL = """
toks AS (
  SELECT doc_id, t AS token
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE LENGTH(t) >= 2
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
)"""


_Q73_ORACLE = f"""
WITH {_TERM_TF_SQL},
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, tfidf
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored
) WHERE rn <= {_Q73_K}
"""


@register("q73_tfidf_topk", oracle=_Q73_ORACLE)
def q73_tfidf_topk(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    tf = _term_tf(docs)
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # N as a lazy broadcast 1-row aggregate (the oracle's CROSS JOIN n
    # shape) — an eager docs.count() here would run an extra full-scan
    # driver action at plan-BUILD time on every invocation
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = tf.join(df, "token").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "token",
        "tf",
        F.round(
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _Q73_K)
        .select("doc_id", "token", "tf", "tfidf")
    )


# --------------------------------------------------------------------------
# q121: ROUGE-1/ROUGE-2 EVAL — clipped-multiset n-gram
# precision/recall/F1 between paired documents (even doc d = reference,
# d+1 = candidate): the summarization-eval metric as dataflow. Clipped
# counts are SUM(LEAST(c_ref, c_cand)) over an n-gram equi-join of the
# two per-doc term-frequency tables; P, R, F1 are each ONE division of
# exact BIGINTs (F1 = 2*overlap/(cand_total + ref_total), the
# algebraically reduced form, so no compounded float ops).
# Scale shape: per-doc TF tables explode map-side; the pair join is
# keyed by (pair_id, gram) — no all-pairs blowup, candidate pairing is
# an id equi-join. Deliberately NOT checkpoint_memo'd: each TF table's
# identical groupBy subtrees are deduplicated at runtime by AQE
# exchange reuse, and an A/B measurement (round 5) showed the eager
# memo materialization costs ~2x on a one-shot invocation (2.5 s vs
# 1.3 s at sf0.1) and only wins when MULTIPLE queries share the table
# (the q125/q127 situation, not this one).
_Q121_TOPK = 100


def _tf_sql(gram: str) -> str:
    g = "t" if gram == "uni" else _kgrams_sql("t", 2)
    return f"""
    SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
      SELECT doc_id, unnest({g}) AS g
      FROM (SELECT doc_id, {_words_sql()} AS t FROM documents)
    ) GROUP BY 1, 2"""


_Q121_ORACLE = f"""
WITH tf1 AS ({_tf_sql("uni")}),
tf2 AS ({_tf_sql("bi")}),
o1 AS (
  SELECT r.doc_id AS ref_id, SUM(LEAST(r.c, cnd.c)) AS ov
  FROM tf1 r JOIN tf1 cnd ON cnd.doc_id = r.doc_id + 1 AND cnd.g = r.g
  WHERE r.doc_id % 2 = 0 GROUP BY 1
),
o2 AS (
  SELECT r.doc_id AS ref_id, SUM(LEAST(r.c, cnd.c)) AS ov
  FROM tf2 r JOIN tf2 cnd ON cnd.doc_id = r.doc_id + 1 AND cnd.g = r.g
  WHERE r.doc_id % 2 = 0 GROUP BY 1
),
tot1 AS (SELECT doc_id, SUM(c) AS t FROM tf1 GROUP BY 1),
tot2 AS (SELECT doc_id, SUM(c) AS t FROM tf2 GROUP BY 1),
pairs AS (
  SELECT r.doc_id AS ref_id,
         COALESCE(o1.ov, 0) AS ov1, COALESCE(o2.ov, 0) AS ov2,
         r1.t AS rt1, c1.t AS ct1, r2.t AS rt2, c2.t AS ct2
  FROM documents r
  JOIN documents c ON c.doc_id = r.doc_id + 1
  JOIN tot1 r1 ON r1.doc_id = r.doc_id
  JOIN tot1 c1 ON c1.doc_id = c.doc_id
  JOIN tot2 r2 ON r2.doc_id = r.doc_id
  JOIN tot2 c2 ON c2.doc_id = c.doc_id
  LEFT JOIN o1 ON o1.ref_id = r.doc_id
  LEFT JOIN o2 ON o2.ref_id = r.doc_id
  WHERE r.doc_id % 2 = 0
)
SELECT ref_id,
       ROUND(CAST(ov1 AS DOUBLE) / ct1, 6) AS rouge1_p,
       ROUND(CAST(ov1 AS DOUBLE) / rt1, 6) AS rouge1_r,
       ROUND(CAST(2 * ov1 AS DOUBLE) / (ct1 + rt1), 6) AS rouge1_f,
       ROUND(CAST(2 * ov2 AS DOUBLE) / (ct2 + rt2), 6) AS rouge2_f
FROM pairs
ORDER BY rouge1_f DESC, ref_id ASC
LIMIT {_Q121_TOPK}
"""


def _tf_spark(docs, gram: str):
    toks = docs.select("doc_id", _words().alias("t"))
    g = F.col("t") if gram == "uni" else _kgrams(F.col("t"), 2)
    return (
        toks.select("doc_id", F.explode(g).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )


def _clipped_overlap(tf):
    ref = tf.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("ref_id"), "g", F.col("c").alias("rc")
    )
    cand = tf.select((F.col("doc_id") - 1).alias("ref_id"), "g", F.col("c").alias("cc"))
    return (
        ref.join(cand, ["ref_id", "g"])
        .groupBy("ref_id")
        .agg(F.sum(F.least("rc", "cc")).alias("ov"))
    )


@register("q121_rouge_eval", oracle=_Q121_ORACLE)
def q121_rouge_eval(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    tf1 = _tf_spark(docs, "uni")
    tf2 = _tf_spark(docs, "bi")
    tot1 = tf1.groupBy("doc_id").agg(F.sum("c").alias("t"))
    tot2 = tf2.groupBy("doc_id").agg(F.sum("c").alias("t"))
    o1 = _clipped_overlap(tf1)
    o2 = _clipped_overlap(tf2)
    refs = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("ref_id")
    )
    cands = docs.select((F.col("doc_id") - 1).alias("ref_id"))
    base = (
        refs.join(cands, "ref_id")
        .join(tot1.select(F.col("doc_id").alias("ref_id"), F.col("t").alias("rt1")), "ref_id")
        .join(
            tot1.select((F.col("doc_id") - 1).alias("ref_id"), F.col("t").alias("ct1")),
            "ref_id",
        )
        .join(tot2.select(F.col("doc_id").alias("ref_id"), F.col("t").alias("rt2")), "ref_id")
        .join(
            tot2.select((F.col("doc_id") - 1).alias("ref_id"), F.col("t").alias("ct2")),
            "ref_id",
        )
        .join(o1.withColumnRenamed("ov", "ov1"), "ref_id", "left")
        .join(o2.withColumnRenamed("ov", "ov2"), "ref_id", "left")
        .fillna({"ov1": 0, "ov2": 0})
    )
    return (
        base.select(
            "ref_id",
            F.round(F.col("ov1").cast("double") / F.col("ct1"), 6).alias("rouge1_p"),
            F.round(F.col("ov1").cast("double") / F.col("rt1"), 6).alias("rouge1_r"),
            F.round(
                (2 * F.col("ov1")).cast("double") / (F.col("ct1") + F.col("rt1")), 6
            ).alias("rouge1_f"),
            F.round(
                (2 * F.col("ov2")).cast("double") / (F.col("ct2") + F.col("rt2")), 6
            ).alias("rouge2_f"),
        )
        .orderBy(F.desc("rouge1_f"), F.asc("ref_id"))
        .limit(_Q121_TOPK)
    )


# --------------------------------------------------------------------------
# q125: OKAPI BM25 TOP-K RETRIEVAL (Robertson & Walker 1994) — the
# length-normalized ranked-retrieval companion to q73's TF-IDF (the
# reference's keyword-overlap retrieval surface,
# reference src/rag/rag_pipeline.py:561-564, graduated to the
# standard IR scoring function). Query set is deterministic: every
# doc_id % 50 == 0 document contributes its 5 lexicographically-
# smallest distinct tokens as a bag-of-words query; each query is
# scored against the whole corpus and the top-5 docs emitted (the
# query's own source doc naturally self-retrieves — the rank-1 sanity
# anchor).
#
# Numeric discipline: per-(query,doc,term) contribution
#   idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)),  k1=1.2, b=0.75
# is ROUND(...,6)-ed and cast DECIMAL(18,6); per-doc scores are then
# EXACT decimal sums (order-free — never a float accumulation across
# terms), compared exactly by the ranking window, and cast to double
# once at the end. 1-b = 0.25 and all literals are doubles in BOTH
# engines (DuckDB bare 1.2 would be DECIMAL(2,1) — every literal is
# CAST ... AS DOUBLE in the oracle); ln() is the only per-engine op
# and sits inside the rounded contribution (the q73 discipline).
#
# Scale shape: tf table = 1 groupBy shuffle; dl = 1 doc-keyed groupBy;
# df joined only for the <=|Q|*5 query terms (qterms JOIN df, then the
# small result BROADCAST onto the tf scan — candidate generation is
# map-side, never a vocab-wide shuffle join); dl joins only the
# surviving candidates; avgdl is a broadcast 1-row aggregate; per-query
# top-k is a query_id-keyed window. Nothing is quadratic in the corpus.
_Q125_K = 5


_Q125_STRIDE = 50


_Q125_QTERMS = 5


# the BM25 candidates: one row per (query, doc, shared term) carrying
# tf, the term's df, the doc's length dl, n_docs and avgdl; q125 and
# q127 both score these
_BM25_CAND_SQL = f"""{_TERM_TF_SQL},
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
qterms AS (
  SELECT doc_id AS query_id, token FROM (
    SELECT doc_id, token,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY token) AS tn
    FROM tf WHERE doc_id % {_Q125_STRIDE} = 0
  ) WHERE tn <= {_Q125_QTERMS}
),
cand AS (
  SELECT q.query_id, tf.doc_id, tf.tf, dfx.df, dl.dl, s.n_docs, s.avgdl
  FROM qterms q
  JOIN dfx ON dfx.token = q.token
  JOIN tf ON tf.token = q.token
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
)"""


# DuckDB twin of _bm25_contrib over a cand row
_BM25_CONTRIB_SQL = """CAST(ROUND(
    LN(CAST(1 AS DOUBLE)
       + (CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
    * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
       / (CAST(tf AS DOUBLE)
          + CAST(1.2 AS DOUBLE)
            * (CAST(0.25 AS DOUBLE)
               + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl)))
  , 6) AS DECIMAL(18,6))"""


_Q125_ORACLE = f"""
WITH {_BM25_CAND_SQL},
scores AS (
  SELECT query_id, doc_id, SUM({_BM25_CONTRIB_SQL}) AS sc
  FROM cand GROUP BY query_id, doc_id
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, CAST(sc AS DOUBLE) AS score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sc DESC, doc_id) AS rnk
  FROM scores
) WHERE rnk <= {_Q125_K}
ORDER BY query_id, rnk
"""


def _bm25_cand(spark, sf_dir):
    """Spark twin of _BM25_CAND_SQL. The (doc_id, token, tf) table feeds
    five subtrees (dl, avgdl stats, df, query terms, candidates), so it
    is materialized once per (session, input) instead of re-scanning the
    documents parquet per subtree (the q68/q94 memo discipline; at real
    scale this is the tokenized-corpus table write)."""
    tf = checkpoint_memo(
        spark, sf_dir, "q125_tf", lambda: _term_tf(load(spark, sf_dir, "documents"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    dfx = tf.groupBy("token").agg(F.count("*").alias("df"))
    wq = Window.partitionBy("doc_id").orderBy("token")
    qterms = (
        tf.filter(F.col("doc_id") % _Q125_STRIDE == 0)
        .withColumn("tn", F.row_number().over(wq))
        .filter(F.col("tn") <= _Q125_QTERMS)
        .select(F.col("doc_id").alias("query_id"), "token")
    )
    # df only for the query terms: tiny qterms drives the vocab join,
    # and the enriched (query_id, token, df) result broadcasts onto the
    # tf scan so candidate generation never shuffles the corpus by token
    qinfo = qterms.join(dfx, "token")
    return tf.join(F.broadcast(qinfo), "token").join(dl, "doc_id").crossJoin(
        F.broadcast(stats)
    )


def _bm25_contrib():
    """A candidate term's BM25 contribution
    idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)), k1=1.2, b=0.75,
    rounded to 6 places as DECIMAL(18,6)."""
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tff = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * F.col("dl").cast("double") / F.col("avgdl"))
    )
    return F.round(idf * tff, 6).cast("decimal(18,6)")


@register("q125_bm25_topk", oracle=_Q125_ORACLE)
def q125_bm25_topk(spark, sf_dir):
    scores = (
        _bm25_cand(spark, sf_dir)
        .select("query_id", "doc_id", _bm25_contrib().alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("sc"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("sc"), F.asc("doc_id"))
    return (
        scores.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= _Q125_K)
        .select("query_id", "rnk", "doc_id", F.col("sc").cast("double").alias("score"))
        .orderBy("query_id", "rnk")
    )


# --------------------------------------------------------------------------
# q127: RECIPROCAL RANK FUSION (Cormack, Clarke & Buettcher 2009) — the
# standard hybrid-retrieval combiner: two rankers score the same
# candidate set (BM25, q125's formula, and TF-IDF, q73's formula — both
# over the q125 query bags), each produces a per-query total-order rank,
# and the fused score is sum over rankers of 1/(60+rank). The fusion is
# computed in EXACT INTEGER micro-units — 10^9 div (60+rank), integer
# division in both engines (Spark `div`, DuckDB `//`) — so the combined
# score involves no float at any point (the q119 integer-PageRank
# discipline applied to rank fusion); per-ranker scores stay in the
# exact DECIMAL(18,6) domain from their ROUND(...,6)-ed contributions.
# Both rankers score exactly the docs sharing >= 1 query term, so the
# two rank lists are total orders over the SAME candidate set.
#
# Scale shape: identical to q125 (shared memoized tf table, query-term
# df broadcast onto the tf scan, candidates shuffle once on
# (query_id, doc_id)) plus three query_id-keyed windows — per-query
# candidate lists are corpus-bounded but query-local, so every window
# partition is small; nothing new is corpus-quadratic.
_Q127_K = 5


_Q127_RRF_C = 60


_Q127_ORACLE = f"""
WITH {_BM25_CAND_SQL},
scores AS (
  SELECT query_id, doc_id,
         SUM({_BM25_CONTRIB_SQL}) AS sc_bm25,
         SUM(CAST(ROUND(
           CAST(tf AS DOUBLE)
           * LN((CAST(n_docs AS DOUBLE) + CAST(1 AS DOUBLE))
                / (CAST(df AS DOUBLE) + CAST(1 AS DOUBLE)))
         , 6) AS DECIMAL(18,6))) AS sc_tfidf
  FROM cand GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY sc_bm25 DESC, doc_id) AS BIGINT)
           AS r_bm25,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY sc_tfidf DESC, doc_id) AS BIGINT)
           AS r_tfidf
  FROM scores
),
fused AS (
  SELECT query_id, doc_id, r_bm25, r_tfidf,
         (1000000000 // ({_Q127_RRF_C} + r_bm25))
           + (1000000000 // ({_Q127_RRF_C} + r_tfidf)) AS fused_units
  FROM ranked
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id,
       r_bm25, r_tfidf, CAST(fused_units AS BIGINT) AS fused_units
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY fused_units DESC, doc_id) AS rnk
  FROM fused
) WHERE rnk <= {_Q127_K}
ORDER BY query_id, rnk
"""


@register("q127_rrf_fusion", oracle=_Q127_ORACLE)
def q127_rrf_fusion(spark, sf_dir):
    tfidf = F.col("tf").cast("double") * F.log(
        (F.col("n_docs").cast("double") + F.lit(1.0))
        / (F.col("df").cast("double") + F.lit(1.0))
    )
    scores = (
        _bm25_cand(spark, sf_dir).select(
            "query_id",
            "doc_id",
            _bm25_contrib().alias("c_bm25"),
            F.round(tfidf, 6).cast("decimal(18,6)").alias("c_tfidf"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c_bm25").alias("sc_bm25"), F.sum("c_tfidf").alias("sc_tfidf"))
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("sc_bm25"), F.asc("doc_id"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sc_tfidf"), F.asc("doc_id"))
    ranked = scores.select(
        "query_id",
        "doc_id",
        F.row_number().over(w1).cast("long").alias("r_bm25"),
        F.row_number().over(w2).cast("long").alias("r_tfidf"),
    )
    fused = ranked.withColumn(
        "fused_units",
        F.expr(
            f"(1000000000 div ({_Q127_RRF_C} + r_bm25))"
            f" + (1000000000 div ({_Q127_RRF_C} + r_tfidf))"
        ).cast("long"),
    )
    w3 = Window.partitionBy("query_id").orderBy(F.desc("fused_units"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w3).cast("long"))
        .filter(F.col("rnk") <= _Q127_K)
        .select("query_id", "rnk", "doc_id", "r_bm25", "r_tfidf", "fused_units")
        .orderBy("query_id", "rnk")
    )


_Q128_STRIDE = 50  # query set: vec_id % 50 == 0 (10 queries at sf0.01)


_Q128_NCAND = 30  # first-stage top-N handed to the reranker


_Q128_K = 5  # results per query


def _cos_u(a, b):
    """Cosine similarity snapped to exact BIGINT micro-units."""
    return F.round(_cos(a, b) * F.lit(1000000.0)).cast("long")


def _cos_u_sql(a: str, b: str) -> str:
    return f"CAST(ROUND({_cos_sql(a, b)} * 1000000) AS BIGINT)"


def _q128_oracle() -> str:
    head = f"""
    WITH e AS (SELECT vec_id, {_EMB_DOUBLE_SQL} AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM e
          WHERE vec_id % {_Q128_STRIDE} = 0),
    rel AS (
      SELECT q.query_id, d.vec_id, d.e,
             {_cos_u_sql('d.e', 'q.qe')} AS rel_u
      FROM q JOIN e d ON d.vec_id != q.query_id
    ),
    cand AS (
      SELECT query_id, vec_id, e, rel_u FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY rel_u DESC, vec_id ASC) AS rn
        FROM rel) WHERE rn <= {_Q128_NCAND}
    ),
    pair AS (
      SELECT a.query_id, a.vec_id, b.vec_id AS bv,
             {_cos_u_sql('a.e', 'b.e')} AS sim_u
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.vec_id != b.vec_id
    ),
    s1 AS (
      SELECT query_id, CAST(1 AS BIGINT) AS step, vec_id, rel_u,
             CAST(7 * rel_u AS BIGINT) AS score_u
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY rel_u DESC, vec_id ASC) AS rn
        FROM cand) WHERE rn = 1
    ),
    sel1 AS (SELECT * FROM s1)"""
    steps = [head]
    for t in range(2, _Q128_K + 1):
        prev = f"sel{t - 1}"
        steps.append(f""",
    s{t} AS (
      SELECT query_id, CAST({t} AS BIGINT) AS step, vec_id, rel_u, score_u
      FROM (
        SELECT c.query_id, c.vec_id, c.rel_u,
               CAST(7 * c.rel_u - 3 * COALESCE(m.ms, 0) AS BIGINT) AS score_u,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY 7 * c.rel_u - 3 * COALESCE(m.ms, 0) DESC,
                          c.vec_id ASC) AS rn
        FROM cand c
        LEFT JOIN (
          SELECT p.query_id, p.vec_id, MAX(p.sim_u) AS ms
          FROM pair p
          JOIN {prev} s ON s.query_id = p.query_id AND s.vec_id = p.bv
          GROUP BY p.query_id, p.vec_id) m
          ON m.query_id = c.query_id AND m.vec_id = c.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                          WHERE s.query_id = c.query_id
                            AND s.vec_id = c.vec_id)
      ) WHERE rn = 1
    ),
    sel{t} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM s{t})""")
    steps.append(f"""
    SELECT query_id, step, vec_id, rel_u, score_u
    FROM sel{_Q128_K}
    ORDER BY query_id, step""")
    return "".join(steps)


def _q128_cand(spark, sf_dir: str):
    emb = load(spark, sf_dir, "embeddings").select("vec_id", _emb_double().alias("e"))
    q = emb.filter(F.col("vec_id") % _Q128_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    # broadcast the query vectors (Q rows) onto the embedding scan: the
    # corpus is scored map-side, then top-N per query via a
    # query_id-partitioned window (each partition is corpus-bounded only
    # at this toy scale — at real scale this stage IS the ANN index)
    rel = (
        emb.join(F.broadcast(q), emb.vec_id != q.query_id)
        .select(
            "query_id",
            "vec_id",
            "e",
            _cos_u(F.col("e"), F.col("qe")).alias("rel_u"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rel_u"), F.asc("vec_id")
    )
    return (
        rel.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _Q128_NCAND)
        .drop("rn")
    )


def _q128_pair(cand):
    # the a-side id is named `av`, NOT `vec_id`: the cogroup below holds
    # this frame on one side and a cand projection (with `vec_id`) on
    # the other, and since both descend from the same memoized cand
    # their same-named attributes share expression IDs — Spark's
    # FlatMapCoGroupsInPandas then dedups the duplicate attribute and
    # one side's column silently VANISHES from the Arrow batch
    # (observed: the pair frame arrived in the UDF with 3 of 4 columns
    # under a plain driver-contract session). Collision-free names make
    # the dedup a no-op in every session config.
    a = cand.select("query_id", "vec_id", "e")
    b = cand.select(
        F.col("query_id").alias("query_id_b"),
        F.col("vec_id").alias("bv"),
        F.col("e").alias("eb"),
    )
    return (
        a.join(
            b,
            (F.col("query_id") == F.col("query_id_b"))
            & (F.col("vec_id") != F.col("bv")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("av"),
            "bv",
            _cos_u(F.col("e"), F.col("eb")).alias("sim_u"),
        )
    )


def _mmr_greedy(cdf, pdf):
    """Greedy MMR over ONE query's candidates — pure int64 arithmetic on
    the JVM-snapped micro-unit inputs, so the result is bit-identical to
    the unrolled SQL recursion (ties: vec_id ASC at every step)."""
    import pandas as pd

    rel = {int(v): int(r) for v, r in zip(cdf["vec_id"], cdf["rel_u"])}
    sim = {
        (int(a), int(b)): int(s)
        for a, b, s in zip(pdf["av"], pdf["bv"], pdf["sim_u"])
    }
    selected: list[int] = []
    out = []
    qid = int(cdf["query_id"].iloc[0])
    for step in range(1, _Q128_K + 1):
        best = None
        for v, r in rel.items():
            if v in selected:
                continue
            ms = max((sim[(v, s)] for s in selected), default=0)
            score = 7 * r - 3 * ms
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        if best is None:
            break
        _, v, score = best
        selected.append(v)
        out.append((qid, step, v, rel[v], score))
    return pd.DataFrame(
        out, columns=["query_id", "step", "vec_id", "rel_u", "score_u"]
    )


@register("q128_mmr_rerank", oracle=_q128_oracle())
def q128_mmr_rerank(spark, sf_dir):
    # The greedy K-step recursion is inherently sequential PER QUERY but
    # embarrassingly parallel ACROSS queries, and each query's state is
    # a bounded 30-candidate set — exactly the applyInPandas case (an
    # unrolled DataFrame-join loop was measured 10x slower here: ~8 tiny
    # shuffle jobs per step of pure scheduling overhead). One cogroup
    # shuffle on query_id; every cosine is snapped to integer micro-
    # units JVM-side BEFORE the UDF, which does only int64 arithmetic.
    from sparkextract.spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)  # UDF unpickles sparkextract worker-side
    cand = checkpoint_memo(
        spark, sf_dir, "q128_cand", lambda: _q128_cand(spark, sf_dir)
    )
    # the pair memo ALSO breaks the cand lineage the cogroup's two sides
    # would otherwise share (Spark's ambiguous-self-join check rejects a
    # cogroup whose sides resolve to the same source attributes)
    pair = checkpoint_memo(
        spark, sf_dir, "q128_pair", lambda: _q128_pair(cand)
    )
    cslim = cand.select("query_id", "vec_id", "rel_u")
    out = (
        cslim.groupby("query_id")
        .cogroup(pair.groupby("query_id"))
        .applyInPandas(
            lambda c, p: _mmr_greedy(c, p),
            schema=(
                "query_id long, step long, vec_id long, "
                "rel_u long, score_u long"
            ),
        )
    )
    return out.orderBy("query_id", "step")


_Q156_REL_BUCKETS = 4  # rel = 3 - md5_bucket(doc_id, 4) in {0,1,2,3}


_Q156_ORACLE = f"""
WITH ranked AS ({_Q125_ORACLE}),
graded AS (
  SELECT query_id, rnk, doc_id,
         CAST(3 - ({md5_bucket_sql("doc_id", _Q156_REL_BUCKETS)}) AS BIGINT)
           AS rel
  FROM ranked
), gains AS (
  SELECT query_id, rnk, doc_id, rel,
         CAST(CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3
              ELSE 7 END AS BIGINT) AS gain
  FROM graded
), contrib AS (
  SELECT query_id, rel, gain,
         CAST(ROUND(gain / (LN(CAST(rnk + 1 AS DOUBLE)) / LN(CAST(2 AS DOUBLE))), 6)
              AS DECIMAL(18,6)) AS dc,
         CAST(ROUND(gain / (LN(CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY gain DESC, rnk ASC) + 1 AS DOUBLE))
              / LN(CAST(2 AS DOUBLE))), 6) AS DECIMAL(18,6)) AS ic
  FROM gains
)
SELECT query_id,
       CAST(SUM(dc) AS DOUBLE) AS dcg,
       CAST(SUM(ic) AS DOUBLE) AS idcg,
       CAST(CASE WHEN SUM(ic) = 0 THEN 1000000
            ELSE ROUND(CAST(SUM(dc) AS DOUBLE) * 1000000.0
                       / CAST(SUM(ic) AS DOUBLE)) END AS BIGINT) AS ndcg_u,
       CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
FROM contrib GROUP BY query_id
"""


@register("q156_ndcg_eval", oracle=_Q156_ORACLE)
def q156_ndcg_eval(spark, sf_dir):
    ranked = q125_bm25_topk(spark, sf_dir).select("query_id", "rnk", "doc_id")
    rel = (
        F.lit(3) - md5_bucket(F.col("doc_id"), _Q156_REL_BUCKETS)
    ).cast("long")
    gain = (
        F.when(F.col("rel") == 0, 0)
        .when(F.col("rel") == 1, 1)
        .when(F.col("rel") == 2, 3)
        .otherwise(7)
        .cast("long")
    )
    gains = ranked.withColumn("rel", rel).withColumn("gain", gain)
    # ideal position: reorder the <= k retrieved rows by gain desc
    # (rnk asc tie-break), per query — a window over <= k rows
    wi = Window.partitionBy("query_id").orderBy(
        F.desc("gain"), F.asc("rnk")
    )
    log2 = lambda c: F.log(c.cast("double")) / F.log(F.lit(2.0))  # noqa: E731
    contrib = gains.withColumn("ipos", F.row_number().over(wi)).select(
        "query_id",
        "rel",
        F.round(F.col("gain") / log2(F.col("rnk") + 1), 6)
        .cast("decimal(18,6)")
        .alias("dc"),
        F.round(F.col("gain") / log2(F.col("ipos") + 1), 6)
        .cast("decimal(18,6)")
        .alias("ic"),
    )
    dc, ic = F.sum("dc"), F.sum("ic")
    return contrib.groupBy("query_id").agg(
        dc.cast("double").alias("dcg"),
        ic.cast("double").alias("idcg"),
        F.when(ic == 0, F.lit(1000000))
        .otherwise(
            F.round(dc.cast("double") * F.lit(1000000.0) / ic.cast("double"))
        )
        .cast("long")
        .alias("ndcg_u"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rel"),
    )
