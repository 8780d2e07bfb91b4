"""Document-quality queries: the weighted quality score (F9), rule and LM
gates, token entropy, the linear quality classifier, the Kneser-Ney
bigram LM, encoding repair, watermark detection and secret scanning.

q135 — LINEAR QUALITY-CLASSIFIER INFERENCE (the fastText / logistic
"quality classifier" stage every production LLM corpus pipeline runs:
GPT-3's WebText-similarity logistic regression, LLaMA's fastText
filter, CCNet's linear LM gate). A frozen broadcast weight vector is
applied to deterministic per-doc features; the gate is the sign of the
logit. The sigmoid is deliberately NOT computed: it is monotone, so
``keep = logit >= 0`` is the identical decision with zero
transcendental ops on the output surface.

Features (all doc-local, snapped to exact BIGINT micro-units the
moment a double appears — the q128/q111 discipline):
    f_len_u  = round(ln(1 + n_tokens) * 1e6)        (length prior)
    f_mwl_u  = round(sum_len / n_tokens * 1e6)      (mean word length)
    f_uniq_u = round(n_distinct / n_tokens * 1e6)   (type/token ratio)
    f_stop_u = round(n_stop / n_tokens * 1e6)       (stopword fraction)
    logit_u  = 2*f_len_u + f_mwl_u + 3*f_uniq_u - 4*f_stop_u - 13_700_000

The bias centers the gate near the corpus median (measured at sf0.01)
so both classes are populated at every SF. After the four snaps the
logit is pure 64-bit integer arithmetic — bit-identical across engines.
Reference intent: the per-table confidence score of
reference src/table_extractor.py:359-387 (factor scores folded into one
accept decision), upgraded to the learned-linear-filter shape a 100 TB
corpus actually uses.

Scale shape: ONE map-only scan of documents — tokenization, feature
extraction and the dot product are all array expressions inside
whole-stage codegen; no explode, no shuffle, no UDF. The weight
"vector" is 5 literals (a real model would broadcast it; at 5 terms
the literal form IS the broadcast).

q136 — LLM-WATERMARK GREEN-LIST DETECTION (Kirchenbauer et al. 2023,
"A Watermark for Large Language Models"): a watermarked generator
boosts tokens whose hash with the previous token lands in a "green
list" of fraction gamma; a detector recomputes the green fraction g/n
over the token stream and flags documents whose one-proportion z-score

    z = (g - gamma*n) / sqrt(n * gamma * (1 - gamma)),   gamma = 1/4

exceeds 2 — the synthetic-text screening pass a training-data pipeline
runs to keep model output out of the next model's corpus. Green
membership is the engine-portable md5 bucket of ``prev||'|'||tok``
(exactly the reference's keyed-hash scheme with md5 as the PRF).
gamma = 1/4 and gamma*(1-gamma) = 3/16 are exact binary fractions, g
and n are integers, and sqrt/division are correctly-rounded IEEE ops,
so z is bit-identical across engines before the micro-unit snap.

Scale shape: ONE map-only scan — bigrams, hashing and the green count
are array lambda expressions; no explode, no shuffle. Docs with fewer
than 2 tokens have no scored bigram and are excluded (WHERE mirrored
in both engines).

q189 — INTERPOLATED KNESER-NEY BIGRAM LM (Kneser & Ney 1995; Chen &
Goodman 1999) — the standard n-gram smoothing, replacing q87's
add-one model with the real thing: P(b|a) =
(c(a,b) - D)/c(a) + (D * N1+(a.)/c(a)) * N1+(.b)/B, with discount
D = 0.75, where N1+(a.) = distinct continuations of a, N1+(.b) =
distinct left-contexts of b (the continuation count that makes KN
famous), and B = total distinct bigram types. The LM is trained on the
corpus itself, so every scored bigram has c >= 1 and no OOV branch is
needed. Per-document cross-entropy H = -sum ln P / n_bigrams over the
doc's bigram INSTANCES (with multiplicity); each ln P term is
ROUND(,9)-frozen as DECIMAL(18,9) so the sum is exact and
partition-order-independent (the q130 discipline); H is ROUND(,6).
Reference intent: the reference gates extracted text with flat
heuristics (text_processor.py meaningful-text predicate); CCNet-style
pipelines gate with an LM — this is that gate with correct smoothing.

Scale shape: all four LM statistics are mergeable aggregations on the
(a, b) / (a) / (b) grains (map-side combine absorbs hot-bigram skew);
scoring is ONE equi-join of doc-bigram instances against the bigram LM
table on (a, b) — vocabulary-keyed, no broadcast assumption — followed
by a doc-grain mergeable agg. The unigram-side statistics join into
the LM table on (a) and (b) before the scoring join, so the corpus-
sized instance table is touched exactly once.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkextract.queries.base import (
    checkpoint_memo,
    load,
    md5_bucket,
    md5_bucket_sql,
    register,
)
from sparkextract.queries.text import _kgrams, _kgrams_sql, _words, _words_sql


# --------------------------------------------------------------------------
# Quality scoring (length + stopword-ratio factors, A2 analog) with a
# decimal-exact grouped average.
@register(
    "q25_quality_score",
    oracle="""
    SELECT source,
           CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality,
           CAST(COUNT(*) FILTER (WHERE q >= 0.5) AS BIGINT) AS n_good
    FROM (
      SELECT source,
             ROUND(0.4 * LEAST(CAST(n_chars AS DOUBLE) / 1000, 1.0)
                 + 0.3 * LEAST(CAST(LENGTH(regexp_extract_all(text, '\\b(the|a|of|and)\\b')) AS DOUBLE) / 10, 1.0)
                 + 0.3 * LEAST(CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 100, 1.0), 6) AS q
      FROM documents
    ) GROUP BY source
    """,
)
def q25_quality_score(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    stop_hits = F.regexp_count("text", F.lit(r"\b(the|a|of|and)\b"))
    ntok = F.regexp_count("text", F.lit(r"\S+"))
    q = F.round(
        0.4 * F.least(F.col("n_chars").cast("double") / 1000, F.lit(1.0))
        + 0.3 * F.least(stop_hits.cast("double") / 10, F.lit(1.0))
        + 0.3 * F.least(ntok.cast("double") / 100, F.lit(1.0)),
        6,
    )
    return (
        docs.select("source", q.alias("q"))
        .groupBy("source")
        .agg(
            (F.sum(F.col("q").cast("decimal(18,6)")).cast("double") / F.count("*")).alias(
                "avg_quality"
            ),
            F.sum(F.when(F.col("q") >= 0.5, 1).otherwise(0)).alias("n_good"),
        )
    )


# --------------------------------------------------------------------------
# q84: REPETITION-RATIO QUALITY RULES (Gopher-style) — per-document
# duplicate-bigram fraction and most-common-word mass fraction, the two
# repetition signals the Gopher/MassiveText filter family uses beyond
# a length/diversity cascade. Bigrams come from text._kgrams (k=2), which
# yields none for fewer than two words in both engines; both fractions
# are ROUND(...,6)-ed BEFORE the threshold compare so the keep decision
# is identical in both engines. Scale shape: ONE text scan — the bigram
# stats are array-local, so they are computed before the word explode
# and carried through both aggregations as grouping keys (functionally
# dependent on doc_id); no big/tw join exists at all (r3 plan audit
# showed 2 scans + a doc_id join). Both shuffles are key-partitioned and
# mergeable; nothing is quadratic in doc length but the bigram list
# (linear).
_Q84_DUP_MAX = 0.05   # duplicate-bigram fraction ceiling


_Q84_TOP_MAX = 0.15   # most-common-word mass ceiling


_Q84_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_words_sql()} AS a FROM documents),
big AS (
  SELECT doc_id,
    len(grams) AS n_bigrams,
    len(list_distinct(grams)) AS n_distinct_bigrams
  FROM (SELECT doc_id, {_kgrams_sql("a", 2)} AS grams FROM toks)
),
wc AS (
  SELECT doc_id, t AS word, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(a) AS t FROM toks)
  GROUP BY doc_id, t
),
tw AS (
  SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_words
  FROM wc GROUP BY doc_id
),
scored AS (
  SELECT b.doc_id, b.n_bigrams, b.n_distinct_bigrams,
    CASE WHEN b.n_bigrams = 0 THEN CAST(0.0 AS DOUBLE)
         ELSE ROUND(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 6)
    END AS dup_frac,
    ROUND(CAST(t.top_cnt AS DOUBLE) / t.n_words, 6) AS top_word_frac
  FROM big b JOIN tw t USING (doc_id)
)
SELECT doc_id, n_bigrams, n_distinct_bigrams, dup_frac, top_word_frac,
  (dup_frac <= {_Q84_DUP_MAX} AND top_word_frac <= {_Q84_TOP_MAX}) AS keep,
  CASE WHEN dup_frac > {_Q84_DUP_MAX} THEN 'dup_bigrams'
       WHEN top_word_frac > {_Q84_TOP_MAX} THEN 'top_word'
       ELSE '' END AS reject_reason
FROM scored
"""


@register("q84_repetition_rules", oracle=_Q84_ORACLE)
def q84_repetition_rules(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _words().alias("a"))
    grams = _kgrams(F.col("a"), 2)
    # Per-doc stats MUST become attributes in their own select BEFORE the
    # explode: a generator select hoists every non-attribute expression
    # into a Project ABOVE the Generate, re-evaluating the O(len^2)
    # array_distinct once per exploded word (measured 9x slower at
    # sf0.1). As attributes they sit in the Project BELOW the Generate
    # (plan node order verified in PLANS.md) — once per doc.
    # explode drops zero-token docs — matching the oracle, whose inner
    # join on the word-count CTE drops them too
    stats = toks.select(
        "doc_id",
        F.size(grams).alias("n_bigrams"),
        F.size(F.array_distinct(grams)).alias("n_distinct_bigrams"),
        "a",
    )
    base = stats.select(
        "doc_id", "n_bigrams", "n_distinct_bigrams", F.explode("a").alias("word")
    )
    wc = base.groupBy(
        "doc_id", "n_bigrams", "n_distinct_bigrams", "word"
    ).agg(F.count("*").alias("cnt"))
    tw = wc.groupBy("doc_id", "n_bigrams", "n_distinct_bigrams").agg(
        F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("n_words")
    )
    dup_frac = F.when(F.col("n_bigrams") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams"),
            6,
        )
    )
    scored = tw.select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        dup_frac.alias("dup_frac"),
        F.round(F.col("top_cnt").cast("double") / F.col("n_words"), 6).alias(
            "top_word_frac"
        ),
    )
    keep = (F.col("dup_frac") <= _Q84_DUP_MAX) & (
        F.col("top_word_frac") <= _Q84_TOP_MAX
    )
    reason = (
        F.when(F.col("dup_frac") > _Q84_DUP_MAX, F.lit("dup_bigrams"))
        .when(F.col("top_word_frac") > _Q84_TOP_MAX, F.lit("top_word"))
        .otherwise(F.lit(""))
    )
    return scored.select(
        "*", keep.alias("keep"), reason.alias("reject_reason")
    )


# --------------------------------------------------------------------------
# q87: BIGRAM-LM QUALITY SCORE (CCNet-style perplexity filtering) — the
# classic LLM-corpus quality gate: train an add-one-smoothed bigram
# language model ON the corpus itself, score every document by its mean
# log-probability avg ln((c(w1 w2)+1) / (c(w1 .)+V)), and keep docs
# above a threshold (low perplexity = in-distribution text). The score
# is ROUND(...,6)-ed before the threshold compare (ln last-ulp + sum
# order; accumulated error ~1e-13 against a 5e-7 rounding quantum).
# Scale shape: LM counts are two mergeable token-grain aggregates
# (bigram, context), the scoring join is vocab-keyed exactly like q73
# (no broadcast assumption — a web-corpus bigram table is large), and
# the per-doc rollup shuffles on doc_id. Nothing is quadratic. The
# tokenized corpus is materialized ONCE (checkpoint_memo) and the
# bigram/context/vocab counts plus the scoring pass all derive from
# it — the plan makes a single parquet scan of the text column (r3
# plan audit showed 4; a 100 TB CCNet run tokenizes once too).
_Q87_MIN_LOGP = -3.45


_Q87_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_words_sql()} AS a FROM documents),
inst AS (SELECT doc_id, unnest({_kgrams_sql("a", 2)}) AS bigram FROM toks),
c2 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM inst GROUP BY 1),
c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS cnt1
  FROM inst GROUP BY 1
),
v AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab
  FROM (SELECT unnest(a) AS t FROM toks)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln(CAST(c2.cnt2 + 1 AS DOUBLE) / (c1.cnt1 + v.vocab))), 6)
         AS avg_logp,
       (ROUND(AVG(ln(CAST(c2.cnt2 + 1 AS DOUBLE) / (c1.cnt1 + v.vocab))), 6)
         >= {_Q87_MIN_LOGP}) AS keep
FROM inst i
JOIN c2 USING (bigram)
JOIN c1 ON c1.w1 = split_part(i.bigram, ' ', 1)
CROSS JOIN v
GROUP BY doc_id
"""


@register("q87_lm_quality_score", oracle=_Q87_ORACLE)
def q87_lm_quality_score(spark, sf_dir):
    from pyspark.sql.functions import broadcast

    from sparkextract.queries.base import checkpoint_memo

    toks = checkpoint_memo(
        spark,
        sf_dir,
        "q87_toks",
        lambda: load(spark, sf_dir, "documents").select("doc_id", _words().alias("a")),
    )
    inst = toks.select("doc_id", F.explode(_kgrams(F.col("a"), 2)).alias("bigram"))
    c2 = inst.groupBy("bigram").agg(F.count("*").alias("cnt2"))
    c1 = (
        inst.select(F.substring_index("bigram", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("cnt1"))
    )
    vocab = toks.select(F.explode("a").alias("t")).agg(
        F.countDistinct("t").alias("vocab")
    )
    logp = F.log(
        (F.col("cnt2") + 1).cast("double") / (F.col("cnt1") + F.col("vocab"))
    )
    avg_logp = F.round(F.avg(logp), 6)
    return (
        inst.join(c2, "bigram")
        .join(c1, F.substring_index(F.col("bigram"), " ", 1) == F.col("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            avg_logp.alias("avg_logp"),
            (avg_logp >= _Q87_MIN_LOGP).alias("keep"),
        )
    )


# q94's token-count quality gate; the composed cleaning pipeline itself
# lives in dedup.py, next to the simhash pairs it joins
_Q94_MIN_TOKENS = 20


# --------------------------------------------------------------------------
# q130: UNIGRAM SHANNON ENTROPY quality gate — the information-density
# signal the Gopher/C4-style rule cascades (length/diversity, q84
# repetition, q87 LM logprob) are missing: a document whose token
# distribution has low entropy is keyword-stuffed or template spam even
# when its distinct-token RATIO looks fine (1000 tokens drawn 50/50
# from two types has diversity 0.002 but the q84 top_word_frac gate at
# 0.2 ignores the second type; entropy ln(2)=0.69 catches it directly).
# Reference intent: the reference keeps only "meaningful" extracted
# text via a flat length heuristic (its meaningful-OCR predicate,
# `src/image_extractor.py:635`); this is that gate's
# information-theoretic form at corpus scale.
#
# Implementation identity: H = -sum_t (c_t/n) ln(c_t/n) needs n before
# the per-type terms, which naively costs a doc-keyed join or window
# over the token-count table. Rewriting H = ln(n) - (sum_t c_t ln c_t)/n
# makes every per-type term independent of n, so the WHOLE metric is
# two stacked mergeable aggregations: groupBy(doc_id, t) count, then
# groupBy(doc_id) {n=sum c, types=count, S=sum c*ln(c)} — no join, no
# window, no second scan, nothing keyed on a skewable value.
#
# Numeric discipline (the snapshot_token_drift pattern): each c*ln(c)
# term is
# ROUND(...,9)-frozen as DECIMAL(18,9) so S is an EXACT decimal sum
# (partition-order-independent); n and ln(n) are exact-integer doubles;
# the final H = ln(n) - S/n is one ln, one division, one subtraction of
# identical doubles, ROUND(...,6)-frozen before the keep compare.
_Q130_LOW_ENTROPY = 3.0


_Q130_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_words_sql()}) AS t FROM documents
),
wc AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY doc_id, t
),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
                  AS DECIMAL(18,9))) AS s
  FROM wc GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       ROUND(ln(CAST(n_tokens AS DOUBLE))
             - CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS entropy,
       (ROUND(ln(CAST(n_tokens AS DOUBLE))
              - CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        >= {_Q130_LOW_ENTROPY}) AS keep
FROM agg
"""


@register("q130_token_entropy", oracle=_Q130_ORACLE)
def q130_token_entropy(spark, sf_dir):
    toks = load(spark, sf_dir, "documents").select("doc_id", F.explode(_words()).alias("t"))
    c = F.col("c").cast("double")
    wc = toks.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.round(c * F.log(c), 9).cast("decimal(18,9)")).alias("s"),
    )
    n = F.col("n_tokens").cast("double")
    entropy = F.round(F.log(n) - F.col("s").cast("double") / n, 6)
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        entropy.alias("entropy"),
        (entropy >= _Q130_LOW_ENTROPY).alias("keep"),
    )


# --------------------------------------------------------------------------
# q132: ENCODING REPAIR (fix-unicode / ftfy pass) — the first text-fix
# step of every published pretraining pipeline (C4, Gopher, RefinedWeb
# all "fix unicode" before any quality rule runs): a crawl shard that
# was UTF-8 but got re-decoded as latin-1 carries mojibake ('á' U+00E1
# -> bytes C3 A1 -> 'Ã¡'), and every downstream token/dedup/quality
# metric silently degrades on it. The corpus here is clean ASCII, so —
# exactly like snapshot_diff synthesizes its stale-snapshot docs — the query
# deterministically simulates the damage on one md5 bucket of docs
# (intended accented text double-encoded into mojibake), then runs the
# real repair rule (detect the 'Ã' signature, reverse the latin-1
# mis-decode) and PROVES per doc that repair restores the intended
# text (roundtrip_ok). The pytest grounds the simulated byte mapping
# in the actual encode/decode round trip.
# Reference intent: the reference's OCR text clean chain normalizes
# extractor artifacts before storage (`src/image_extractor.py:533-549`);
# this is the encoding-level member of that family at corpus scale.
#
# Numeric discipline: string equality and integer counts only.
# Scale shape: pure map-side string work on ONE narrow scan — zero
# shuffles, zero Python, whole-stage codegen end to end (PLANS.md).
_Q132_BUCKETS = 10


_Q132_BAD_BUCKET = 7


# the latin-1 mis-decode of each intended accented char (pytest asserts
# these equal the real .encode('utf-8').decode('latin-1') round trip)
_Q132_MAP = [("a", "á", "Ã¡"), ("e", "é", "Ã©")]


_Q132_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text,
         {md5_bucket_sql("doc_id", _Q132_BUCKETS)} = {_Q132_BAD_BUCKET} AS bad
  FROM documents
),
sim AS (
  SELECT doc_id, bad,
    CASE WHEN bad THEN REPLACE(REPLACE(text, 'a', '{_Q132_MAP[0][1]}'),
                               'e', '{_Q132_MAP[1][1]}')
         ELSE text END AS intended,
    CASE WHEN bad THEN REPLACE(REPLACE(text, 'a', '{_Q132_MAP[0][2]}'),
                               'e', '{_Q132_MAP[1][2]}')
         ELSE text END AS stored
  FROM d
),
rep AS (
  SELECT doc_id, intended, stored,
    CONTAINS(stored, 'Ã') AS was_mojibake,
    CAST(LENGTH(stored) - LENGTH(REPLACE(stored, 'Ã', '')) AS BIGINT)
      AS n_bad_seqs,
    REPLACE(REPLACE(stored, '{_Q132_MAP[0][2]}', '{_Q132_MAP[0][1]}'),
            '{_Q132_MAP[1][2]}', '{_Q132_MAP[1][1]}') AS repaired
  FROM sim
)
SELECT doc_id, was_mojibake, n_bad_seqs,
       md5(repaired) AS repaired_md5,
       repaired = intended AS roundtrip_ok
FROM rep
"""


@register("q132_encoding_repair", oracle=_Q132_ORACLE)
def q132_encoding_repair(spark, sf_dir):
    from sparkextract.queries.base import md5_bucket

    (pa, ia, ma), (pe, ie, me) = _Q132_MAP
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (md5_bucket(F.col("doc_id"), _Q132_BUCKETS) == _Q132_BAD_BUCKET).alias(
            "bad"
        ),
    )
    sim = d.select(
        "doc_id",
        F.when(
            F.col("bad"),
            F.replace(F.replace("text", F.lit(pa), F.lit(ia)), F.lit(pe), F.lit(ie)),
        )
        .otherwise(F.col("text"))
        .alias("intended"),
        F.when(
            F.col("bad"),
            F.replace(F.replace("text", F.lit(pa), F.lit(ma)), F.lit(pe), F.lit(me)),
        )
        .otherwise(F.col("text"))
        .alias("stored"),
    )
    repaired = F.replace(
        F.replace("stored", F.lit(ma), F.lit(ia)), F.lit(me), F.lit(ie)
    )
    rep = sim.select(
        "doc_id",
        "intended",
        F.col("stored").contains("Ã").alias("was_mojibake"),
        (
            F.length("stored")
            - F.length(F.replace("stored", F.lit("Ã"), F.lit("")))
        )
        .cast("long")
        .alias("n_bad_seqs"),
        repaired.alias("repaired"),
    )
    return rep.select(
        "doc_id",
        "was_mojibake",
        "n_bad_seqs",
        F.md5(F.col("repaired").cast("binary")).alias("repaired_md5"),
        (F.col("repaired") == F.col("intended")).alias("roundtrip_ok"),
    )


_Q135_STOP = ("a", "the", "of", "to")


_Q135_BIAS = -13_700_000  # centers keep near the sf0.01 corpus median


# weights on the micro-unit features: (f_len, f_mwl, f_uniq, f_stop)
_Q135_W = (2, 1, 3, -4)


_Q135_STOP_SQL = ", ".join(f"'{s}'" for s in _Q135_STOP)


_Q135_ORACLE = f"""
SELECT doc_id, n_tokens, n_stop, logit_u, (logit_u >= 0) AS keep
FROM (
  SELECT doc_id, n_tokens, n_stop,
         CAST({_Q135_W[0]}
                * CAST(ROUND(ln(1 + n_tokens) * 1000000.0) AS BIGINT)
              + {_Q135_W[1]}
                * CAST(ROUND(CAST(sum_len AS DOUBLE) / n_tokens
                             * 1000000.0) AS BIGINT)
              + {_Q135_W[2]}
                * CAST(ROUND(CAST(n_distinct AS DOUBLE) / n_tokens
                             * 1000000.0) AS BIGINT)
              + ({_Q135_W[3]})
                * CAST(ROUND(CAST(n_stop AS DOUBLE) / n_tokens
                             * 1000000.0) AS BIGINT)
              + ({_Q135_BIAS}) AS BIGINT) AS logit_u
  FROM (
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(l, x -> length(x))) AS BIGINT)
             AS sum_len,
           CAST(len(list_filter(l, x -> x IN ({_Q135_STOP_SQL})))
                AS BIGINT) AS n_stop
    FROM (SELECT doc_id, {_words_sql()} AS l FROM documents)
    WHERE len(l) >= 1
  )
)
"""


@register("q135_quality_classifier", oracle=_Q135_ORACLE)
def q135_quality_classifier(spark, sf_dir):
    # map-only: one documents scan, array exprs, no shuffle
    t = load(spark, sf_dir, "documents").select(
        "doc_id", _words().alias("l")
    ).filter(F.size("l") >= 1)
    l = F.col("l")

    # OR-chain membership test (portable inside array lambdas)
    def _is_stop(x):
        e = x == F.lit(_Q135_STOP[0])
        for s in _Q135_STOP[1:]:
            e = e | (x == F.lit(s))
        return e

    n_tokens = F.size(l).cast("long")
    n_distinct = F.size(F.array_distinct(l)).cast("long")
    sum_len = F.aggregate(
        l, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_stop = F.size(F.filter(l, _is_stop)).cast("long")

    def _u(x):
        return F.round(x * F.lit(1000000.0)).cast("long")

    nt_d = n_tokens.cast("double")
    f_len = _u(F.log(F.lit(1) + n_tokens))
    f_mwl = _u(sum_len.cast("double") / nt_d)
    f_uniq = _u(n_distinct.cast("double") / nt_d)
    f_stop = _u(n_stop.cast("double") / nt_d)
    logit = (
        F.lit(_Q135_W[0]).cast("long") * f_len
        + F.lit(_Q135_W[1]).cast("long") * f_mwl
        + F.lit(_Q135_W[2]).cast("long") * f_uniq
        + F.lit(_Q135_W[3]).cast("long") * f_stop
        + F.lit(_Q135_BIAS).cast("long")
    )
    return t.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
        logit.alias("logit_u"),
        (logit >= 0).alias("keep"),
    )


_Q136_GAMMA_DEN = 4  # gamma = 1/4; gamma*(1-gamma) = 3/16 = 0.1875


_Q136_Z_FLAG_U = 2_000_000  # flag at z >= 2


_Q136_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_words_sql()} AS l FROM documents
),
b AS (
  SELECT doc_id, {_kgrams_sql("l", 2, "|")} AS bg FROM t WHERE len(l) >= 2
),
g AS (
  SELECT doc_id,
         CAST(len(bg) AS BIGINT) AS n_bigrams,
         CAST(len(list_filter(bg,
              x -> {md5_bucket_sql('x', _Q136_GAMMA_DEN)} = 0))
              AS BIGINT) AS n_green
  FROM b
)
SELECT doc_id, n_bigrams, n_green,
       CAST(ROUND((n_green - 0.25 * n_bigrams)
                  / sqrt(0.1875 * n_bigrams) * 1000000.0) AS BIGINT) AS z_u,
       (CAST(ROUND((n_green - 0.25 * n_bigrams)
                   / sqrt(0.1875 * n_bigrams) * 1000000.0) AS BIGINT)
        >= {_Q136_Z_FLAG_U}) AS flagged
FROM g
"""


@register("q136_watermark_detect", oracle=_Q136_ORACLE)
def q136_watermark_detect(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    t = docs.select("doc_id", _words().alias("l")).filter(F.size("l") >= 2)
    b = t.select("doc_id", _kgrams(F.col("l"), 2, "|").alias("bg"))
    n = F.size("bg").cast("long")
    g = F.size(
        F.filter("bg", lambda x: md5_bucket(x, _Q136_GAMMA_DEN) == 0)
    ).cast("long")
    scored = b.select(
        "doc_id", n.alias("n_bigrams"), g.alias("n_green")
    )
    nb = F.col("n_bigrams").cast("double")
    z = F.round(
        (F.col("n_green") - F.lit(0.25) * nb)
        / F.sqrt(F.lit(0.1875) * nb)
        * F.lit(1000000.0)
    ).cast("long")
    return scored.select(
        "doc_id",
        "n_bigrams",
        "n_green",
        z.alias("z_u"),
        (z >= _Q136_Z_FLAG_U).alias("flagged"),
    )


def _ratio_u_sql(num: str, den: str) -> str:
    return (
        f"CASE WHEN {den} = 0 THEN CAST(-1 AS BIGINT) "
        f"ELSE CAST(ROUND(CAST({num} AS DOUBLE) * 1000000.0 "
        f"/ ({den})) AS BIGINT) END"
    )


_Q141_SECRET_RE = "sk-[0-9a-f]{32}"


_Q141_SLOPPY_RE = "sk-[0-9a-f]+"


_Q141_CORPUS = """
  SELECT doc_id,
         text || CASE WHEN doc_id % 11 = 0
                      THEN ' key sk-' || md5(CAST(doc_id AS VARCHAR))
                      ELSE '' END
              || CASE WHEN doc_id % 9 = 0
                      THEN ' id sk-' || SUBSTRING(
                             md5('x' || CAST(doc_id AS VARCHAR)), 1, 8)
                      ELSE '' END AS text,
         (doc_id % 11 = 0) AS truth
  FROM documents
"""


_Q141_ORACLE = f"""
WITH corpus AS ({_Q141_CORPUS}),
d AS (
  SELECT truth,
         regexp_matches(text, '{_Q141_SECRET_RE}') AS det_strict,
         regexp_matches(text, '{_Q141_SLOPPY_RE}') AS det_sloppy
  FROM corpus
),
u AS (
  SELECT 'strict' AS detector, truth, det_strict AS det FROM d
  UNION ALL
  SELECT 'sloppy' AS detector, truth, det_sloppy AS det FROM d
),
cm AS (
  SELECT detector,
         CAST(SUM(CASE WHEN det AND truth THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(SUM(CASE WHEN det AND NOT truth THEN 1 ELSE 0 END) AS BIGINT)
           AS fp,
         CAST(SUM(CASE WHEN truth AND NOT det THEN 1 ELSE 0 END) AS BIGINT)
           AS fn
  FROM u GROUP BY detector
)
SELECT detector, tp, fp, fn,
       {_ratio_u_sql('tp', 'tp + fp')} AS precision_u,
       {_ratio_u_sql('tp', 'tp + fn')} AS recall_u
FROM cm
"""


@register("q141_secret_scan_eval", oracle=_Q141_ORACLE)
def q141_secret_scan_eval(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" key sk-"), F.md5(F.col("doc_id").cast("string"))
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.lit(" id sk-"),
                F.substring(
                    F.md5(F.concat(F.lit("x"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
            ),
        ).otherwise(F.lit("")),
    )
    truth = F.col("doc_id") % 11 == 0
    d = docs.select(
        truth.alias("truth"),
        (F.regexp_count(text, F.lit(_Q141_SECRET_RE)) > 0).alias("det_strict"),
        (F.regexp_count(text, F.lit(_Q141_SLOPPY_RE)) > 0).alias("det_sloppy"),
    )
    u = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("strict").alias("detector"),
                    F.col("det_strict").alias("det"),
                ),
                F.struct(
                    F.lit("sloppy").alias("detector"),
                    F.col("det_sloppy").alias("det"),
                ),
            )
        ).alias("e"),
        "truth",
    ).select(F.col("e.detector").alias("detector"), F.col("e.det").alias("det"), "truth")
    cm = u.groupBy("detector").agg(
        F.sum(F.when(F.col("det") & F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("det") & ~F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("truth") & ~F.col("det"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )

    def _ratio(num, den):
        return F.when(den == 0, F.lit(-1).cast("long")).otherwise(
            F.round(num.cast("double") * F.lit(1000000.0) / den).cast("long")
        )

    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return cm.select(
        "detector",
        "tp",
        "fp",
        "fn",
        _ratio(tp, tp + fp).alias("precision_u"),
        _ratio(tp, tp + fn).alias("recall_u"),
    )


# ---------------------------------------------------------------------
# q189
_Q189_D = 0.75  # absolute discount (Chen & Goodman's fixed-D variant)


_Q189_ORACLE = f"""
WITH words AS (
  SELECT doc_id, {_words_sql()} AS w FROM documents
),
inst AS (
  SELECT doc_id, w[i] AS a, w[i + 1] AS b
  FROM words,
       LATERAL (SELECT unnest(range(1, GREATEST(len(w) - 1, 0) + 1)) AS i)
),
big AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM inst GROUP BY a, b
),
left_stats AS (
  SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a,
         CAST(COUNT(*) AS BIGINT) AS n1f
  FROM big GROUP BY a
),
right_stats AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n1r FROM big GROUP BY b
),
bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM big),
lm AS (
  SELECT g.a, g.b,
         (CAST(g.c_ab AS DOUBLE) - {_Q189_D}) / CAST(l.c_a AS DOUBLE)
         + ({_Q189_D} * CAST(l.n1f AS DOUBLE) / CAST(l.c_a AS DOUBLE))
           * (CAST(r.n1r AS DOUBLE) / CAST(bt.n_types AS DOUBLE)) AS p
  FROM big g
  JOIN left_stats l ON l.a = g.a
  JOIN right_stats r ON r.b = g.b
  CROSS JOIN bt
)
SELECT i.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(-CAST(SUM(CAST(ROUND(ln(lm.p), 9) AS DECIMAL(18,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS xent
FROM inst i
JOIN lm ON lm.a = i.a AND lm.b = i.b
GROUP BY i.doc_id
"""


def _q189_inst(spark, sf_dir):
    words = load(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    return words.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
                F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("ab"),
    ).select("doc_id", F.col("ab.a").alias("a"), F.col("ab.b").alias("b"))


@register("q189_kneser_ney_lm", oracle=_Q189_ORACLE)
def q189_kneser_ney_lm(spark, sf_dir):
    inst = _q189_inst(spark, sf_dir)
    # the bigram count table feeds FOUR sibling subtrees (left stats,
    # right stats, the type total, and the LM join); without eager
    # materialization each one re-scans and re-explodes the corpus
    # (PLANS.md showed 5 scans). It is vocab^2-bounded, far smaller
    # than the corpus — the exact case checkpoint_memo exists for.
    big = checkpoint_memo(
        spark,
        sf_dir,
        "q189_bigrams",
        lambda: _q189_inst(spark, sf_dir)
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("c_ab")),
    )
    left_stats = big.groupBy("a").agg(
        F.sum("c_ab").cast("long").alias("c_a"),
        F.count("*").cast("long").alias("n1f"),
    )
    right_stats = big.groupBy("b").agg(F.count("*").cast("long").alias("n1r"))
    bt = big.agg(F.count("*").cast("long").alias("n_types"))
    d = F.lit(_Q189_D)
    p = (F.col("c_ab").cast("double") - d) / F.col("c_a").cast("double") + (
        d * F.col("n1f").cast("double") / F.col("c_a").cast("double")
    ) * (F.col("n1r").cast("double") / F.col("n_types").cast("double"))
    lm = (
        big.join(left_stats, "a")
        .join(right_stats, "b")
        .crossJoin(F.broadcast(bt))
        .select("a", "b", p.alias("p"))
    )
    return (
        inst.join(lm, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                -F.sum(F.round(F.log("p"), 9).cast("decimal(18,9)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("xent"),
        )
    )
