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

q148 — FILTER DISPARITY AUDIT (Gini over per-source keep rates). A
corpus-wide quality gate that silently drops one source or language
harder than the rest is a curation bug (the Gopher/Dolma reports audit
exactly this); the standard scalar is the GINI COEFFICIENT of the
per-group keep rates, plus the max-min range. The keep gate is the
q135 linear classifier (same frozen weights); per-source (n, k) is ONE
map-side-combinable groupBy; everything after — pairwise |r_i - r_j|,
the Gini ratio — runs on the <= #sources row grain (20 at every SF;
the documented tiny-grain exception).
Numeric discipline: rates are micro-unit BIGINTs; the pairwise
absolute-difference sum is exact integer arithmetic (bounded by
n_src^2 * 1e6 << 2^53); Gini = sumabs / (2 * n_src * sum_rates) is ONE
IEEE division snapped to micro-units.

q160 — TEMPLATE / BOILERPLATE PROFILING PER SOURCE. Crawl sources that
stamp every page from a template share their opening tokens; the
standard cheap detector profiles the 2-token PREFIX distribution per
source: how many distinct prefixes, the largest prefix class, and the
share of docs whose prefix is shared with another doc of the SAME
source (template_share). High share + low distinct-prefix count flags
a templated source before any expensive near-dup pass runs (this is
the triage query that decides whether q96's block dedup is worth
scheduling for a source). All integers; one final snapped division.
Scale shape: two STACKED map-side-combinable groupBys — (source,
prefix) then (source) — the canonical two-level reduction; no joins,
no windows, nothing content-keyed survives to the second level.

q201 — COMPRESSION-PROXY TEMPLATE AUDIT. Fraction of repeated 8-gram
INSTANCES inside each source (1 - distinct/total) — the cheap proxy
for zstd-dictionary compressibility and templated/boilerplate content
used to pick which sources get dictionary compression and which feed
the q160 template profiler. Exact integer micro-units.

Scale shape: one explode -> two-level mergeable agg ((source, gram)
then source). Map-side combine absorbs hot grams; nothing else.
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
# a length/diversity cascade. Bigram construction
# guards size<2 explicitly (F.sequence(1,0) is DESCENDING in Spark —
# the q68 advice bug class); both fractions are ROUND(...,6)-ed BEFORE
# the threshold compare so the keep decision is identical in both
# engines. Scale shape: ONE text scan — the bigram stats are
# array-local, so they are computed before the word explode and carried
# through both aggregations as grouping keys (functionally dependent on
# doc_id); no big/tw join exists at all (r3 plan audit showed 2 scans +
# a doc_id join). Both shuffles are key-partitioned and mergeable;
# nothing is quadratic in doc length but the bigram list (linear).
_Q84_DUP_MAX = 0.05   # duplicate-bigram fraction ceiling


_Q84_TOP_MAX = 0.15   # most-common-word mass ceiling


_Q84_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
  FROM documents
),
big AS (
  SELECT doc_id,
    len(grams) AS n_bigrams,
    len(list_distinct(grams)) AS n_distinct_bigrams
  FROM (
    SELECT doc_id,
      list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]) AS grams
    FROM toks
  )
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
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("a"),
    )
    grams = (
        F.when(
            F.size("a") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("a") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("a", i), F.element_at("a", i + 1)
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
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
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
  FROM documents
),
inst AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bigram
  FROM toks
),
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
        lambda: load(spark, sf_dir, "documents").select(
            "doc_id",
            F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("a"),
        ),
    )
    inst = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("a") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("a") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("a", i), F.element_at("a", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
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
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
  FROM documents
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
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
    )
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


# shared core: doc_id, lang, n_tokens, n_stop, logit_u, keep
def _q135_core_sql(src: str = "documents") -> str:
    """The classifier-core SQL over any (doc_id, lang, text) relation."""
    return f"""
  SELECT doc_id, lang, n_tokens, n_stop,
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
    SELECT doc_id, lang,
           CAST(len(l) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(l, x -> length(x))) AS BIGINT)
             AS sum_len,
           CAST(len(list_filter(l, x -> x IN ({_Q135_STOP_SQL})))
                AS BIGINT) AS n_stop
    FROM (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM {src}
    )
    WHERE len(l) >= 1
  )
"""


_Q135_CORE_SQL = _q135_core_sql()


_Q135_ORACLE = f"""
SELECT doc_id, n_tokens, n_stop, logit_u, (logit_u >= 0) AS keep
FROM ({_Q135_CORE_SQL})
"""


def _q135_features(spark, sf_dir):
    """doc_id, lang, n_tokens, n_stop, logit_u — the shared classifier
    core (map-only: one documents scan, array exprs, no shuffle)."""
    return _q135_features_of(load(spark, sf_dir, "documents"))


def _q135_features_of(docs):
    """Classifier core over any (doc_id, lang, text) frame — the Spark
    twin of :func:`_q135_core_sql`'s ``src`` parameter."""
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    t = docs.select(
        "doc_id", "lang", toks.alias("l")
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
        "lang",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
        logit.alias("logit_u"),
    )


@register("q135_quality_classifier", oracle=_Q135_ORACLE)
def q135_quality_classifier(spark, sf_dir):
    f = _q135_features(spark, sf_dir)
    return f.select(
        "doc_id",
        "n_tokens",
        "n_stop",
        "logit_u",
        (F.col("logit_u") >= 0).alias("keep"),
    )


_Q136_GAMMA_DEN = 4  # gamma = 1/4; gamma*(1-gamma) = 3/16 = 0.1875


_Q136_Z_FLAG_U = 2_000_000  # flag at z >= 2


_Q136_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
b AS (
  SELECT doc_id,
         list_transform(range(2, len(l) + 1),
                        i -> l[i - 1] || '|' || l[i]) AS bg
  FROM t WHERE len(l) >= 2
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
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    t = docs.select("doc_id", toks.alias("l")).filter(F.size("l") >= 2)
    l = F.col("l")
    bg = F.transform(
        F.sequence(F.lit(2), F.size(l)),
        lambda i: F.concat(
            F.element_at(l, i - F.lit(1)), F.lit("|"), F.element_at(l, i)
        ),
    )
    b = t.select("doc_id", bg.alias("bg"))
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
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
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
    words = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("w"),
    )
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


# --------------------------------------------------------------------------
# q75: rule-based document-quality filter — the C4/Gopher-style cleaning
# pass a web-scale training-data pipeline runs before anything else:
# per-document word count bounds, mean-word-length band, and lexical-
# diversity floor, each doc tagged keep/reject with the FIRST failing
# rule as its reject_reason (rules are ordered, like the published
# pipelines' cascades). Complements q25 (weighted quality score,
# source-grain): this is the hard per-doc verdict.
# Float discipline: diversity and mean_word_len are each ONE IEEE
# division of exact integers (identical in both engines); threshold
# compares run on the raw quotient, ROUND only for display.
# Scale shape: map-only over one scan — no shuffle, fully codegen'd.
_Q75_MIN_WORDS = 50


_Q75_MAX_WORDS = 5000


_Q75_WLEN_LO = 2.0


_Q75_WLEN_HI = 12.0


_Q75_MIN_DIVERSITY = 0.05


# shared word-metric definitions: q75's rule filter and q94's composed
# pipeline MUST tokenize identically in BOTH engines, so each metric has
# exactly one SQL fragment and one Spark builder (drift between the two
# queries would be invisible to the oracle gate — both engines would
# drift together)
_SQL_N_WORDS = "CAST(LENGTH(regexp_extract_all(text, '\\S+')) AS BIGINT)"


_SQL_N_DISTINCT = (
    "CAST(LENGTH(list_distinct(list_filter("
    "regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS BIGINT)"
)


def _n_words_col():
    return F.regexp_count("text", F.lit(r"\S+")).cast("long")


def _n_distinct_col():
    return F.size(
        F.array_distinct(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    ).cast("long")


_Q75_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         {_SQL_N_WORDS} AS n_words,
         {_SQL_N_DISTINCT} AS n_distinct,
         CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonspace
  FROM documents
),
v AS (
  SELECT doc_id, n_words, n_distinct,
         CAST(n_distinct AS DOUBLE) / n_words AS diversity,
         CAST(n_nonspace AS DOUBLE) / n_words AS mean_wlen
  FROM m
)
SELECT doc_id, n_words, n_distinct,
       ROUND(diversity, 6) AS diversity,
       ROUND(mean_wlen, 6) AS mean_word_len,
       CASE WHEN n_words < {_Q75_MIN_WORDS} THEN 'too_short'
            WHEN n_words > {_Q75_MAX_WORDS} THEN 'too_long'
            WHEN mean_wlen < {_Q75_WLEN_LO} OR mean_wlen > {_Q75_WLEN_HI} THEN 'word_len'
            WHEN diversity < {_Q75_MIN_DIVERSITY} THEN 'repetitive'
            ELSE 'pass' END AS reject_reason,
       (n_words >= {_Q75_MIN_WORDS} AND n_words <= {_Q75_MAX_WORDS}
        AND mean_wlen >= {_Q75_WLEN_LO} AND mean_wlen <= {_Q75_WLEN_HI}
        AND diversity >= {_Q75_MIN_DIVERSITY}) AS keep
FROM v
"""


@register("q75_quality_rules", oracle=_Q75_ORACLE)
def q75_quality_rules(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", "")).cast("long")
    m = docs.select(
        "doc_id",
        _n_words_col().alias("n_words"),
        _n_distinct_col().alias("n_distinct"),
        n_nonspace.alias("n_nonspace"),
    )
    # NULL (not NaN) for zero-word docs: Spark's double x/0 is IEEE NaN
    # while DuckDB's is NULL — guard the divisions so a whitespace-only
    # document (the exact junk this filter exists for) cannot split the
    # engines; reject_reason still reads 'too_short' via the first rule
    nz_words = F.when(F.col("n_words") > 0, F.col("n_words"))
    diversity = F.col("n_distinct").cast("double") / nz_words
    mean_wlen = F.col("n_nonspace").cast("double") / nz_words
    reason = (
        F.when(F.col("n_words") < _Q75_MIN_WORDS, "too_short")
        .when(F.col("n_words") > _Q75_MAX_WORDS, "too_long")
        .when((mean_wlen < _Q75_WLEN_LO) | (mean_wlen > _Q75_WLEN_HI), "word_len")
        .when(diversity < _Q75_MIN_DIVERSITY, "repetitive")
        .otherwise("pass")
    )
    keep = (
        (F.col("n_words") >= _Q75_MIN_WORDS)
        & (F.col("n_words") <= _Q75_MAX_WORDS)
        & (mean_wlen >= _Q75_WLEN_LO)
        & (mean_wlen <= _Q75_WLEN_HI)
        & (diversity >= _Q75_MIN_DIVERSITY)
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(diversity, 6).alias("diversity"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        reason.alias("reject_reason"),
        keep.alias("keep"),
    )


# --------------------------------------------------------------------------
# q97: PII REDACTION — the scrub pass every public-web training corpus
# runs before tokenization: emails and phone-shaped strings are replaced
# by typed placeholder tags and counted per document. The corpus carries
# no natural PII, so deterministic PII is injected first (doc_id%7 adds
# an email, doc_id%13 adds a phone — the q68 injection pattern); the
# operator is the redaction itself. Patterns stay in the portable
# regex subset (character classes, +, {m,n}, \b) that Java regex (Spark)
# and RE2 (DuckDB) evaluate identically. Reference analog: the OCR
# text-clean regex chain (reference src/utils/validation.py via
# core/normalize.py:42) applied to privacy scrubbing.
# Scale shape: map-only — one scan, zero shuffles at any corpus size.
_Q97_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"


_Q97_PHONE_RE = r"\b555-[0-9]{4}\b"


_Q97_CORPUS = """
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0
                      THEN ' contact user' || CAST(doc_id AS VARCHAR)
                           || '@example.com now'
                      ELSE '' END
              || CASE WHEN doc_id % 13 = 0
                      THEN ' call 555-' || SUBSTRING(
                             CAST(10000 + doc_id % 10000 AS VARCHAR), 2, 4)
                      ELSE '' END AS text
  FROM documents
"""


_Q97_ORACLE = f"""
WITH corpus AS (
  {_Q97_CORPUS}
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_Q97_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_Q97_PHONE_RE}')) AS INT) AS n_phones,
       (len(regexp_extract_all(text, '{_Q97_EMAIL_RE}'))
        + len(regexp_extract_all(text, '{_Q97_PHONE_RE}'))) > 0 AS has_pii,
       md5(regexp_replace(regexp_replace(text, '{_Q97_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_Q97_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM corpus
"""


@register("q97_pii_redaction", oracle=_Q97_ORACLE)
def q97_pii_redaction(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    phone4 = F.substring(
        (10000 + F.col("doc_id") % 10000).cast("string"), 2, 4
    )
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.lit(" call 555-"), phone4))
        .otherwise(F.lit("")),
    )
    n_emails = F.regexp_count(text, F.lit(_Q97_EMAIL_RE)).cast("int")
    n_phones = F.regexp_count(text, F.lit(_Q97_PHONE_RE)).cast("int")
    redacted = F.regexp_replace(
        F.regexp_replace(text, _Q97_EMAIL_RE, "<EMAIL>"), _Q97_PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        ((n_emails + n_phones) > 0).alias("has_pii"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# q129: K-ANONYMITY RELEASE GATE (Sweeney 2002) — the privacy screen a
# corpus release runs AFTER content-level PII redaction (q97): a
# document is re-identifiable not just by what its text says but by its
# metadata footprint, so the release checks the quasi-identifier tuple
# (lang, source, length-bucket) against a minimum group size K. A doc is
# released at level 0 if >= K docs share its full QI tuple; otherwise
# the standard generalization-ladder step drops the most identifying
# attribute (source) and re-tests (lang, length-bucket) — level 1; docs
# still in a group < K are SUPPRESSED (level 2). Reference intent: the
# reference's metadata/summary surfaces expose (source, size) per
# document (reference src/table_extractor.py:778-782 summary tables); this is the release-side control over exactly those
# attributes.
#
# Numeric discipline: pure integer arithmetic end to end (counts and an
# exact integer division length bucket) — nothing to round.
# Scale shape: two map-side-combinable groupBy counts whose results are
# DIMENSION-TABLE sized (|lang| x |source| x |bucket|), broadcast back
# onto the doc scan — zero corpus-sized shuffles; never a window over
# the QI key (the q96/q99 de-skew rule: a hot QI group lands on one
# task under a window, but a broadcast-join count is skew-immune).
_Q129_K = 5


_Q129_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, source, CAST(n_chars // 200 AS BIGINT) AS len_bucket
  FROM documents
),
g0 AS (SELECT lang, source, len_bucket, COUNT(*) AS g0
       FROM d GROUP BY lang, source, len_bucket),
g1 AS (SELECT lang, len_bucket, COUNT(*) AS g1
       FROM d GROUP BY lang, len_bucket)
SELECT d.doc_id, d.lang, d.source, d.len_bucket,
       CAST(g0.g0 AS BIGINT) AS g0, CAST(g1.g1 AS BIGINT) AS g1,
       CAST(CASE WHEN g0.g0 >= {_Q129_K} THEN 0
                 WHEN g1.g1 >= {_Q129_K} THEN 1
                 ELSE 2 END AS INTEGER) AS anon_level,
       (g0.g0 >= {_Q129_K} OR g1.g1 >= {_Q129_K}) AS released
FROM d
JOIN g0 USING (lang, source, len_bucket)
JOIN g1 USING (lang, len_bucket)
"""


@register("q129_k_anonymity", oracle=_Q129_ORACLE)
def q129_k_anonymity(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr("CAST(n_chars div 200 AS BIGINT)").alias("len_bucket"),
    )
    g0 = d.groupBy("lang", "source", "len_bucket").agg(
        F.count("*").alias("g0")
    )
    g1 = d.groupBy("lang", "len_bucket").agg(F.count("*").alias("g1"))
    anon = (
        F.when(F.col("g0") >= _Q129_K, 0)
        .when(F.col("g1") >= _Q129_K, 1)
        .otherwise(2)
        .cast("int")
    )
    return (
        d.join(F.broadcast(g0), ["lang", "source", "len_bucket"])
        .join(F.broadcast(g1), ["lang", "len_bucket"])
        .select(
            "doc_id",
            "lang",
            "source",
            "len_bucket",
            "g0",
            "g1",
            anon.alias("anon_level"),
            (
                (F.col("g0") >= _Q129_K) | (F.col("g1") >= _Q129_K)
            ).alias("released"),
        )
    )


_Q148_ORACLE = f"""
WITH core AS (
  SELECT d.source, (c.logit_u >= 0) AS keep
  FROM ({_Q135_CORE_SQL}) c JOIN documents d USING (doc_id)
), per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         CAST(ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000.0
                    / COUNT(*)) AS BIGINT) AS keep_rate_u
  FROM core GROUP BY source
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
         CAST(SUM(keep_rate_u) AS BIGINT) AS sum_r,
         CAST(MAX(keep_rate_u) - MIN(keep_rate_u) AS BIGINT) AS range_u
  FROM per_src
), sumabs AS (
  SELECT CAST(SUM(ABS(a.keep_rate_u - b.keep_rate_u)) AS BIGINT) AS sumabs
  FROM per_src a, per_src b
), gini AS (
  SELECT CAST(ROUND(sumabs * 1000000.0 / (2.0 * n_src * sum_r)) AS BIGINT)
           AS gini_u,
         range_u
  FROM sumabs, stats
)
SELECT p.source, p.n_docs, p.n_keep, p.keep_rate_u, g.gini_u, g.range_u
FROM per_src p, gini g
"""


@register("q148_filter_disparity", oracle=_Q148_ORACLE)
def q148_filter_disparity(spark, sf_dir):
    feats = _q135_features(spark, sf_dir).select(
        "doc_id", (F.col("logit_u") >= 0).alias("keep")
    )
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    per_src = (
        feats.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
        )
        .withColumn(
            "keep_rate_u",
            F.round(F.col("n_keep") * F.lit(1000000.0) / F.col("n_docs"))
            .cast("long"),
        )
    )
    # tiny grain from here (<= #sources rows): pairwise |diff| + the
    # Gini ratio on a crossJoin of the aggregated frame with itself
    a = per_src.select(F.col("keep_rate_u").alias("ra"))
    b = per_src.select(F.col("keep_rate_u").alias("rb"))
    sumabs = a.crossJoin(b).agg(
        F.sum(F.abs(F.col("ra") - F.col("rb"))).cast("long").alias("sumabs")
    )
    stats = per_src.agg(
        F.count("*").cast("long").alias("n_src"),
        F.sum("keep_rate_u").cast("long").alias("sum_r"),
        (F.max("keep_rate_u") - F.min("keep_rate_u"))
        .cast("long")
        .alias("range_u"),
    )
    gini = sumabs.crossJoin(stats).select(
        F.round(
            F.col("sumabs")
            * F.lit(1000000.0)
            / (F.lit(2.0) * F.col("n_src") * F.col("sum_r"))
        )
        .cast("long")
        .alias("gini_u"),
        "range_u",
    )
    return per_src.crossJoin(F.broadcast(gini))


_Q160_PREFIX_N = 2


_Q160_ORACLE = f"""
WITH d AS (
  SELECT source,
         array_to_string(string_split(text, ' ')[1:{_Q160_PREFIX_N}], ' ')
           AS prefix
  FROM documents
),
per_prefix AS (
  SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS c
  FROM d GROUP BY source, prefix
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_prefixes,
       CAST(MAX(c) AS BIGINT) AS max_prefix_docs,
       CAST(ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000000.0
                  / SUM(c)) AS BIGINT) AS template_share_u
FROM per_prefix GROUP BY source
"""


@register("q160_template_prefix_profile", oracle=_Q160_ORACLE)
def q160_template_prefix_profile(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.array_join(
            F.slice(F.split("text", " "), 1, _Q160_PREFIX_N), " "
        ).alias("prefix"),
    )
    per_prefix = d.groupBy("source", "prefix").agg(
        F.count("*").cast("long").alias("c")
    )
    return per_prefix.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_prefixes"),
        F.max("c").cast("long").alias("max_prefix_docs"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            * F.lit(1000000.0)
            / F.sum("c")
        )
        .cast("long")
        .alias("template_share_u"),
    )


# ---------------------------------------------------------------------
# q201
_Q201_N = 8  # gram width


_Q201_ORACLE = f"""
WITH grams AS (
  SELECT source, gram FROM (
    SELECT source,
           unnest(list_transform(range(1, len(a) - {_Q201_N} + 2),
                  i -> array_to_string(a[i:i+{_Q201_N - 1}], ' '))) AS gram
    FROM (SELECT source,
                 list_filter(string_split(text, ' '), t -> t <> '') AS a
          FROM documents)
    WHERE len(a) >= {_Q201_N})
),
per_gram AS (
  SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS c
  FROM grams GROUP BY source, gram
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_instances,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_repeated,
       CAST((1000000 * (SUM(c) - COUNT(*))) // SUM(c) AS BIGINT)
         AS repeat_frac_u,
       (1000000 * (SUM(c) - COUNT(*))) // SUM(c) >= 300000 AS dict_worthy
FROM per_gram
GROUP BY source
"""


@register("q201_compression_proxy", oracle=_Q201_ORACLE)
def q201_compression_proxy(spark, sf_dir):
    a = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    gram = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("a") - _Q201_N + 1, F.lit(0))),
        lambda i: F.array_join(F.slice("a", i, _Q201_N), " "),
    )
    grams = (
        load(spark, sf_dir, "documents")
        .select("source", a.alias("a"))
        .filter(F.size("a") >= _Q201_N)
        .select("source", F.explode(gram).alias("gram"))
    )
    per_gram = grams.groupBy("source", "gram").agg(
        F.count("*").cast("long").alias("c")
    )
    rep = F.expr("(1000000 * (n_instances - n_distinct)) div n_instances")
    return (
        per_gram.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_instances"),
            F.count("*").cast("long").alias("n_distinct"),
            (F.sum("c") - F.count("*")).cast("long").alias("n_repeated"),
        )
        .select(
            "source",
            "n_instances",
            "n_distinct",
            "n_repeated",
            rep.cast("long").alias("repeat_frac_u"),
            (rep >= 300000).alias("dict_worthy"),
        )
    )
