"""Text-analysis queries: corpus token top-k, page-marker concat (W3/F3),
cross-method positional comparison (J4), the answer-confidence
heuristic (F8), PMI co-occurrence and one BPE merge step.

q178 — PADDING-WASTE BATCHING AUDIT. Fixed-size training batches pad
every sequence to the batch max: the packing-policy decision (arrival
order vs global length-sort vs quantile length-bucketing) is a direct
throughput lever. The audit forms batches of B=8 under each policy
with deterministic total orders (ties broken by doc_id), computes
padded = sum_batch(B_present * max_len - sum_len) in exact integers,
and reports per-policy waste. Scale shape: each policy is ONE window
over a deterministic order (q105's two-level rank applies verbatim
for the global sort at 100 TB) plus a batch-grain rollup; nothing
content-keyed, nothing quadratic.

q186 — CHAO1 + GOOD-TURING VOCABULARY RICHNESS (Chao 1984; Good 1953).
The corpus-analytics question every tokenizer/vocab decision starts
with: how much of the language's vocabulary has this crawl actually
seen? Per language: observed type count V, token count N, singleton
f1 and doubleton f2 type counts give the Chao1 lower-bound estimate of
TOTAL vocabulary V + f1*(f1-1)/(2*(f2+1)) and the Good-Turing estimate
of unseen probability mass f1/N (= chance the next token is a new
type). All outputs are exact integer micro-units — no floats anywhere.
Reference intent: corpus-level summary statistics over extracted text,
reference src/rag/text_processor.py:527-550 word/char counts
generalized to type-frequency-of-frequency statistics.

Scale shape: explode -> (lang, token)-grain mergeable count (map-side
combine absorbs the token skew) -> lang-grain mergeable agg over the
vocab-sized frame. No join, no window, no Python; both aggregations
are partial-aggregate friendly, so at 100 TB this is one shuffle of
vocab-sized data plus one of |langs| rows.

q188 — HEAPS'-LAW VOCABULARY GROWTH (Heaps 1978): V(N) ~ K*N^beta.
Complements q186's point estimate of total vocabulary with the GROWTH
CURVE a crawl-scheduling decision needs: how fast does new vocabulary
arrive as the corpus doubles? Documents are split into 10 deterministic
md5 buckets treated as an ingestion order; a token type's first-seen
bucket is min(bucket); the cumulative (tokens, types) curve is a
running sum over the 10-row bucket grain; the local Heaps exponent
between consecutive buckets is beta = dln(V)/dln(N) (ROUND 6; 0.0 for
the first bucket, where no previous point exists).
Reference intent: corpus word statistics (text_processor.py counts)
lifted to the scaling-law form.

Scale shape: token instances are never joined — first-seen is a
token-grain mergeable MIN, bucket token totals a 10-group mergeable
COUNT; all windows run over the 10-row bucket frame. One shuffle of
vocab-sized data, one of 10 rows.

q209 — DF-PRUNING ADVISOR (the min-df sweep every indexer/tokenizer
build runs; cf. scikit-learn's min_df, Lucene's index pruning,
SentencePiece's character_coverage): for each candidate document-
frequency threshold, what fraction of the VOCABULARY disappears and
what fraction of the TOKEN MASS survives? The classic Zipf trade —
dropping df==1 types typically halves the vocabulary while losing a
sliver of mass — quantified exactly: one token-grain (df, mass)
table, one threshold explode, one mergeable rollup. Thresholds
df >= {{1, 2, 5, 10}}; outputs are exact BIGINTs and integer
micro-unit fractions.
Reference intent: the reference builds its retrieval index over all
chunk text (reference src/rag/vector_database.py); at corpus
scale the index is built over a PRUNED vocabulary and this table is
how the threshold is chosen.

Scale shape: groupBy(token) df+mass (mergeable, map-side combine),
then a x4 threshold explode of the VOCAB-sized frame into a 4-group
mergeable rollup. No windows, no joins beyond a 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.sql.window import Window as W

from sparkextract.queries.base import load, md5_bucket, md5_bucket_sql, register


# --------------------------------------------------------------------------
# Top-20 token frequency (explode + agg + top-k with tie-break).
@register(
    "q23_token_topk",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) WHERE token != ''
    GROUP BY token
    ORDER BY freq DESC, token ASC
    LIMIT 20
    """,
)
def q23_token_topk(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# F3: `--- Page N ---` interpolation (reference src/text_extractor.py:97,
# 218,451) — group-concat with ordinal markers: the first 3 docs of each
# source render as one paged text blob.
@register(
    "q35_page_concat",
    oracle="""
    WITH pages AS (
      SELECT source, text,
             row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS pn
      FROM documents
    )
    SELECT source,
           string_agg('--- Page ' || CAST(pn AS VARCHAR) || ' ---' || chr(10) || text,
                      chr(10) ORDER BY pn ASC) AS paged_text
    FROM pages WHERE pn <= 3
    GROUP BY source
    """,
)
def q35_page_concat(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.asc("doc_id"))
    pages = docs.withColumn("pn", F.row_number().over(w)).filter(F.col("pn") <= 3)
    page_text = F.concat(
        F.lit("--- Page "), F.col("pn").cast("string"), F.lit(" ---\n"), F.col("text")
    )
    return (
        pages.select("source", "pn", page_text.alias("pt"))
        .groupBy("source")
        .agg(
            F.concat_ws(
                "\n", F.transform(F.array_sort(F.collect_list(F.struct("pn", "pt"))), lambda x: x["pt"])
            ).alias("paged_text")
        )
    )


# --------------------------------------------------------------------------
# q70: similarity-scored cross-extraction comparison (soft J4). Two
# "methods" produce text for the same doc: method A = the document text,
# method B = the same text with its first (doc_id % 13) chars rewritten —
# the deterministic stand-in for two extractors disagreeing on a prefix.
# score = 1 - levenshtein/maxlen, pass = score >= 0.8 (reference
# threshold). Both texts are capped at 120 chars: levenshtein is O(n*m)
# per pair in BOTH engines, so a real pipeline compares bounded prefixes
# (or hashes equal-length blocks) rather than whole documents — the cap
# is the documented scale guard, not a convenience.
_Q70_CAP = 120


_Q70_ORACLE = f"""
    WITH m AS (
      SELECT doc_id,
             substr(text, 1, {_Q70_CAP}) AS a,
             substr(repeat('x', CAST(doc_id % 13 AS INT))
                    || substr(text, CAST(doc_id % 13 AS INT) + 1),
                    1, {_Q70_CAP}) AS b
      FROM documents
    )
    SELECT doc_id,
           ROUND(1.0 - CAST(levenshtein(a, b) AS DOUBLE)
                       / GREATEST(LENGTH(a), LENGTH(b), 1), 6) AS similarity,
           (1.0 - CAST(levenshtein(a, b) AS DOUBLE)
                  / GREATEST(LENGTH(a), LENGTH(b), 1)) >= 0.8 AS agree
    FROM m
"""


@register("q70_text_similarity", oracle=_Q70_ORACLE)
def q70_text_similarity(spark, sf_dir):
    """Soft J4: per-doc edit-distance similarity between two method
    variants, thresholded at the reference's 0.8. Map-only: every
    expression is a JVM built-in over one scan, no shuffle at all."""
    docs = load(spark, sf_dir, "documents")
    a = F.substring("text", 1, _Q70_CAP)
    b = F.substring(
        F.concat(
            F.expr("repeat('x', CAST(doc_id % 13 AS INT))"),
            F.expr("substring(text, CAST(doc_id % 13 AS INT) + 1)"),
        ),
        1,
        _Q70_CAP,
    )
    sim = 1.0 - F.levenshtein(a, b).cast("double") / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    )
    return docs.select(
        "doc_id",
        F.round(sim, 6).alias("similarity"),
        (sim >= 0.8).alias("agree"),
    )


# --------------------------------------------------------------------------
# q74: F8 — the reference's LLM-answer confidence heuristic
# (reference src/rag/ollama_client.py:271-321). The LLM itself is
# out of scope (no model serving in an extraction engine), but the
# heuristic is pure string math over the answer text: presence (not
# occurrence count) of each phrase in four indicator lists, +/- fixed
# deltas from a 0.7 base, short/long length penalties, clamp to [0,1].
# All deltas are multiples of 0.05, so the score is computed in INTEGER
# centi-points (70 - 10*u - 5*h + 5*c + 10*ci - len_penalty, clamped to
# [0,100]) and divided by 100 once at the end — bit-identical across
# engines with no float-summation-order hazard. Answers are synthesized
# deterministically from document text with phrase/length injections
# keyed on doc_id so every branch of the formula is exercised.
# Scale shape: map-only single scan; every predicate is a JVM built-in
# `contains` — Catalyst keeps the whole projection in codegen.
_Q74_PHRASES = {
    # (category, delta_centi_per_present_phrase, phrases) — lists verbatim
    # from the reference, order immaterial (presence counts are summed)
    "uncertainty": (-10, ["not sure", "unclear", "might be", "possibly", "uncertain"]),
    "hedging": (-5, ["perhaps", "maybe", "likely", "appears", "seems"]),
    "certainty": (5, ["clearly", "definitely", "specifically", "exactly", "precisely"]),
    "citation": (10, ["according to", "as stated", "the document shows", "mentioned in"]),
}


# doc_id-keyed injections: (modulus, appended phrase)
_Q74_INJECT = [
    (5, " not sure"),
    (6, " possibly"),
    (7, " clearly"),
    (11, " according to"),
    (13, " maybe"),
    (17, " definitely precisely"),
]


def _q74_answer_sql() -> str:
    base = (
        "CASE WHEN doc_id % 4 = 0 THEN substr(text, 1, 30) "
        "WHEN doc_id % 9 = 0 THEN substr(repeat(text || ' ', 30), 1, 1100) "
        "ELSE substr(text, 1, 200) END"
    )
    parts = [base] + [
        f"CASE WHEN doc_id % {m} = 0 THEN '{p}' ELSE '' END" for m, p in _Q74_INJECT
    ]
    return " || ".join(parts)


def _q74_oracle() -> str:
    cats = {}
    for cat, (_delta, phrases) in _Q74_PHRASES.items():
        cats[cat] = " + ".join(
            f"CASE WHEN position('{p}' IN ans) > 0 THEN 1 ELSE 0 END" for p in phrases
        )
    return f"""
WITH answers AS (
  SELECT doc_id, {_q74_answer_sql()} AS ans FROM documents
),
counted AS (
  SELECT doc_id,
         LENGTH(ans) AS answer_len,
         {cats['uncertainty']} AS n_uncertain,
         {cats['hedging']} AS n_hedge,
         {cats['certainty']} AS n_certain,
         {cats['citation']} AS n_cite
  FROM answers
)
SELECT doc_id, n_uncertain, n_hedge, n_certain, n_cite,
       CAST(answer_len AS BIGINT) AS answer_len,
       GREATEST(0, LEAST(100,
         70 - 10*n_uncertain - 5*n_hedge + 5*n_certain + 10*n_cite
           - CASE WHEN answer_len < 50 THEN 10
                  WHEN answer_len > 1000 THEN 5 ELSE 0 END)) / 100.0
         AS confidence
FROM counted
"""


@register("q74_answer_confidence", oracle=_q74_oracle())
def q74_answer_confidence(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    base = (
        F.when(F.col("doc_id") % 4 == 0, F.substring("text", 1, 30))
        .when(
            F.col("doc_id") % 9 == 0,
            F.substring(F.repeat(F.concat(F.col("text"), F.lit(" ")), 30), 1, 1100),
        )
        .otherwise(F.substring("text", 1, 200))
    )
    ans = F.concat(
        base,
        *[
            F.when(F.col("doc_id") % m == 0, F.lit(p)).otherwise(F.lit(""))
            for m, p in _Q74_INJECT
        ],
    )
    d = docs.select("doc_id", ans.alias("ans"))
    counts = {}
    for cat, (_delta, phrases) in _Q74_PHRASES.items():
        c = None
        for p in phrases:
            t = F.when(F.col("ans").contains(p), 1).otherwise(0)
            c = t if c is None else c + t
        counts[cat] = c
    centi = (
        F.lit(70)
        - 10 * counts["uncertainty"]
        - 5 * counts["hedging"]
        + 5 * counts["certainty"]
        + 10 * counts["citation"]
        - F.when(F.length("ans") < 50, 10)
        .when(F.length("ans") > 1000, 5)
        .otherwise(0)
    )
    return d.select(
        "doc_id",
        counts["uncertainty"].alias("n_uncertain"),
        counts["hedging"].alias("n_hedge"),
        counts["certainty"].alias("n_certain"),
        counts["citation"].alias("n_cite"),
        F.length("ans").cast("long").alias("answer_len"),
        (F.greatest(F.lit(0), F.least(F.lit(100), centi)) / 100.0).alias("confidence"),
    )


# --------------------------------------------------------------------------
# q88: PMI TOKEN CO-OCCURRENCE — pointwise mutual information over
# presence-based document co-occurrence, the association-mining op a
# corpus-analysis pipeline runs to find collocations:
# pmi(a,b) = ln(df_ab * N / (df_a * df_b)), support-filtered. Pair
# generation is DOC-LOCAL: the sorted distinct token set is
# materialized as a column (multi-referenced, so CollapseProject keeps
# it — the q67 lesson; inlining would re-evaluate the sort per outer
# element), and per-doc pairs come from a nested transform/slice with
# strict ordering, so each unordered pair is emitted once — no doc_id
# self-join shuffle. All integer products stay < 2^53 (exact in
# double); pmi is ROUND(...,6)-ed for the ln ulp. Scale shape: pair
# cardinality is bounded by (distinct tokens per doc)^2 per row —
# the standard co-occurrence explode — and every agg/join after it is
# token- or pair-keyed and mergeable.
_Q88_MINSUP = 5


_Q88_ORACLE = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, t AS tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE t != ''
),
dfa AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok),
pairs AS (
  SELECT x.tok AS tok_a, y.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS df_ab
  FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.tok < y.tok
  GROUP BY x.tok, y.tok
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT p.tok_a, p.tok_b, p.df_ab,
  ROUND(ln(CAST(p.df_ab AS DOUBLE) * n.n_docs / (a.df * b.df)), 6) AS pmi
FROM pairs p
JOIN dfa a ON a.tok = p.tok_a
JOIN dfa b ON b.tok = p.tok_b
CROSS JOIN n
WHERE p.df_ab >= {_Q88_MINSUP}
"""


@register("q88_pmi_cooccurrence", oracle=_Q88_ORACLE)
def q88_pmi_cooccurrence(spark, sf_dir):
    from pyspark.sql.functions import broadcast

    docs = load(spark, sf_dir, "documents")
    sets = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda t: t != F.lit(""))
            )
        ).alias("s"),
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("s"),
            lambda x, i: F.transform(
                F.slice(F.col("s"), i + 2, F.size("s")),
                lambda y: F.concat_ws(" ", x, y),
            ),
        )
    )
    dt = sets.select("doc_id", F.explode("s").alias("tok"))
    dfa = dt.groupBy("tok").agg(F.count("*").alias("df"))
    pairs = (
        sets.select(F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("df_ab"))
        .filter(F.col("df_ab") >= _Q88_MINSUP)
        .select(
            F.substring_index("pair", " ", 1).alias("tok_a"),
            F.substring_index("pair", " ", -1).alias("tok_b"),
            "df_ab",
        )
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    dfa_a = dfa.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    dfa_b = dfa.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(broadcast(dfa_a), "tok_a")
        .join(broadcast(dfa_b), "tok_b")
        .crossJoin(broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "df_ab",
            F.round(
                F.log(
                    F.col("df_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("df_a") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# --------------------------------------------------------------------------
# q122: ONE BPE MERGE STEP — the tokenizer-training inner loop as
# set-oriented dataflow: (1) count adjacent token pairs corpus-wide,
# (2) pick the argmax merge (tie-break lexicographic; pairs with
# w1 == w2 are excluded so occurrences cannot overlap and "apply the
# merge everywhere" is well-defined without greedy left-to-right
# state), (3) rewrite every sequence applying the merge, (4) recount —
# emitting the before/after top candidate tables an actual BPE trainer
# would consult on successive iterations.
# Scale shape: pair counting is explode + mergeable groupBy; the argmax
# is a global top-1 (TakeOrderedAndProject); the rewrite is map-side
# array surgery per document (no shuffle); the recount is one more
# mergeable groupBy. One training step = 2 count shuffles, independent
# of vocabulary size.
_Q122_TOPK = 10


_Q122_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
  FROM documents
),
p0 AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  GROUP BY 1, 2
),
best AS (
  SELECT w1, w2 FROM p0 WHERE w1 <> w2
  ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1
),
merged AS (
  SELECT doc_id, list_filter(
    list_transform(t, (x, i) ->
      CASE
        WHEN x = b.w1 AND i < len(t) AND t[i + 1] = b.w2 THEN b.w1 || '_' || b.w2
        WHEN i > 1 AND t[i - 1] = b.w1 AND x = b.w2 THEN ''
        ELSE x
      END),
    x -> x != '') AS t
  FROM toks, best b
),
p1 AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM merged, UNNEST(range(1, len(t))) AS u(i)
  GROUP BY 1, 2
),
top0 AS (
  SELECT 0 AS stage, w1, w2, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, w1 ASC, w2 ASC) AS rnk
  FROM p0 WHERE w1 <> w2
),
top1 AS (
  SELECT 1 AS stage, w1, w2, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, w1 ASC, w2 ASC) AS rnk
  FROM p1 WHERE w1 <> w2
)
SELECT stage, CAST(rnk AS BIGINT) AS rnk, w1, w2, cnt
FROM (SELECT * FROM top0 WHERE rnk <= {_Q122_TOPK}
      UNION ALL
      SELECT * FROM top1 WHERE rnk <= {_Q122_TOPK})
ORDER BY stage, rnk
"""


def _adjacent_pairs(toks):
    bi = F.transform(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        lambda x, i: F.struct(
            x.alias("w1"), F.element_at(F.col("t"), i + 2).alias("w2")
        ),
    )
    return (
        toks.select(F.explode(bi).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def _topk_pairs(pairs, stage: int):
    from pyspark.sql import Window

    # distributed top-k FIRST (TakeOrderedAndProject over the pair
    # vocabulary), THEN a rank window over the K survivors — a global
    # ROW_NUMBER over all pairs would single-partition the vocabulary
    top = (
        pairs.filter(F.col("w1") != F.col("w2"))
        .orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
        .limit(_Q122_TOPK)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        F.lit(stage).alias("stage"), "rnk", "w1", "w2", "cnt"
    )


@register("q122_bpe_merge", oracle=_Q122_ORACLE)
def q122_bpe_merge(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != F.lit("")).alias("t")
    )
    p0 = _adjacent_pairs(toks)
    best = (
        p0.filter(F.col("w1") != F.col("w2"))
        .orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
        .limit(1)
        .select(F.col("w1").alias("bw1"), F.col("w2").alias("bw2"))
    )
    # the merge pair is a 1-row broadcast: the rewrite stays map-side
    with_best = toks.crossJoin(F.broadcast(best))
    # F.get is 0-indexed and returns NULL out of range (never an ANSI
    # index error), and a NULL comparison makes the WHEN fall through —
    # exactly the boundary semantics the oracle's 1-indexed t[i±1] has
    rewritten = with_best.select(
        "doc_id",
        F.filter(
            F.transform(
                F.col("t"),
                lambda x, i: F.when(
                    (x == F.col("bw1"))
                    & (F.get(F.col("t"), i + 1) == F.col("bw2")),
                    F.concat_ws("_", F.col("bw1"), F.col("bw2")),
                )
                .when(
                    (F.get(F.col("t"), i - 1) == F.col("bw1"))
                    & (x == F.col("bw2")),
                    F.lit(""),
                )
                .otherwise(x),
            ),
            lambda x: x != F.lit(""),
        ).alias("t"),
    )
    p1 = _adjacent_pairs(rewritten)
    return _topk_pairs(p0, 0).unionAll(_topk_pairs(p1, 1)).orderBy("stage", "rnk")


# --------------------------------------------------------------------------
# q100: SEQUENCE PACKING — the GPT-style pretraining layout pass:
# documents are concatenated into a token stream per shard and the
# stream is cut into fixed CTX-token training windows; the operator
# reports each document's position in the stream and which windows it
# spans (a doc straddling a window boundary is split across examples —
# the packing bookkeeping a data loader needs). Shard = md5 bucket of
# doc_id; within a shard the order is (n_tokens DESC, doc_id) —
# deterministic, and size-descending keeps long docs from straddling
# more windows than necessary.
# Scale shape: ONE keyed shuffle (shard) + an in-shard sort window for
# the running sum; shard count scales with the corpus so per-shard
# state is bounded. No joins, no driver state.
_Q100_CTX = 256


_Q100_SHARDS = 8


_Q100_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         {md5_bucket_sql("doc_id", _Q100_SHARDS)} AS shard,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents
),
pos AS (
  SELECT doc_id, CAST(shard AS INT) AS shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard
                             ORDER BY n_tokens DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t WHERE n_tokens >= 1
)
SELECT doc_id, shard, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_pos,
       CAST((cum - n_tokens) // {_Q100_CTX} AS INT) AS first_window,
       CAST((cum - 1) // {_Q100_CTX} AS INT) AS last_window,
       CAST((cum - 1) // {_Q100_CTX} - (cum - n_tokens) // {_Q100_CTX} + 1 AS INT)
         AS n_windows
FROM pos
"""


@register("q100_sequence_packing", oracle=_Q100_ORACLE)
def q100_sequence_packing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    t = docs.select(
        "doc_id",
        md5_bucket(F.col("doc_id"), _Q100_SHARDS).cast("int").alias("shard"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).cast("long")
    first_w = F.floor(start / _Q100_CTX).cast("int")
    last_w = F.floor((cum - 1) / _Q100_CTX).cast("int")
    return t.select(
        "doc_id",
        "shard",
        "n_tokens",
        start.alias("start_pos"),
        first_w.alias("first_window"),
        last_w.alias("last_window"),
        (last_w - first_w + 1).cast("int").alias("n_windows"),
    )


# --------------------------------------------------------------------------
# q113: VOCABULARY COVERAGE CURVE — what fraction of all token
# occurrences the top-V most frequent types cover, at the vocab sizes a
# tokenizer-budget decision actually compares. The op behind "how big
# must the vocabulary be": token-type frequencies (one mergeable
# groupBy), the top 1024 types via TakeOrderedAndProject (count desc,
# token asc — a total order, so the 1024-boundary cut is identical in
# both engines), then the cumulative curve over that BOUNDED table
# (the single-partition window touches <= 1024 rows by construction —
# a tiny-grain global window, never a corpus-wide window).
_Q113_SIZES = (16, 64, 256, 1024)


_Q113_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok WHERE t <> '' GROUP BY t),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS s FROM tc),
ranked AS (
  SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn FROM tc
),
top AS (SELECT * FROM ranked WHERE rn <= {max(_Q113_SIZES)})
SELECT CAST(v.vocab_size AS INT) AS vocab_size,
       CAST(SUM(top.c) AS BIGINT) AS covered_tokens,
       ROUND(CAST(SUM(top.c) AS DOUBLE) / CAST(MAX(tot.s) AS DOUBLE), 6) AS coverage
FROM (VALUES {", ".join(f"({v})" for v in _Q113_SIZES)}) AS v(vocab_size)
JOIN top ON top.rn <= v.vocab_size
CROSS JOIN tot
GROUP BY v.vocab_size
ORDER BY vocab_size
"""


@register("q113_vocab_coverage", oracle=_Q113_ORACLE)
def q113_vocab_coverage(spark, sf_dir):
    from pyspark.sql import Window

    top_n = max(_Q113_SIZES)
    tc = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    tot = tc.agg(F.sum("c").alias("s"))
    # bounded: orderBy+limit is TakeOrderedAndProject; the row_number
    # window then runs over <= top_n rows, not the corpus vocabulary
    top = (
        tc.orderBy(F.desc("c"), "t")
        .limit(top_n)
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("c"), "t")))
    )
    sizes = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in _Q113_SIZES])).alias("vocab_size")
    )
    return (
        top.join(F.broadcast(sizes), F.col("rn") <= F.col("vocab_size"))
        .crossJoin(F.broadcast(tot))
        .groupBy("vocab_size")
        .agg(
            F.sum("c").alias("covered_tokens"),
            F.round(
                F.sum("c").cast("double") / F.max("s").cast("double"), 6
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


# --------------------------------------------------------------------------
# q115: ZIPF SLOPE — the corpus-health diagnostic behind "does this
# corpus look like natural language": least-squares slope of
# ln(frequency) vs ln(rank) over the top-256 token types (natural text
# sits near -1; heavily templated/duplicated corpora flatten or
# steepen). All regression sums run over the BOUNDED top-256 table
# (TakeOrderedAndProject under the total order (count desc, token asc),
# same cut rule as q113), so the fit costs one mergeable token count
# plus O(1) arithmetic; slope/intercept are computed with the identical
# formula shape in both engines and ROUND(...,6)-ed (ln ulp + 256-term
# sum reorder stay ~1e-13, far under the rounding grain).
_Q115_TOPN = 256


_Q115_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok WHERE t <> '' GROUP BY t),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn FROM tc
),
top AS (
  SELECT ln(CAST(rn AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM ranked WHERE rn <= {_Q115_TOPN}
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM top
)
SELECT n AS n_points,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM s
"""


@register("q115_zipf_slope", oracle=_Q115_ORACLE)
def q115_zipf_slope(spark, sf_dir):
    from pyspark.sql import Window

    tc = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    top = (
        tc.orderBy(F.desc("c"), "t")
        .limit(_Q115_TOPN)
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("c"), "t")))
        .select(
            F.log(F.col("rn").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    s = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope_raw = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope_raw, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope_raw * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# --------------------------------------------------------------------------
_Q178_B = 8  # sequences per batch


_Q178_NBUCKETS = 4


def _q178_policy_sql(tag: str, order: str) -> str:
    return f"""
  SELECT '{tag}' AS policy,
         CAST(COUNT(DISTINCT batch) AS BIGINT) AS n_batches,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(mx) - SUM(n_tokens) AS BIGINT) AS padded_tokens,
         (1000000 * (SUM(mx) - SUM(n_tokens))) // SUM(mx) AS waste_u
  FROM (
    SELECT n_tokens, batch, MAX(n_tokens) OVER (PARTITION BY batch) AS mx
    FROM (
      SELECT n_tokens,
             (ROW_NUMBER() OVER (ORDER BY {order}) - 1) // {_Q178_B} AS batch
      FROM lens
    )
  )"""


_Q178_ORACLE = f"""
WITH lens AS (
  SELECT doc_id, CAST(n_chars // 4 AS BIGINT) AS n_tokens,
         ntile({_Q178_NBUCKETS})
           OVER (ORDER BY n_chars // 4, doc_id) AS lbucket
  FROM documents
)
{_q178_policy_sql("arrival", "doc_id")}
UNION ALL
{_q178_policy_sql("length_sorted", "n_tokens, doc_id")}
UNION ALL
{_q178_policy_sql("bucketed", "lbucket, doc_id")}
"""


@register("q178_padding_waste_audit", oracle=_Q178_ORACLE)
def q178_padding_waste_audit(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lens = docs.select(
        "doc_id",
        F.expr("n_chars div 4").cast("long").alias("n_tokens"),
    ).withColumn(
        "lbucket",
        F.ntile(_Q178_NBUCKETS).over(
            Window.orderBy(F.col("n_tokens"), F.col("doc_id"))
        ),
    )
    frames = []
    for tag, order in [
        ("arrival", "doc_id"),
        ("length_sorted", "n_tokens, doc_id"),
        ("bucketed", "lbucket, doc_id"),
    ]:
        batched = lens.withColumn(
            "batch",
            F.expr(
                f"(row_number() over (order by {order}) - 1) div {_Q178_B}"
            ),
        )
        rolled = batched.withColumn(
            "mx", F.max("n_tokens").over(Window.partitionBy("batch"))
        ).agg(
            F.lit(tag).alias("policy"),
            F.countDistinct("batch").cast("long").alias("n_batches"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.sum("mx") - F.sum("n_tokens")).cast("long").alias("padded_tokens"),
            F.expr(
                f"(1000000 * (sum(mx) - sum(n_tokens))) div sum(mx)"
            ).alias("waste_u"),
        )
        frames.append(rolled)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------
# q186
_Q186_ORACLE = """
WITH toks AS (
  SELECT lang,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
  FROM documents
),
tc AS (
  SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY lang, t
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS v_obs,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       CAST(1000000 * COUNT(*)
            + (1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                       * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1))
              // (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
            AS BIGINT) AS chao1_u,
       CAST((1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // SUM(c)
            AS BIGINT) AS p0_u,
       CAST(1000000
            - (1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // SUM(c)
            AS BIGINT) AS coverage_u
FROM tc
GROUP BY lang
"""


@register("q186_vocab_richness", oracle=_Q186_ORACLE)
def q186_vocab_richness(spark, sf_dir):
    toks = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    tc = toks.groupBy("lang", "t").agg(F.count("*").cast("long").alias("c"))
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    agg = tc.groupBy("lang").agg(
        F.count("*").cast("long").alias("v_obs"),
        F.sum("c").cast("long").alias("n_tokens"),
        f1.alias("f1"),
        f2.alias("f2"),
    )
    chao1 = F.expr("1000000 * v_obs + (1000000 * f1 * (f1 - 1)) div (2 * (f2 + 1))")
    p0 = F.expr("(1000000 * f1) div n_tokens")
    return agg.select(
        "lang",
        "v_obs",
        "n_tokens",
        "f1",
        "f2",
        chao1.cast("long").alias("chao1_u"),
        p0.cast("long").alias("p0_u"),
        (F.lit(1000000) - p0).cast("long").alias("coverage_u"),
    )


# ---------------------------------------------------------------------
# q188
_Q188_BUCKETS = 10


_Q188_ORACLE = f"""
WITH d AS (
  SELECT CAST({md5_bucket_sql("doc_id", _Q188_BUCKETS)} AS BIGINT) AS b, text
  FROM documents
),
toks AS (
  SELECT b, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
  FROM d
),
per_bucket AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_toks FROM toks GROUP BY b
),
first_seen AS (
  SELECT t, MIN(b) AS fb FROM toks GROUP BY t
),
vnew AS (
  SELECT fb AS b, CAST(COUNT(*) AS BIGINT) AS v_new FROM first_seen GROUP BY fb
),
cum AS (
  SELECT pb.b,
         CAST(SUM(pb.n_toks) OVER (ORDER BY pb.b) AS BIGINT) AS n_cum,
         CAST(SUM(COALESCE(v.v_new, 0)) OVER (ORDER BY pb.b) AS BIGINT) AS v_cum
  FROM per_bucket pb LEFT JOIN vnew v ON v.b = pb.b
),
lagged AS (
  SELECT b, n_cum, v_cum,
         LAG(n_cum) OVER (ORDER BY b) AS pn,
         LAG(v_cum) OVER (ORDER BY b) AS pv
  FROM cum
)
SELECT b AS bucket, n_cum, v_cum,
       ROUND(CASE WHEN pn IS NULL OR n_cum = pn THEN 0.0
             ELSE (ln(CAST(v_cum AS DOUBLE)) - ln(CAST(pv AS DOUBLE)))
                  / (ln(CAST(n_cum AS DOUBLE)) - ln(CAST(pn AS DOUBLE)))
             END, 6) AS beta
FROM lagged
"""


@register("q188_heaps_law", oracle=_Q188_ORACLE)
def q188_heaps_law(spark, sf_dir):
    toks = (
        load(spark, sf_dir, "documents")
        .select(
            md5_bucket(F.col("doc_id"), _Q188_BUCKETS).alias("b"),
            F.explode(F.split("text", " ")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    per_bucket = toks.groupBy("b").agg(F.count("*").cast("long").alias("n_toks"))
    vnew = (
        toks.groupBy("t")
        .agg(F.min("b").alias("fb"))
        .groupBy(F.col("fb").alias("b"))
        .agg(F.count("*").cast("long").alias("v_new"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per_bucket.join(vnew, "b", "left")
        .select(
            "b",
            F.sum("n_toks").over(w).cast("long").alias("n_cum"),
            F.sum(F.coalesce("v_new", F.lit(0))).over(w).cast("long").alias("v_cum"),
        )
    )
    wl = Window.orderBy("b")
    lagged = cum.select(
        "b",
        "n_cum",
        "v_cum",
        F.lag("n_cum").over(wl).alias("pn"),
        F.lag("v_cum").over(wl).alias("pv"),
    )
    beta = F.when(
        F.col("pn").isNull() | (F.col("n_cum") == F.col("pn")), F.lit(0.0)
    ).otherwise(
        (F.log(F.col("v_cum").cast("double")) - F.log(F.col("pv").cast("double")))
        / (F.log(F.col("n_cum").cast("double")) - F.log(F.col("pn").cast("double")))
    )
    return lagged.select(
        F.col("b").alias("bucket"),
        "n_cum",
        "v_cum",
        F.round(beta, 6).alias("beta"),
    )


_Q209_THRESHOLDS = [1, 2, 5, 10]


_Q209_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
  FROM documents
),
tf AS (
  SELECT t,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS mass
  FROM toks GROUP BY t
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v_total,
         CAST(SUM(mass) AS BIGINT) AS m_total
  FROM tf
),
sweep AS (
  SELECT th.th, tf.df, tf.mass
  FROM tf, (SELECT unnest([{", ".join(str(t) for t in _Q209_THRESHOLDS)}]) AS th) th
)
SELECT CAST(s.th AS BIGINT) AS min_df,
       CAST(SUM(CASE WHEN s.df >= s.th THEN 1 ELSE 0 END) AS BIGINT)
         AS v_kept,
       g.v_total,
       CAST(SUM(CASE WHEN s.df >= s.th THEN s.mass ELSE 0 END) AS BIGINT)
         AS mass_kept,
       g.m_total,
       CAST((1000000 * SUM(CASE WHEN s.df >= s.th THEN 1 ELSE 0 END))
            // g.v_total AS BIGINT) AS v_kept_frac_u,
       CAST((1000000 * SUM(CASE WHEN s.df >= s.th THEN s.mass ELSE 0 END))
            // g.m_total AS BIGINT) AS mass_kept_frac_u
FROM sweep s CROSS JOIN g
GROUP BY s.th, g.v_total, g.m_total
"""


@register("q209_df_pruning_advisor", oracle=_Q209_ORACLE)
def q209_df_pruning_advisor(spark, sf_dir):
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    tf = toks.groupBy("t").agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.count("*").cast("long").alias("mass"),
    )
    g = tf.agg(
        F.count("*").cast("long").alias("v_total"),
        F.sum("mass").cast("long").alias("m_total"),
    )
    sweep = tf.select(
        "df",
        "mass",
        F.explode(F.array(*[F.lit(t) for t in _Q209_THRESHOLDS])).alias("th"),
    )
    kept = F.sum(F.when(F.col("df") >= F.col("th"), 1).otherwise(0))
    mkept = F.sum(F.when(F.col("df") >= F.col("th"), F.col("mass")).otherwise(0))
    return (
        sweep.groupBy("th")
        .agg(
            kept.cast("long").alias("v_kept"),
            mkept.cast("long").alias("mass_kept"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            F.col("th").cast("long").alias("min_df"),
            "v_kept",
            "v_total",
            "mass_kept",
            "m_total",
            F.expr("(1000000 * v_kept) div v_total").cast("long").alias("v_kept_frac_u"),
            F.expr("(1000000 * mass_kept) div m_total")
            .cast("long")
            .alias("mass_kept_frac_u"),
        )
    )
