"""Probabilistic-summary queries: exact 13-gram eval-set decontamination
with its Bloom- and cuckoo-filter probe variants, Misra-Gries heavy
hitters and KMV/theta distinct-count sketches.

q179 — MISRA-GRIES MERGEABLE HEAVY HITTERS (Misra & Gries 1982;
merge rule of Agarwal et al., "Mergeable Summaries", PODS 2012). The
bounded-size frequent-items summary: each partition compresses its
token counts to k counters by subtracting the (k+1)-th largest count
and dropping non-positives; summaries MERGE by summing counters and
compressing again, and every subtraction is accounted, so
est <= true <= est + (sum of all subtracted offsets). At 100 TB this
is the point: the merge shuffle carries P*k counter rows instead of
the vocabulary — the full (pid, token) groupBy exists here only
because the audit's oracle needs the SQL-expressible form (a
mapPartitions build would shuffle nothing but the summaries). The
verdict table carries per-hitter est, exact, error and the accounted
bound, with the bound PROVEN to hold row by row. Deterministic total
order (count desc, token asc) everywhere a rank is taken.

q196 — KMV (K-MINIMUM-VALUES) / THETA SKETCH with INTERSECTION
(Bar-Yossef et al. 2002; Dasgupta et al. 2016 — the DataSketches theta
family). What an HLL sketch cannot give you: set INTERSECTION
estimates with a bounded-size mergeable summary. Universe = distinct
document tokens; population split = the md5 half-split. Per half, the sketch is the k=256 smallest 48-bit md5
hash values of the distinct tokens; est_distinct = (k-1) * 2^48 /
kth_min (unbiased for uniform hashes). Intersection: theta = the
SMALLER of the two kth-mins; est = |{h in S_A ∩ S_B : h < theta}| *
2^48 / theta — the standard theta-sketch set operation. Exact distinct
counts ride along so the output is its own error audit.
Every estimate divides exact BIGINTs (hashes < 2^48 < 2^53, exact in
doubles), ROUND(,6)-frozen.
Reference intent: corpus vocabulary statistics at sketch size,
generalizing distinct-count sketches to set algebra.

Scale shape: the min-k is computed the way a 1000-executor top-k
actually runs — TWO-LEVEL: per-(half, hash-bucket) rank window keeps
the k smallest within each of 64 bounded buckets (parallel, each
vocab/64 rows), then a second rank over the 64*k survivors per half.
No vocab-sized single-partition sort anywhere. The intersection join
is k-row vs k-row (broadcast-trivial).

q198 — CUCKOO-FILTER PROBE (Fan et al. 2014) — q104's Bloom filter
replaced by the filter modern systems prefer (supports deletion,
better space at low FP rates): each key stores a 12-bit FINGERPRINT in
one of TWO candidate buckets, i1 = H(key) and i2 = i1 XOR H(fp) (the
partial-key trick: i2 is computable from (i1, fp) alone — asserted by
the pytest, it's what makes deletion/relocation possible). This is the
static no-eviction form: the filter is the exploded (bucket, fp) pair
set of the eval side's k-gram keys; a probe key is positive iff either
of ITS two (bucket, fp) pairs is present. False negatives are
impossible by construction; false positives are fingerprint
collisions inside shared candidate buckets — reported per document
exactly like q104 so the two filters are directly comparable on the
same corpus (same eval slice, same k-grams, same injected verbatim
copies via doc_id + 3000000).
Reference analog: the SHA-256 ingest probe
(reference src/rag/rag_pipeline.py:97-105) as a deletable
probabilistic prefilter.

Scale shape: the filter is |eval keys| x 2 rows of (bucket, fp) —
mergeable distinct, broadcastable; the probe is a broadcast LEFT SEMI
shape (left join + flag) on (bucket, fp); the exact audit join is the
same broadcast-kh join as q91/q104. The corpus shuffles only for the
final per-doc rollup.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkextract.queries.base import (
    checkpoint_memo,
    load,
    md5_bucket,
    md5_bucket_sql,
    register,
)
from sparkextract.queries.text import _kgrams, _kgrams_sql, _words, _words_sql


# --------------------------------------------------------------------------
# q91: N-GRAM EVAL-SET DECONTAMINATION — the benchmark-contamination
# check every serious training-data pipeline runs (the 13-gram overlap
# test popularized by GPT-3/PaLM data cards): any training document
# sharing >= 1 length-K word n-gram with an evaluation document is
# suspect; docs above a contaminated-fraction threshold are dropped.
# Reference analog: per-chunk content hashing for duplicate detection
# (reference src/rag/text_processor.py:534) applied at token-
# window grain instead of chunk grain.
#
# Corpus construction: the eval set is the md5-bucket(doc_id)%20==0
# slice of documents (deterministic, engine-portable); the training
# corpus is every other document PLUS an injected verbatim copy of each
# eval doc at doc_id+3000000 (the q68 injection pattern), so the
# operator sees both the sparse natural-collision regime (~31-token
# vocabulary => some genuine shared 13-grams) and true contamination
# (copies with contam_frac 1.0 that the keep rule must reject).
#
# Shape: k-gram generation is DOC-LOCAL (transform over sequence +
# array_join of a slice — q88's no-shuffle pair-generation lesson);
# k-grams are md5-keyed; the overlap join is an equi-join on the k-gram
# hash. Scale shape: the eval side is a benchmark suite — tiny and
# broadcast — while the corpus side only ever shuffles for the per-doc
# rollup on doc_id; nothing is quadratic and no corpus self-join exists.
_Q91_K = 13


_Q91_MAX_FRAC = 0.2


_EVAL_BUCKETS = 20  # the eval slice of q91, q104 and q198


def _eval_split(spark, sf_dir):
    """(eval_docs, corpus), both (doc_id, text): the eval set is md5
    bucket 0 of doc_id; the corpus is every other doc plus a verbatim
    copy of each eval doc at doc_id + 3000000."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = md5_bucket(F.col("doc_id"), _EVAL_BUCKETS) == 0
    eval_docs = docs.filter(is_eval)
    corpus = docs.filter(~is_eval).unionByName(
        eval_docs.select((F.col("doc_id") + 3000000).alias("doc_id"), "text")
    )
    return eval_docs, corpus


# DuckDB twin of _eval_split: the eval_docs and corpus CTEs
_EVAL_SPLIT_SQL = f"""
eval_docs AS (
  SELECT doc_id, text FROM documents
  WHERE {md5_bucket_sql("doc_id", _EVAL_BUCKETS)} = 0
),
corpus AS (
  SELECT doc_id, text FROM documents
  WHERE {md5_bucket_sql("doc_id", _EVAL_BUCKETS)} <> 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text FROM eval_docs
)"""


def _kgram_hashes(df, k: int):
    """(doc_id, text) -> (doc_id, kh): distinct md5 keys of the doc's
    word k-grams, generated doc-locally (no shuffle until the consumer's
    own agg/join)."""
    return (
        df.select("doc_id", F.explode(F.array_distinct(_kgrams(_words(), k))).alias("kgram"))
        .select("doc_id", F.md5("kgram").alias("kh"))
    )


def _kgram_keys_sql(src: str, k: int) -> str:
    """DuckDB twin of :func:`_kgram_hashes` over the (doc_id, text)
    relation ``src``."""
    return f"""
  SELECT DISTINCT doc_id, md5(kgram) AS kh FROM (
    SELECT doc_id, unnest({_kgrams_sql("a", k)}) AS kgram
    FROM (SELECT doc_id, {_words_sql()} AS a FROM {src}))"""


_Q91_ORACLE = f"""
WITH {_EVAL_SPLIT_SQL},
ekg AS (SELECT DISTINCT kh FROM ({_kgram_keys_sql("eval_docs", _Q91_K)})),
ckg AS ({_kgram_keys_sql("corpus", _Q91_K)})
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_kgrams,
       CAST(COUNT(e.kh) AS BIGINT) AS n_contam,
       ROUND(COUNT(e.kh) * 1.0 / COUNT(*), 6) AS contam_frac,
       (ROUND(COUNT(e.kh) * 1.0 / COUNT(*), 6) <= {_Q91_MAX_FRAC}) AS keep
FROM ckg c LEFT JOIN ekg e ON e.kh = c.kh
GROUP BY c.doc_id
"""


@register("q91_ngram_decontamination", oracle=_Q91_ORACLE)
def q91_ngram_decontamination(spark, sf_dir):
    eval_docs, corpus = _eval_split(spark, sf_dir)
    # the eval side is a benchmark suite: tiny at any scale -> broadcast
    ekg = F.broadcast(_kgram_hashes(eval_docs, _Q91_K).select("kh").distinct())
    ckg = _kgram_hashes(corpus, _Q91_K)
    hit = ekg.withColumn("contam", F.lit(1))
    counts = (
        ckg.join(hit, "kh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kgrams"),
            F.coalesce(F.sum("contam"), F.lit(0)).cast("long").alias("n_contam"),
        )
    )
    frac = F.round(F.col("n_contam").cast("double") / F.col("n_kgrams"), 6)
    return counts.select(
        "doc_id",
        "n_kgrams",
        "n_contam",
        frac.alias("contam_frac"),
        (frac <= _Q91_MAX_FRAC).alias("keep"),
    )


# --------------------------------------------------------------------------
# q104: BROADCAST BLOOM-FILTER PROBE — the join-pruning primitive that
# makes contamination/dedup checks cheap at 100 TB (Spark's own runtime
# row-level filtering, Iceberg bloom columns, and semi-join pushdown all
# reduce to this): the eval set's k-gram keys are folded into a 1024-bit
# Bloom filter (16 x 64-bit words, 2 md5-derived hash functions, fully
# mergeable bit_or aggregation), the filter broadcasts, and the corpus
# is probed map-side; only bloom-positive k-grams would ever reach the
# expensive exact join. The query reports per-doc bloom-positive vs
# exact-hit counts — false positives >= 0 by construction, false
# negatives exactly 0 (the test invariant of a correct Bloom filter).
# The corpus carries the q91 injected verbatim eval copies so true
# hits exist and the zero-false-negative claim is exercised.
# Reference analog: the SHA-256 ingest probe
# (reference src/rag/rag_pipeline.py:97-105) as a probabilistic
# prefilter instead of an exact lookup.
# Scale shape: filter build is a <=32-row mergeable agg over the tiny
# eval side; both probe lookups are broadcast joins on the 16-row word
# table; the exact check is the same broadcast-kh join as q91. The
# corpus shuffles only for the final doc_id rollup.
_Q104_K = 13


_Q104_BITS = 131072


def _q104_pos_sql(kh: str, j: int) -> str:
    return (
        f"CAST(('0x' || SUBSTRING(md5({kh} || ':{j}'), 1, 8)) AS UBIGINT)"
        f" % {_Q104_BITS}"
    )


_Q104_ORACLE = f"""
WITH {_EVAL_SPLIT_SQL},
ekh AS (SELECT DISTINCT kh FROM ({_kgram_keys_sql("eval_docs", _Q104_K)})),
positions AS (
  SELECT {_q104_pos_sql("kh", 0)} AS pos FROM ekh
  UNION ALL
  SELECT {_q104_pos_sql("kh", 1)} AS pos FROM ekh
),
words AS (
  SELECT CAST(pos // 64 AS INT) AS w,
         bit_or(CAST(1 AS UBIGINT) << CAST(pos % 64 AS INT)) AS bits
  FROM positions GROUP BY 1
),
ckh AS ({_kgram_keys_sql("corpus", _Q104_K)}),
probed AS (
  SELECT c.doc_id,
         (w0.bits IS NOT NULL
          AND (w0.bits >> CAST({_q104_pos_sql("c.kh", 0)} % 64 AS INT))
              & 1 = 1
          AND w1.bits IS NOT NULL
          AND (w1.bits >> CAST({_q104_pos_sql("c.kh", 1)} % 64 AS INT))
              & 1 = 1) AS bloom_hit,
         (e.kh IS NOT NULL) AS exact_hit
  FROM ckh c
  LEFT JOIN words w0 ON w0.w = CAST({_q104_pos_sql("c.kh", 0)} // 64 AS INT)
  LEFT JOIN words w1 ON w1.w = CAST({_q104_pos_sql("c.kh", 1)} // 64 AS INT)
  LEFT JOIN ekh e ON e.kh = c.kh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_kgrams,
       CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
       CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM probed
GROUP BY doc_id
"""


def _q104_pos(kh, j: int):
    """Bit position j of key kh — the Spark twin of _q104_pos_sql."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(kh, F.lit(f":{j}"))), 1, 8), 16, 10
        ).cast("long")
        % _Q104_BITS
    )


@register("q104_bloom_filter_probe", oracle=_Q104_ORACLE)
def q104_bloom_filter_probe(spark, sf_dir):
    eval_docs, corpus = _eval_split(spark, sf_dir)
    ekh = _kgram_hashes(eval_docs, _Q104_K).select("kh").distinct()
    # both hash positions from ONE pass over the eval keys (an unionAll
    # of two projections re-scans the eval subtree)
    positions = ekh.select(
        F.explode(
            F.array(_q104_pos(F.col("kh"), 0), _q104_pos(F.col("kh"), 1))
        ).alias("pos")
    )
    # the word is built as a signed long whose BIT PATTERN matches
    # DuckDB's UBIGINT bit_or; shift builtins need F.expr (the PySpark
    # wrappers accept only literal shift amounts)
    words = positions.groupBy(
        (F.col("pos") / 64).cast("int").alias("w")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("bits")
    )
    ckh = (
        _kgram_hashes(corpus, _Q104_K)
        .withColumn("p0", _q104_pos(F.col("kh"), 0))
        .withColumn("p1", _q104_pos(F.col("kh"), 1))
    )
    w0 = words.select(F.col("w").alias("w0"), F.col("bits").alias("bits0"))
    w1 = words.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    probed = (
        ckh.join(
            F.broadcast(w0), (F.col("p0") / 64).cast("int") == F.col("w0"), "left"
        )
        .join(
            F.broadcast(w1), (F.col("p1") / 64).cast("int") == F.col("w1"), "left"
        )
        .join(F.broadcast(ekh.withColumn("exact", F.lit(1))), "kh", "left")
    )
    # unsigned shift then & 1: reads the BIT. Never %2 — a zero shift
    # leaves the sign bit set and Spark's % takes the DIVIDEND's sign,
    # so an odd NEGATIVE word gives -1, a silent false negative (bit 63
    # keys only — caught by the sf0.01 gate)
    bit0 = F.expr(
        "(shiftrightunsigned(bits0, CAST(p0 % 64 AS INT)) & 1) = 1"
    )
    bit1 = F.expr(
        "(shiftrightunsigned(bits1, CAST(p1 % 64 AS INT)) & 1) = 1"
    )
    bloom_hit = (
        F.col("bits0").isNotNull()
        & bit0
        & F.col("bits1").isNotNull()
        & bit1
    )
    exact_hit = F.col("exact").isNotNull()
    return probed.groupBy("doc_id").agg(
        F.count("*").alias("n_kgrams"),
        F.sum(F.when(bloom_hit, 1).otherwise(0)).cast("long").alias("n_bloom"),
        F.sum(F.when(exact_hit, 1).otherwise(0)).cast("long").alias("n_exact"),
        F.sum(F.when(bloom_hit & ~exact_hit, 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )


# --------------------------------------------------------------------------
_Q179_P = 8  # summary-building partitions


_Q179_K = 16  # counters per summary


_Q179_ORACLE = f"""
WITH tok AS (
  SELECT {md5_bucket_sql("doc_id", _Q179_P)} AS pid, t AS token
  FROM (
    SELECT doc_id, unnest({_words_sql()}) AS t FROM documents
  )
),
pc AS (
  SELECT pid, token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
  GROUP BY pid, token
),
pranked AS (
  SELECT pid, token, cnt,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY cnt DESC, token) AS rn
  FROM pc
),
poff AS (
  SELECT pid, MAX(CASE WHEN rn = {_Q179_K + 1} THEN cnt ELSE 0 END) AS off
  FROM pranked GROUP BY pid
),
psum AS (
  SELECT r.pid, r.token, r.cnt - o.off AS est
  FROM pranked r JOIN poff o ON o.pid = r.pid
  WHERE r.rn <= {_Q179_K} AND r.cnt - o.off > 0
),
merged AS (
  SELECT token, CAST(SUM(est) AS BIGINT) AS est FROM psum GROUP BY token
),
mranked AS (
  SELECT token, est,
         ROW_NUMBER() OVER (ORDER BY est DESC, token) AS rn
  FROM merged
),
moff AS (
  SELECT MAX(CASE WHEN rn = {_Q179_K + 1} THEN est ELSE 0 END) AS off
  FROM mranked
),
final AS (
  SELECT r.token, r.est - o.off AS est
  FROM mranked r, moff o
  WHERE r.rn <= {_Q179_K} AND r.est - o.off > 0
),
bound AS (
  SELECT CAST((SELECT SUM(off) FROM poff) + (SELECT off FROM moff)
         AS BIGINT) AS bound
),
exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact FROM tok GROUP BY token
)
SELECT f.token, CAST(f.est AS BIGINT) AS est, x.exact,
       x.exact - f.est AS err, b.bound,
       (f.est <= x.exact AND x.exact - f.est <= b.bound) AS within_bound
FROM final f JOIN exact x ON x.token = f.token CROSS JOIN bound b
"""


@register("q179_misra_gries_heavy_hitters", oracle=_Q179_ORACLE)
def q179_misra_gries_heavy_hitters(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        md5_bucket(F.col("doc_id"), _Q179_P).alias("pid"),
        F.explode(_words()).alias("token"),
    )
    pc = tok.groupBy("pid", "token").agg(F.count("*").cast("long").alias("cnt"))
    wp = Window.partitionBy("pid").orderBy(F.desc("cnt"), F.asc("token"))
    pranked = pc.withColumn("rn", F.row_number().over(wp))
    poff = pranked.groupBy("pid").agg(
        F.max(
            F.when(F.col("rn") == _Q179_K + 1, F.col("cnt")).otherwise(0)
        ).alias("off")
    )
    psum = (
        pranked.where(F.col("rn") <= _Q179_K)
        .join(poff, "pid")
        .select("token", (F.col("cnt") - F.col("off")).alias("est"))
        .where(F.col("est") > 0)
    )
    merged = psum.groupBy("token").agg(F.sum("est").cast("long").alias("est"))
    wm = Window.orderBy(F.desc("est"), F.asc("token"))
    mranked = merged.withColumn("rn", F.row_number().over(wm))
    moff = mranked.agg(
        F.max(
            F.when(F.col("rn") == _Q179_K + 1, F.col("est")).otherwise(0)
        ).alias("moff")
    )
    final = (
        mranked.where(F.col("rn") <= _Q179_K)
        .crossJoin(F.broadcast(moff))
        .select("token", (F.col("est") - F.col("moff")).alias("est"))
        .where(F.col("est") > 0)
    )
    bound = (
        poff.agg(F.sum("off").alias("po"))
        .crossJoin(F.broadcast(moff))
        .select((F.col("po") + F.col("moff")).cast("long").alias("bound"))
    )
    exact = tok.groupBy("token").agg(F.count("*").cast("long").alias("exact"))
    return (
        final.join(exact, "token")
        .crossJoin(F.broadcast(bound))
        .select(
            "token",
            F.col("est").cast("long").alias("est"),
            "exact",
            (F.col("exact") - F.col("est")).alias("err"),
            "bound",
            (
                (F.col("est") <= F.col("exact"))
                & ((F.col("exact") - F.col("est")) <= F.col("bound"))
            ).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------
# q196
_Q196_K = 256


_Q196_BUCKETS = 64  # first-level top-k buckets


_Q196_MAXH = 1 << 48


# 48-bit hash of a token (12 md5 hex digits — exact integer in BIGINT
# and in an IEEE double)
_Q196_HV = "CAST(('0x' || SUBSTRING(md5(t), 1, 12)) AS UBIGINT)"


_Q196_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT CAST({md5_bucket_sql("doc_id", 2)} AS BIGINT) AS half,
         unnest({_words_sql()}) AS t
  FROM documents
),
hv AS (
  SELECT DISTINCT half, CAST({_Q196_HV} AS BIGINT) AS h FROM toks
),
lvl1 AS (
  SELECT half, h FROM (
    SELECT half, h,
           ROW_NUMBER() OVER (PARTITION BY half, h % {_Q196_BUCKETS}
                              ORDER BY h ASC) AS rn
    FROM hv
  ) WHERE rn <= {_Q196_K}
),
sketch AS (
  SELECT half, h, rn2 FROM (
    SELECT half, h,
           ROW_NUMBER() OVER (PARTITION BY half ORDER BY h ASC) AS rn2
    FROM lvl1
  ) WHERE rn2 <= {_Q196_K}
),
kth AS (
  SELECT half, CAST(MAX(h) AS BIGINT) AS kth_min,
         CAST(COUNT(*) AS BIGINT) AS k_eff
  FROM sketch GROUP BY half
),
exact AS (
  SELECT half, CAST(COUNT(*) AS BIGINT) AS n_exact FROM hv GROUP BY half
),
halves AS (
  SELECT 'half' || CAST(e.half AS VARCHAR) AS part,
         e.n_exact, k.k_eff, k.kth_min,
         ROUND(CAST((k.k_eff - 1) AS DOUBLE) * {_Q196_MAXH}.0
               / CAST(k.kth_min AS DOUBLE), 6) AS est
  FROM exact e JOIN kth k ON k.half = e.half
),
theta AS (SELECT CAST(MIN(kth_min) AS BIGINT) AS th FROM kth),
inter AS (
  SELECT 'intersection' AS part,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM hv a
          WHERE a.half = 0 AND EXISTS (
            SELECT 1 FROM hv b WHERE b.half = 1 AND b.h = a.h))
           AS n_exact,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM sketch a JOIN sketch b ON a.h = b.h
          CROSS JOIN theta
          WHERE a.half = 0 AND b.half = 1 AND a.h < theta.th) AS k_eff,
         theta.th AS kth_min,
         ROUND((SELECT CAST(COUNT(*) AS DOUBLE)
                FROM sketch a JOIN sketch b ON a.h = b.h
                CROSS JOIN theta t2
                WHERE a.half = 0 AND b.half = 1 AND a.h < t2.th)
               * {_Q196_MAXH}.0 / CAST(theta.th AS DOUBLE), 6) AS est
  FROM theta
)
SELECT part, n_exact, k_eff, kth_min, est FROM halves
UNION ALL
SELECT part, n_exact, k_eff, kth_min, est FROM inter
"""


def _q196_hv(spark, sf_dir):
    from sparkextract.queries.base import md5_bucket

    toks = (
        load(spark, sf_dir, "documents")
        .select(
            md5_bucket(F.col("doc_id"), 2).alias("half"),
            F.explode(_words()).alias("t"),
        )
        .distinct()
    )
    return toks.select(
        "half",
        F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("long").alias("h"),
    ).distinct()


@register("q196_kmv_theta_sketch", oracle=_Q196_ORACLE)
def q196_kmv_theta_sketch(spark, sf_dir):
    # the distinct hash universe feeds the sketch build, the exact
    # counts, and the exact-intersection audit (4 sibling subtrees);
    # eager materialization keeps it ONE corpus scan (PLANS.md showed
    # 6 scans / 18 shuffles without it). The frame is vocab-sized.
    hv = checkpoint_memo(
        spark, sf_dir, "q196_hv", lambda: _q196_hv(spark, sf_dir)
    )
    w1 = Window.partitionBy("half", F.col("h") % _Q196_BUCKETS).orderBy(F.asc("h"))
    lvl1 = (
        hv.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _Q196_K)
        .drop("rn")
    )
    w2 = Window.partitionBy("half").orderBy(F.asc("h"))
    sketch = checkpoint_memo(
        spark,
        sf_dir,
        "q196_sketch",
        lambda: lvl1.withColumn("rn2", F.row_number().over(w2)).filter(
            F.col("rn2") <= _Q196_K
        ),
    )
    kth = sketch.groupBy("half").agg(
        F.max("h").cast("long").alias("kth_min"),
        F.count("*").cast("long").alias("k_eff"),
    )
    exact = hv.groupBy("half").agg(F.count("*").cast("long").alias("n_exact"))
    halves = (
        exact.join(kth, "half")
        .select(
            F.concat(F.lit("half"), F.col("half").cast("string")).alias("part"),
            "n_exact",
            "k_eff",
            "kth_min",
            F.round(
                (F.col("k_eff") - 1).cast("double")
                * F.lit(float(_Q196_MAXH))
                / F.col("kth_min").cast("double"),
                6,
            ).alias("est"),
        )
    )
    theta = kth.agg(F.min("kth_min").cast("long").alias("th"))
    s0 = sketch.filter(F.col("half") == 0).select("h")
    s1 = sketch.filter(F.col("half") == 1).select("h")
    inter_k = (
        s0.join(s1, "h")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("th"))
        .agg(F.count("*").cast("long").alias("k_eff"))
    )
    h0 = hv.filter(F.col("half") == 0).select("h")
    h1 = hv.filter(F.col("half") == 1).select("h")
    inter_exact = h0.join(h1, "h", "left_semi").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    inter = (
        inter_exact.crossJoin(inter_k)
        .crossJoin(F.broadcast(theta))
        .select(
            F.lit("intersection").alias("part"),
            "n_exact",
            "k_eff",
            F.col("th").cast("long").alias("kth_min"),
            F.round(
                F.col("k_eff").cast("double")
                * F.lit(float(_Q196_MAXH))
                / F.col("th").cast("double"),
                6,
            ).alias("est"),
        )
    )
    return halves.unionByName(inter)


# ---------------------------------------------------------------------
# q198
_Q198_K = 13  # k-gram width, = q104


_Q198_M = 4096  # buckets (power of two so XOR stays in range)


_Q198_FPBITS = 12  # fingerprint width


def _q198_fp_sql(kh: str) -> str:
    # nonzero 12-bit fingerprint (0 is reserved for 'empty' in a real
    # cuckoo table; +1 keeps the range 1..4095 without bias worth
    # caring about at audit scale)
    return (
        f"CAST(('0x' || SUBSTRING(md5({kh} || ':fp'), 1, 8)) AS UBIGINT)"
        f" % {(1 << _Q198_FPBITS) - 1} + 1"
    )


def _q198_i1_sql(kh: str) -> str:
    return (
        f"CAST(('0x' || SUBSTRING(md5({kh} || ':b'), 1, 8)) AS UBIGINT)"
        f" % {_Q198_M}"
    )


def _q198_i2_sql(kh: str) -> str:
    # partial-key cuckoo: i2 = i1 XOR H(fp)
    return (
        f"xor({_q198_i1_sql(kh)}, "
        f"CAST(('0x' || SUBSTRING(md5(CAST({_q198_fp_sql(kh)} AS VARCHAR) || ':h'), 1, 8))"
        f" AS UBIGINT) % {_Q198_M})"
    )


_Q198_ORACLE = f"""
WITH {_EVAL_SPLIT_SQL},
ekh AS (SELECT DISTINCT kh FROM ({_kgram_keys_sql("eval_docs", _Q198_K)})),
filt AS (
  SELECT DISTINCT b, fp FROM (
    SELECT CAST({_q198_i1_sql("kh")} AS BIGINT) AS b,
           CAST({_q198_fp_sql("kh")} AS BIGINT) AS fp FROM ekh
    UNION ALL
    SELECT CAST({_q198_i2_sql("kh")} AS BIGINT) AS b,
           CAST({_q198_fp_sql("kh")} AS BIGINT) AS fp FROM ekh
  )
),
ckh AS ({_kgram_keys_sql("corpus", _Q198_K)}),
probed AS (
  SELECT c.doc_id,
         (f1.fp IS NOT NULL OR f2.fp IS NOT NULL) AS cuckoo_hit,
         (e.kh IS NOT NULL) AS exact_hit
  FROM ckh c
  LEFT JOIN filt f1 ON f1.b = CAST({_q198_i1_sql("c.kh")} AS BIGINT)
                   AND f1.fp = CAST({_q198_fp_sql("c.kh")} AS BIGINT)
  LEFT JOIN filt f2 ON f2.b = CAST({_q198_i2_sql("c.kh")} AS BIGINT)
                   AND f2.fp = CAST({_q198_fp_sql("c.kh")} AS BIGINT)
  LEFT JOIN ekh e ON e.kh = c.kh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_kgrams,
       CAST(SUM(CASE WHEN cuckoo_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_cuckoo,
       CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN cuckoo_hit AND NOT exact_hit THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM probed
GROUP BY doc_id
"""


def _q198_fp(kh):
    return (
        F.conv(F.substring(F.md5(F.concat(kh, F.lit(":fp"))), 1, 8), 16, 10).cast(
            "long"
        )
        % ((1 << _Q198_FPBITS) - 1)
        + 1
    )


def _q198_i1(kh):
    return (
        F.conv(F.substring(F.md5(F.concat(kh, F.lit(":b"))), 1, 8), 16, 10).cast(
            "long"
        )
        % _Q198_M
    )


def _q198_i2(kh):
    hfp = (
        F.conv(
            F.substring(
                F.md5(F.concat(_q198_fp(kh).cast("string"), F.lit(":h"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _Q198_M
    )
    return _q198_i1(kh).bitwiseXOR(hfp)


@register("q198_cuckoo_filter_probe", oracle=_Q198_ORACLE)
def q198_cuckoo_filter_probe(spark, sf_dir):
    eval_docs, corpus = _eval_split(spark, sf_dir)
    ekh = _kgram_hashes(eval_docs, _Q198_K).select("kh").distinct()
    filt = (
        ekh.select(_q198_i1(F.col("kh")).alias("b"), _q198_fp(F.col("kh")).alias("fp"))
        .unionAll(
            ekh.select(
                _q198_i2(F.col("kh")).alias("b"), _q198_fp(F.col("kh")).alias("fp")
            )
        )
        .distinct()
    )
    ckh = _kgram_hashes(corpus, _Q198_K)
    keyed = ckh.select(
        "doc_id",
        "kh",
        _q198_i1(F.col("kh")).alias("i1"),
        _q198_i2(F.col("kh")).alias("i2"),
        _q198_fp(F.col("kh")).alias("cfp"),
    )
    f1 = filt.select(F.col("b").alias("b1"), F.col("fp").alias("fp1"))
    f2 = filt.select(F.col("b").alias("b2"), F.col("fp").alias("fp2"))
    probed = (
        keyed.join(
            F.broadcast(f1),
            (F.col("i1") == F.col("b1")) & (F.col("cfp") == F.col("fp1")),
            "left",
        )
        .join(
            F.broadcast(f2),
            (F.col("i2") == F.col("b2")) & (F.col("cfp") == F.col("fp2")),
            "left",
        )
        .join(
            F.broadcast(ekh.select(F.col("kh").alias("ekh"))),
            F.col("kh") == F.col("ekh"),
            "left",
        )
        .select(
            "doc_id",
            (F.col("fp1").isNotNull() | F.col("fp2").isNotNull()).alias("cuckoo_hit"),
            F.col("ekh").isNotNull().alias("exact_hit"),
        )
    )
    return probed.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kgrams"),
        F.sum(F.when(F.col("cuckoo_hit"), 1).otherwise(0)).cast("long").alias("n_cuckoo"),
        F.sum(F.when(F.col("exact_hit"), 1).otherwise(0)).cast("long").alias("n_exact"),
        F.sum(F.when(F.col("cuckoo_hit") & ~F.col("exact_hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )
