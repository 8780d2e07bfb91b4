"""Corpus-planning and data-layout advisors: leakage-safe train/val/test
splits and their audit, stride schedules, quota apportionment, crawl
rate limits and the UCB crawl scheduler, rendezvous and consistent-hash
shard placement, small-file compaction and posting-list encoding.

q150 — base = floor(B*w_h/W), the R = B - sum(base) largest
fractional remainders (remainder comparison done EXACTLY as the
integer B*w_h mod W, tie-break lang) get one extra seat. Output
includes the proportional allocation for contrast: the delta IS the
variance information.

Scale shape: one mergeable groupBy(lang) (count/sum/sum-of-squares),
then windows over |langs| rows.

q161 — SPLIT LEAKAGE AUDIT. q101 assigns train/val/test by near-dup
CLUSTER so twins never straddle the eval boundary; this query PROVES
that property and quantifies what the naive policy (split by own id)
would have leaked: for every verified near-dup pair (q53's banded-LSH
candidates, cosine >= 0.8, injected twins included) it derives both
endpoints' splits under BOTH policies and counts pairs whose endpoints
land in different splits. cluster_keyed must report 0 cross-split
pairs (both endpoints of a pair share a q71 component by construction
— the audit is the executable proof); naive_id leaks most twin pairs
(the injected twin id differs, so its md5 bucket is independent).
Scale shape: pairs and components are the (already bounded) dedup
outputs; the component label frame joins twice as a BROADCAST (only
clustered nodes, a tiny fraction of the corpus), the per-policy
expansion is a 2x map-side explode of the PAIR table, and the verdict
is one map-side-combinable groupBy(policy) over 2 groups.

q163 — SLIDING-WINDOW RATE-LIMIT AUDIT. A polite crawler (and any
ingestion quota) is specified as "at most L requests in any sliding
W-second window per principal"; the audit computes, per user, the
MAXIMUM attained 60-second rate and flags violators. The sliding count
is a RANGE-frame window over exact integer event-time microseconds
(unix_micros in Spark, epoch_us in DuckDB — BIGINT in both, so frame
membership is bit-identical; equal timestamps are frame peers in both
engines by the SQL standard). Reference analog: the per-request
pacing/retry throttle in the reference's serving client
(reference src/rag/ollama_client.py) lifted to an auditable
batch query.
Scale shape: ONE user_id-keyed shuffle; the RANGE window runs inside
each user's partition ordered by event time (bounded per principal —
never a global window), and the verdict is a map-side-combinable
groupBy(user_id) max. Integer-only, zero IEEE operations.

q164 — RENDEZVOUS-HASH REBALANCING AUDIT. Growing a sharded store from
S to S+1 shards moves ~S/(S+1) of all rows under mod-hashing but only
~1/(S+1) under rendezvous/HRW hashing (Thaler & Ravishankar 1998) —
THE argument for consistent placement at 100 TB, made executable: every
doc is placed under both policies at S=8 and S=9 and the audit reports
the moved fraction per policy (hrw ~ 11%, mod ~ 89%).
Determinism: the HRW argmax is encoded as ONE BIGINT — per-candidate
score = first 8 md5 hex digits of 'doc_id|s' (< 2^32, exact in every
engine), key = score * 16 + s, winner = max(key) % 16 — so placement
is a pure-integer map-only array expression with a built-in
deterministic tie-break (higher s wins a score tie), no struct
comparisons, no UDF, no shuffle.
Scale shape: placement is map-only (a 9-element array transform per
row); the verdict is one 2-group map-side-combinable aggregate. At
real scale the same expression IS the repartitioning key, so the audit
and the migration share one scan.

q195 — SMALL-FILE COMPACTION PLANNER (the Iceberg/Delta maintenance
op: bin-pack undersized data files into target-sized rewrite groups).
The file manifest is synthesized deterministically from the corpus
(file_id = md5 bucket of doc_id, size = total chars landing in the
file — the same convention q95 uses for its manifest buckets); files
>= the target stay untouched ('keep'); small files are packed in
file_id order by running-sum bin assignment bin = floor(cum_before /
target) — the streaming analogue of next-fit bin packing, chosen over
first-fit-decreasing because it is expressible as ONE prefix-sum
window instead of a sequential loop. Output: per file, its
disposition + bin + the bin's final fill, all exact BIGINTs.
Reference intent: the reference's chunk store writes one artifact per
document (reference src/rag/document_processor.py chunk
persistence); at 10^12 documents that layout is exactly the
small-file problem this query plans away.

Scale shape: the manifest is metadata-sized (file grain, not doc
grain), so the prefix-sum window over it is cheap; at extreme file
counts the window key (here the size class) partitions the sort. The
only corpus-sized stage is the mergeable groupBy(file_id) size rollup.

q202 — UCB1 CRAWL SCHEDULER (Auer et al. 2002). Crawl-budget
allocation as a multi-armed bandit: each SOURCE is an arm, its reward
is the keep rate of documents it has yielded (the q40 extraction-keep
convention n_chars >= 100), and the next crawl slice goes to the arm
maximizing UCB = mean_reward + sqrt(2 ln N / n). Unlike Thompson
sampling, UCB1 is fully DETERMINISTIC given the counts — no sampled
randomness to reconcile across engines. The mean is exact integer
micro-units; the bonus and UCB are ROUND(,6)-frozen doubles; the
priority ranking runs on the frozen surface with the source string as
tie-break.
Reference intent: the reference processes a fixed directory
(reference src/pdf_extractor.py:259-314 batch loop); a crawl at
10^12 scale must decide WHERE to spend ingest budget — this is that
decision as a table.

Scale shape: one mergeable groupBy(source) + a 1-row broadcast global;
ranking over |sources| rows.

q208 — CONSISTENT-HASH RING PLACEMENT AUDIT (Karger et al. 1997).
Completes the placement-discipline family: q105/q164 measured mod
vs rendezvous (HRW); this is the classical RING with virtual nodes —
each of S shards projects V=32 vnodes onto a 2^32 ring (md5-derived),
a document lands on the first vnode clockwise of its key hash (wrap
to the ring minimum). Because the vnode table is a DETERMINISTIC
function of (shard, vnode) only, it is built driver-side and embedded
as a sorted array literal in both engines — placement is a pure
map-side array probe (array_min of the filtered suffix), never a
join. The audit adds shard 8 (S=8 -> 9) and measures moved fraction:
the ring's contract is ~1/(S+1) moved; mod moves ~8/9 (q164's
baseline). Exact integers end to end.

Scale shape: zero joins, zero shuffles except the final |shards|-size
rollup; the vnode array is a plan literal (broadcast-constant shape).

q212 — POSTING-LIST ENCODING ADVISOR (Elias-Fano vs bitmap vs
delta-varint; Vigna 2013 "Quasi-succinct indices"). For the 20
highest-df tokens: the EXACT size in bits of each candidate encoding
of the token's sorted posting list. Elias-Fano: n*(2 + l) bits with
l = max(0, floor(log2(u/n))); bitmap: u bits; delta-varint: sum over
gaps g of 8 * ceil(bitlen(g)/7). floor-log2 and bit lengths are
computed INTEGER-EXACTLY via length(bin(x)) - 1 (both engines print
identical binary strings — no float log2 anywhere, so no
power-of-two boundary rounding risk). The winner column is the
advisory.
Reference intent: the reference's pgvector/keyword store
(reference src/rag/vector_database.py) persists posting
structures; at corpus scale the encoding is chosen per list from
exactly these numbers.

Scale shape: (token, doc) grain mergeable aggs; the gap computation
is a LAG window PARTITIONED BY token (parallel across the
vocabulary); top-20 via TakeOrderedAndProject.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Window, functions as F

from sparkextract.queries.base import (
    checkpoint_memo,
    load,
    md5_bucket,
    md5_bucket_sql,
    register,
)


# --------------------------------------------------------------------------
# q101: LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT — a naive per-doc random
# split leaks near-duplicates across the boundary (the test set scores
# inflate because a sibling of every test doc sits in train); the
# correct split assigns the WHOLE near-dup cluster one way, keyed on
# the cluster's survivor id. Reuses q71's connected components over
# the q53 banded-LSH pairs (memoized per session+input) and
# md5-bucket determinism: buckets 0-7 train, 8 val, 9 test.
# Scale shape: the label frame is clustered nodes only (a tiny
# fraction of the corpus) -> broadcast left join; the split assignment
# is map-only on top.
_Q101_BUCKETS = 10


def _q101_oracle() -> str:
    from sparkextract.queries.graph import _Q71_ORACLE

    split_case = f"""CASE
      WHEN {md5_bucket_sql("COALESCE(c.component, e.vec_id)", _Q101_BUCKETS)} <= 7
        THEN 'train'
      WHEN {md5_bucket_sql("COALESCE(c.component, e.vec_id)", _Q101_BUCKETS)} = 8
        THEN 'val'
      ELSE 'test' END"""
    return f"""
WITH comp AS (
  SELECT vec_id, component FROM ({_Q71_ORACLE}) _c
)
SELECT e.vec_id,
       COALESCE(c.component, e.vec_id) AS cluster_id,
       (c.component IS NOT NULL) AS in_cluster,
       {split_case} AS split
FROM embeddings e
LEFT JOIN comp c ON c.vec_id = e.vec_id
"""


@register("q101_leakage_safe_split", oracle=_q101_oracle())
def q101_leakage_safe_split(spark, sf_dir):
    from sparkextract.queries.graph import _dup_components

    labels = _dup_components(spark, sf_dir).select(
        F.col("id").alias("c_vec_id"), F.col("lbl").alias("component")
    )
    emb = load(spark, sf_dir, "embeddings")
    cluster = F.coalesce("component", "vec_id")
    b = md5_bucket(cluster, _Q101_BUCKETS)
    split = (
        F.when(b <= 7, F.lit("train")).when(b == 8, F.lit("val")).otherwise(
            F.lit("test")
        )
    )
    return emb.join(
        F.broadcast(labels), emb["vec_id"] == labels["c_vec_id"], "left"
    ).select(
        "vec_id",
        cluster.alias("cluster_id"),
        F.col("component").isNotNull().alias("in_cluster"),
        split.alias("split"),
    )


_Q142_SHARDS = 64


_Q142_SPAN = (1 << 32) // _Q142_SHARDS


_Q142_SCALE = 1_000_000_000_000  # must exceed per-language char mass


_Q142_TOPN = 100


def _q142_h_sql(col: str) -> str:
    return (
        f"CAST(('0x' || SUBSTRING(md5(CAST({col} AS VARCHAR)), 1, 8))"
        f" AS UBIGINT)"
    )


_Q142_ORACLE = f"""
WITH w AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS wc
  FROM documents GROUP BY lang
),
r AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_q142_h_sql("doc_id")}, doc_id) - 1 AS BIGINT) AS k
  FROM documents
),
keyed AS (
  SELECT r.doc_id, r.lang, r.k,
         (2 * r.k + 1)
           * GREATEST(CAST(ROUND({_Q142_SCALE}.0 / w.wc) AS BIGINT), 1)
           AS sched_key
  FROM r JOIN w USING (lang)
),
top AS (
  SELECT * FROM keyed ORDER BY sched_key, lang, k LIMIT {_Q142_TOPN}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY sched_key, lang, k) AS BIGINT)
         AS slot,
       doc_id, lang, k, sched_key
FROM top
"""


@register("q142_stride_schedule", oracle=_Q142_ORACLE)
def q142_stride_schedule(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    hk = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    h = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        hk.alias("hk"),
        F.floor(hk / _Q142_SPAN).cast("int").alias("shard"),
    )
    wr = Window.partitionBy("lang", "shard").orderBy("hk", "doc_id")
    ranked = checkpoint_memo(
        spark,
        sf_dir,
        "q142_ranked",
        lambda: h.withColumn("rk", F.row_number().over(wr).cast("long")),
    )
    sizes = ranked.groupBy("lang", "shard").agg(F.max("rk").alias("cnt"))
    # lang x shard grain (<= 5*64 rows): tiny cumulative for the offsets
    wo = (
        Window.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "lang",
        "shard",
        F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("offset"),
    )
    k = (F.col("offset") + F.col("rk") - 1).cast("long")
    weights = ranked.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("wc")
    )
    stride = F.greatest(
        F.round(F.lit(float(_Q142_SCALE)) / F.col("wc")).cast("long"),
        F.lit(1).cast("long"),
    )
    keyed = (
        ranked.join(F.broadcast(offsets), ["lang", "shard"])
        .join(F.broadcast(weights), "lang")
        .select(
            "doc_id",
            "lang",
            k.alias("k"),
            ((2 * k + 1) * stride).alias("sched_key"),
        )
    )
    top = keyed.orderBy("sched_key", "lang", "k").limit(_Q142_TOPN)
    ws = Window.orderBy("sched_key", "lang", "k")  # 100 rows: tiny grain
    return top.select(
        F.row_number().over(ws).cast("long").alias("slot"),
        "doc_id",
        "lang",
        "k",
        "sched_key",
    )


_Q150_BUDGET = 100_000


_Q150_ORACLE = f"""
WITH strata AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM strata
), based AS (
  SELECT lang, source, n_docs,
         CAST(({_Q150_BUDGET} * n_docs) // t.n AS BIGINT) AS base_quota,
         CAST(({_Q150_BUDGET} * n_docs) % t.n AS BIGINT) AS rem
  FROM strata, tot t
), leftover AS (
  SELECT CAST({_Q150_BUDGET} - SUM(base_quota) AS BIGINT) AS r FROM based
), ranked AS (
  SELECT lang, source, n_docs, base_quota, rem,
         ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC, source ASC) AS rn
  FROM based
)
SELECT lang, source, n_docs, base_quota,
       (rn <= l.r) AS extra,
       CAST(base_quota + CASE WHEN rn <= l.r THEN 1 ELSE 0 END AS BIGINT)
         AS final_quota
FROM ranked, leftover l
"""


@register("q150_quota_apportionment", oracle=_Q150_ORACLE)
def q150_quota_apportionment(spark, sf_dir):
    strata = (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    tot = strata.agg(F.sum("n_docs").cast("long").alias("n"))
    based = strata.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        F.expr(f"({_Q150_BUDGET} * n_docs) div n").cast("long").alias(
            "base_quota"
        ),
        ((F.lit(_Q150_BUDGET) * F.col("n_docs")) % F.col("n"))
        .cast("long")
        .alias("rem"),
    )
    leftover = based.agg(
        (F.lit(_Q150_BUDGET) - F.sum("base_quota")).cast("long").alias("r")
    )
    # tiny grain: <= (#langs x #sources) rows — the documented exception
    # to the no-global-window rule
    w = Window.orderBy(F.desc("rem"), F.asc("lang"), F.asc("source"))
    ranked = based.withColumn("rn", F.row_number().over(w))
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "lang",
        "source",
        "n_docs",
        "base_quota",
        (F.col("rn") <= F.col("r")).alias("extra"),
        (
            F.col("base_quota")
            + F.when(F.col("rn") <= F.col("r"), 1).otherwise(0)
        )
        .cast("long")
        .alias("final_quota"),
    )


_Q161_SPLIT_BUCKETS = 10  # q101's rule: 0-7 train, 8 val, 9 test


def _split_case_sql(expr: str) -> str:
    b = md5_bucket_sql(expr, _Q161_SPLIT_BUCKETS)
    return (
        f"CASE WHEN {b} <= 7 THEN 'train' WHEN {b} = 8 THEN 'val' "
        f"ELSE 'test' END"
    )


def _q161_oracle() -> str:
    from sparkextract.queries.dedup import _Q53_ORACLE
    from sparkextract.queries.graph import _Q71_ORACLE

    return f"""
WITH pairs AS (
  SELECT left_id, right_id FROM ({_Q53_ORACLE})
),
comp AS (
  SELECT vec_id, component FROM ({_Q71_ORACLE}) _c
),
keyed AS (
  SELECT p.left_id, p.right_id,
         COALESCE(cl.component, p.left_id) AS cl_l,
         COALESCE(cr.component, p.right_id) AS cl_r
  FROM pairs p
  LEFT JOIN comp cl ON cl.vec_id = p.left_id
  LEFT JOIN comp cr ON cr.vec_id = p.right_id
),
expanded AS (
  SELECT 'cluster_keyed' AS policy,
         {_split_case_sql("cl_l")} AS sl,
         {_split_case_sql("cl_r")} AS sr
  FROM keyed
  UNION ALL
  SELECT 'naive_id' AS policy,
         {_split_case_sql("left_id")} AS sl,
         {_split_case_sql("right_id")} AS sr
  FROM keyed
)
SELECT policy,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN sl <> sr THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
       CAST(ROUND(SUM(CASE WHEN sl <> sr THEN 1 ELSE 0 END) * 1000000.0
                  / COUNT(*)) AS BIGINT) AS cross_frac_u
FROM expanded GROUP BY policy
"""


def _split_name(col):
    b = md5_bucket(col, _Q161_SPLIT_BUCKETS)
    return (
        F.when(b <= 7, F.lit("train"))
        .when(b == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )


@register("q161_split_leakage_audit", oracle=_q161_oracle())
def q161_split_leakage_audit(spark, sf_dir):
    from sparkextract.queries.dedup import q53_banded_lsh_near_dup
    from sparkextract.queries.graph import _dup_components

    pairs = q53_banded_lsh_near_dup(spark, sf_dir).select(
        "left_id", "right_id"
    )
    comp = _dup_components(spark, sf_dir).select(
        F.col("id").alias("c_id"), F.col("lbl").alias("component")
    )
    cl = comp.withColumnRenamed("component", "comp_l")
    cr = comp.withColumnRenamed("component", "comp_r")
    keyed = (
        pairs.join(F.broadcast(cl), pairs["left_id"] == cl["c_id"], "left")
        .drop("c_id")
        .join(F.broadcast(cr), pairs["right_id"] == cr["c_id"], "left")
        .drop("c_id")
        .select(
            "left_id",
            "right_id",
            F.coalesce("comp_l", "left_id").alias("cl_l"),
            F.coalesce("comp_r", "right_id").alias("cl_r"),
        )
    )
    expanded = keyed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("cluster_keyed").alias("policy"),
                    _split_name(F.col("cl_l")).alias("sl"),
                    _split_name(F.col("cl_r")).alias("sr"),
                ),
                F.struct(
                    F.lit("naive_id").alias("policy"),
                    _split_name(F.col("left_id")).alias("sl"),
                    _split_name(F.col("right_id")).alias("sr"),
                ),
            )
        ).alias("e")
    ).select("e.policy", "e.sl", "e.sr")
    cross = F.when(F.col("sl") != F.col("sr"), 1).otherwise(0)
    return expanded.groupBy("policy").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(cross).cast("long").alias("n_cross"),
        F.round(F.sum(cross) * F.lit(1000000.0) / F.count("*"))
        .cast("long")
        .alias("cross_frac_u"),
    )


_Q163_WINDOW_US = 60_000_000  # 60-second sliding window


_Q163_LIMIT = 5               # max events allowed per window


_Q163_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t_us FROM events
),
rated AS (
  SELECT user_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY t_us
           RANGE BETWEEN {_Q163_WINDOW_US} PRECEDING AND CURRENT ROW)
           AS rate_60s
  FROM e
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(rate_60s) AS BIGINT) AS max_rate_60s,
       (MAX(rate_60s) > {_Q163_LIMIT}) AS violates
FROM rated GROUP BY user_id
"""


@register("q163_rate_limit_audit", oracle=_Q163_ORACLE)
def q163_rate_limit_audit(spark, sf_dir):
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    # user-keyed RANGE window: partitions are bounded per principal,
    # never a global ordering
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-_Q163_WINDOW_US, 0)
    )
    rated = e.select("user_id", F.count("*").over(w).alias("rate_60s"))
    return rated.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("rate_60s").cast("long").alias("max_rate_60s"),
        (F.max("rate_60s") > _Q163_LIMIT).alias("violates"),
    )


_Q164_S1 = 8


_Q164_S2 = 9


def _hrw_sql(n: int) -> str:
    # winner = max over s of (score(s) * 16 + s), then % 16
    return (
        "CAST(list_max(list_transform(range(0, "
        f"{n}), s -> CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR) "
        "|| '|' || CAST(s AS VARCHAR)), 1, 8)) AS UBIGINT) * 16 + s)) "
        "% 16 AS BIGINT)"
    )


_Q164_ORACLE = f"""
WITH placed AS (
  SELECT doc_id,
         {_hrw_sql(_Q164_S1)} AS hrw_a,
         {_hrw_sql(_Q164_S2)} AS hrw_b,
         doc_id % {_Q164_S1} AS mod_a,
         doc_id % {_Q164_S2} AS mod_b
  FROM documents
),
expanded AS (
  SELECT 'hrw' AS policy, (hrw_a <> hrw_b) AS moved FROM placed
  UNION ALL
  SELECT 'mod' AS policy, (mod_a <> mod_b) AS moved FROM placed
)
SELECT policy,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       CAST(ROUND(SUM(CASE WHEN moved THEN 1 ELSE 0 END) * 1000000.0
                  / COUNT(*)) AS BIGINT) AS moved_frac_u
FROM expanded GROUP BY policy
"""


def _hrw_col(n: int):
    def key(s):
        score = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("|"),
                        s.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return score * 16 + s

    return (
        F.array_max(F.transform(F.sequence(F.lit(0), F.lit(n - 1)), key)) % 16
    ).cast("long")


@register("q164_rendezvous_rebalance", oracle=_Q164_ORACLE)
def q164_rendezvous_rebalance(spark, sf_dir):
    placed = load(spark, sf_dir, "documents").select(
        "doc_id",
        _hrw_col(_Q164_S1).alias("hrw_a"),
        _hrw_col(_Q164_S2).alias("hrw_b"),
        (F.col("doc_id") % _Q164_S1).alias("mod_a"),
        (F.col("doc_id") % _Q164_S2).alias("mod_b"),
    )
    expanded = placed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hrw").alias("policy"),
                    (F.col("hrw_a") != F.col("hrw_b")).alias("moved"),
                ),
                F.struct(
                    F.lit("mod").alias("policy"),
                    (F.col("mod_a") != F.col("mod_b")).alias("moved"),
                ),
            )
        ).alias("e")
    ).select("e.policy", "e.moved")
    mv = F.when(F.col("moved"), 1).otherwise(0)
    return expanded.groupBy("policy").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(mv).cast("long").alias("n_moved"),
        F.round(F.sum(mv) * F.lit(1000000.0) / F.count("*"))
        .cast("long")
        .alias("moved_frac_u"),
    )


# ---------------------------------------------------------------------
# q195
_Q195_FILES = 256


_Q195_TARGET = 200_000  # target compacted file size (chars as bytes proxy)


_Q195_ORACLE = f"""
WITH manifest AS (
  SELECT CAST({md5_bucket_sql("doc_id", _Q195_FILES)} AS BIGINT) AS file_id,
         CAST(SUM(n_chars) AS BIGINT) AS size_bytes,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY file_id
),
small AS (
  SELECT file_id, size_bytes, n_docs,
         size_bytes < {_Q195_TARGET} AS is_small,
         CASE WHEN size_bytes < {_Q195_TARGET}
              THEN COALESCE(SUM(CASE WHEN size_bytes < {_Q195_TARGET}
                                     THEN size_bytes END)
                   OVER (ORDER BY file_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              END AS cum_before
  FROM manifest
),
binned AS (
  SELECT file_id, size_bytes, n_docs, is_small,
         CASE WHEN is_small THEN cum_before // {_Q195_TARGET} ELSE -1 END AS bin
  FROM small
)
SELECT file_id, size_bytes, n_docs, is_small, CAST(bin AS BIGINT) AS bin,
       CASE WHEN is_small THEN 'compact' ELSE 'keep' END AS disposition,
       CAST(SUM(CASE WHEN is_small THEN size_bytes ELSE 0 END)
            OVER (PARTITION BY bin) AS BIGINT) AS bin_fill
FROM binned
"""


@register("q195_compaction_planner", oracle=_Q195_ORACLE)
def q195_compaction_planner(spark, sf_dir):
    from sparkextract.queries.base import md5_bucket

    manifest = (
        load(spark, sf_dir, "documents")
        .groupBy(md5_bucket(F.col("doc_id"), _Q195_FILES).alias("file_id"))
        .agg(
            F.sum("n_chars").cast("long").alias("size_bytes"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )
    is_small = F.col("size_bytes") < _Q195_TARGET
    wcum = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, -1)
    small = manifest.select(
        "file_id",
        "size_bytes",
        "n_docs",
        is_small.alias("is_small"),
        F.when(
            is_small,
            F.coalesce(
                F.sum(F.when(is_small, F.col("size_bytes"))).over(wcum), F.lit(0)
            ),
        ).alias("cum_before"),
    )
    binned = small.select(
        "file_id",
        "size_bytes",
        "n_docs",
        "is_small",
        F.when(
            F.col("is_small"), F.expr(f"cum_before div {_Q195_TARGET}")
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("bin"),
    )
    wbin = Window.partitionBy("bin")
    return binned.select(
        "file_id",
        "size_bytes",
        "n_docs",
        "is_small",
        "bin",
        F.when(F.col("is_small"), F.lit("compact")).otherwise(F.lit("keep")).alias(
            "disposition"
        ),
        F.sum(F.when(F.col("is_small"), F.col("size_bytes")).otherwise(F.lit(0)))
        .over(wbin)
        .cast("long")
        .alias("bin_fill"),
    )


# ---------------------------------------------------------------------
# q202
_Q202_KEEP_MIN = 100  # q40 extraction-keep convention


_Q202_ORACLE = f"""
WITH arms AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_chars >= {_Q202_KEEP_MIN} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept
  FROM documents GROUP BY source
),
g AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM arms),
scored AS (
  SELECT a.source, a.n_docs, a.n_kept,
         CAST((1000000 * a.n_kept) // a.n_docs AS BIGINT) AS mean_u,
         ROUND(SQRT(2.0 * ln(CAST(g.n_total AS DOUBLE))
                    / CAST(a.n_docs AS DOUBLE)), 6) AS bonus,
         ROUND(CAST(a.n_kept AS DOUBLE) / CAST(a.n_docs AS DOUBLE)
               + SQRT(2.0 * ln(CAST(g.n_total AS DOUBLE))
                      / CAST(a.n_docs AS DOUBLE)), 6) AS ucb
  FROM arms a CROSS JOIN g
)
SELECT source, n_docs, n_kept, mean_u, bonus, ucb,
       CAST(ROW_NUMBER() OVER (ORDER BY ucb DESC, source ASC) AS BIGINT)
         AS priority
FROM scored
"""


@register("q202_ucb_crawl_scheduler", oracle=_Q202_ORACLE)
def q202_ucb_crawl_scheduler(spark, sf_dir):
    arms = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_chars") >= _Q202_KEEP_MIN, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )
    g = arms.agg(F.sum("n_docs").cast("long").alias("n_total"))
    j = arms.crossJoin(F.broadcast(g))
    bonus = F.sqrt(
        2.0 * F.log(F.col("n_total").cast("double")) / F.col("n_docs").cast("double")
    )
    ucb = F.col("n_kept").cast("double") / F.col("n_docs").cast("double") + bonus
    scored = j.select(
        "source",
        "n_docs",
        "n_kept",
        F.expr("(1000000 * n_kept) div n_docs").cast("long").alias("mean_u"),
        F.round(bonus, 6).alias("bonus"),
        F.round(ucb, 6).alias("ucb"),
    )
    w = Window.orderBy(F.desc("ucb"), F.asc("source"))
    return scored.withColumn("priority", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------
# q208
_Q208_S1 = 8


_Q208_S2 = 9


_Q208_VNODES = 32


_Q208_RING = 1 << 32


def _q208_vnode_hash(shard: int, v: int) -> int:
    return (
        int(hashlib.md5(f"ring:{shard}:{v}".encode()).hexdigest()[:8], 16)
        % _Q208_RING
    )


def _q208_ring(n_shards: int) -> list[tuple[int, int]]:
    """Sorted (position, shard) vnode ring — a driver-side constant."""
    ring = [
        (_q208_vnode_hash(s, v), s)
        for s in range(n_shards)
        for v in range(_Q208_VNODES)
    ]
    ring.sort()
    return ring


def _q208_ring_sql(n_shards: int, kh: str) -> str:
    """Shard of key-hash ``kh``: first vnode clockwise, wrapping."""
    ring = _q208_ring(n_shards)
    pos = ", ".join(str(p) for p, _ in ring)
    shards = ", ".join(str(s) for _, s in ring)
    # index of first position >= kh, else wrap to index 1. DuckDB's
    # list_position returns 0 (not NULL) when absent — same as Spark's
    # array_position — so the wrap goes through NULLIF
    return (
        f"[{shards}][COALESCE(NULLIF("
        f"list_position(list_transform([{pos}], p -> p >= {kh}), true), 0), 1)]"
    )


_Q208_KH = f"CAST({md5_bucket_sql('doc_id', _Q208_RING)} AS BIGINT)"


_Q208_ORACLE = f"""
WITH placed AS (
  SELECT CAST({_q208_ring_sql(_Q208_S1, _Q208_KH)} AS BIGINT) AS ring_a,
         CAST({_q208_ring_sql(_Q208_S2, _Q208_KH)} AS BIGINT) AS ring_b,
         CAST({_Q208_KH} % {_Q208_S1} AS BIGINT) AS mod_a,
         CAST({_Q208_KH} % {_Q208_S2} AS BIGINT) AS mod_b
  FROM documents
)
SELECT ring_b AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ring_a <> ring_b THEN 1 ELSE 0 END) AS BIGINT)
         AS ring_moved,
       CAST(SUM(CASE WHEN mod_a <> mod_b THEN 1 ELSE 0 END) AS BIGINT)
         AS mod_moved,
       CAST((1000000 * SUM(CASE WHEN ring_a <> ring_b THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS ring_moved_frac_u,
       CAST((1000000 * SUM(CASE WHEN mod_a <> mod_b THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS mod_moved_frac_u
FROM placed
GROUP BY ring_b
"""


def _q208_ring_col(n_shards: int, kh):
    ring = _q208_ring(n_shards)
    pos = F.array(*[F.lit(p) for p, _ in ring])
    shards = F.array(*[F.lit(s) for _, s in ring])
    # Spark's array_position returns 0 (not NULL) when absent — wrap to
    # the ring minimum (index 1) in that case; DuckDB's list_position
    # returns NULL, handled by COALESCE in the oracle
    raw = F.array_position(F.transform(pos, lambda p: p >= kh), F.lit(True))
    idx = F.when(raw == 0, F.lit(1)).otherwise(raw)
    return F.element_at(shards, idx.cast("int"))


@register("q208_consistent_hash_ring", oracle=_Q208_ORACLE)
def q208_consistent_hash_ring(spark, sf_dir):
    kh = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _Q208_RING
    )
    placed = load(spark, sf_dir, "documents").select(
        _q208_ring_col(_Q208_S1, kh).cast("long").alias("ring_a"),
        _q208_ring_col(_Q208_S2, kh).cast("long").alias("ring_b"),
        (kh % _Q208_S1).cast("long").alias("mod_a"),
        (kh % _Q208_S2).cast("long").alias("mod_b"),
    )
    ring_mv = F.sum(F.when(F.col("ring_a") != F.col("ring_b"), 1).otherwise(0))
    mod_mv = F.sum(F.when(F.col("mod_a") != F.col("mod_b"), 1).otherwise(0))
    return placed.groupBy(F.col("ring_b").alias("shard")).agg(
        F.count("*").cast("long").alias("n_docs"),
        ring_mv.cast("long").alias("ring_moved"),
        mod_mv.cast("long").alias("mod_moved"),
        F.expr(
            "(1000000 * sum(case when ring_a <> ring_b then 1 else 0 end)) div count(*)"
        )
        .cast("long")
        .alias("ring_moved_frac_u"),
        F.expr(
            "(1000000 * sum(case when mod_a <> mod_b then 1 else 0 end)) div count(*)"
        )
        .cast("long")
        .alias("mod_moved_frac_u"),
    )


# ---------------------------------------------------------------------
# q212
_Q212_TOPK = 20


_Q212_ORACLE = f"""
WITH posting AS (
  SELECT t, doc_id FROM (
    SELECT DISTINCT doc_id,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
    FROM documents)
),
u AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS u FROM documents),
gaps AS (
  SELECT t, doc_id,
         doc_id - LAG(doc_id) OVER (PARTITION BY t ORDER BY doc_id) AS g
  FROM posting
),
per_tok AS (
  SELECT t,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(CASE WHEN g IS NULL THEN LENGTH(bin(doc_id + 1))
                       ELSE LENGTH(bin(g)) END) AS BIGINT) AS gap_bitlen_sum,
         CAST(SUM(CASE WHEN g IS NULL
                       THEN 8 * ((LENGTH(bin(doc_id + 1)) + 6) // 7)
                       ELSE 8 * ((LENGTH(bin(g)) + 6) // 7) END) AS BIGINT)
           AS varint_bits
  FROM gaps GROUP BY t
),
sized AS (
  SELECT p.t, p.df, u.u,
         CAST(p.df * (2 + GREATEST(LENGTH(bin(u.u // p.df)) - 1, 0))
              AS BIGINT) AS ef_bits,
         u.u AS bitmap_bits,
         p.varint_bits
  FROM per_tok p CROSS JOIN u
)
SELECT t AS token, df, u AS universe, ef_bits, bitmap_bits, varint_bits,
       CASE WHEN ef_bits <= bitmap_bits AND ef_bits <= varint_bits
              THEN 'elias_fano'
            WHEN bitmap_bits <= varint_bits THEN 'bitmap'
            ELSE 'varint' END AS best_encoding
FROM sized
ORDER BY df DESC, token ASC
LIMIT {_Q212_TOPK}
"""


@register("q212_posting_encoding_advisor", oracle=_Q212_ORACLE)
def q212_posting_encoding_advisor(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    posting = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .distinct()
    )
    u = docs.agg((F.max("doc_id") + 1).cast("long").alias("u"))
    wlag = Window.partitionBy("t").orderBy("doc_id")
    gaps = posting.select(
        "t", "doc_id", (F.col("doc_id") - F.lag("doc_id").over(wlag)).alias("g")
    )
    first_bits = F.length(F.bin(F.col("doc_id") + 1))
    gap_bits = F.length(F.bin(F.col("g")))
    bitlen = F.when(F.col("g").isNull(), first_bits).otherwise(gap_bits)
    per_tok = gaps.groupBy("t").agg(
        F.count("*").cast("long").alias("df"),
        F.sum(bitlen).cast("long").alias("gap_bitlen_sum"),
        F.sum(F.expr(
            "case when g is null then 8 * ((length(bin(doc_id + 1)) + 6) div 7)"
            " else 8 * ((length(bin(g)) + 6) div 7) end"
        )).cast("long").alias("varint_bits"),
    )
    sized = per_tok.crossJoin(F.broadcast(u)).select(
        F.col("t").alias("token"),
        "df",
        F.col("u").alias("universe"),
        (
            F.col("df")
            * (2 + F.greatest(F.length(F.bin(F.expr("u div df"))) - 1, F.lit(0)))
        )
        .cast("long")
        .alias("ef_bits"),
        F.col("u").cast("long").alias("bitmap_bits"),
        "varint_bits",
    )
    best = (
        F.when(
            (F.col("ef_bits") <= F.col("bitmap_bits"))
            & (F.col("ef_bits") <= F.col("varint_bits")),
            F.lit("elias_fano"),
        )
        .when(F.col("bitmap_bits") <= F.col("varint_bits"), F.lit("bitmap"))
        .otherwise(F.lit("varint"))
    )
    return (
        sized.withColumn("best_encoding", best)
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(_Q212_TOPK)
    )
