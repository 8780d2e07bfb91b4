"""Relational operators over the TPC-H-style and event tables: grouped
aggregates (S1/A5/A7), windows (W1/W4/W5), existence joins (J2/D5),
priority and seen-set dedup (D1/D3), JSON props (F12), gap-based
sessionization, the document confidence rollup (A6) and the
deterministic global shuffle.

q147 — SPAN INTERVAL MERGE (gaps-and-islands). Every span-emitting
stage (PII regex hits q97, secret-scan matches q141, OCR span
boundaries) produces OVERLAPPING intervals that must be coalesced
before the replacement/redaction is applied — the classic
gaps-and-islands problem. Spans here are the deterministic keyword
hits ('table'/'row'/'key') widened to [pos, pos+2] token-unit
intervals; merging is the textbook two-window form: an interval opens
a new island iff its start exceeds the running MAX(end) of all prior
intervals in the doc (strict overlap-or-touch merge: s <= prev_max_e
merges, s = prev_max_e + 1 does not), island ids are the running sum
of the new-island flag, and the per-doc report is (n_spans, n_islands,
covered_tokens, max_island_len) — all exact integers.
Scale shape: the only shuffle key is doc_id; both windows and both
groupBys share that partitioning (a doc's spans are bounded by its
token count, so no per-key skew beyond the documented mega-doc path
q42 already handles). Reference intent: the span-offset bookkeeping of
reference src/text_processor.py:38-87 (ordered span assembly)
extended with the overlap-coalescing every redaction pipeline needs.

q158 — DOMAIN-SUFFIX BLOCKLIST JOIN. Crawl governance blocks domains by
SUFFIX ("*.site7.com", a whole TLD, one exact host): a host matches an
entry iff it equals the entry or ends with '.' + entry — label-boundary
semantics, never substring. The scalable form is NOT a LIKE-join (a
non-equi join Spark would nested-loop): each host explodes into its
<= depth label-suffixes ('h1.site7.com' -> {'h1.site7.com',
'site7.com', 'com'}, bounded fan-out), and matching becomes a plain
EQUI-join against the broadcast blocklist. Hosts are synthesized
deterministically from doc_id (3-level, the q98/q149 URL protocol).
Reference analog: the per-source skip-list config gate
(reference src/config/settings.py) lifted to web-crawl grain.
Scale shape: suffix explode is map-side (<= 3 rows per doc); the
blocklist (5 rows) broadcasts; the rollup is one map-side-combinable
groupBy(entry). Zero corpus-keyed shuffles beyond the final tiny agg.

q180 — EXPONENTIAL-DECAY POPULARITY (time-decayed counters). The
monitoring primitive behind "trending now": each event contributes
2^(-age/half_life), so old mass fades without any windowed state. The
engine-portable discipline: age is quantized to integer decay steps
(1 h), the per-event weight 2^-e for e <= 18 is an EXACT decimal
literal (2^-e = 5^e * 10^-e, so scale-18 decimals represent it
exactly), and the per-type decayed mass is an exact order-free
DECIMAL(38,18) sum — one mergeable groupBy, no window, no IEEE
accumulation. Verdict: per event type the raw count rank vs the
decayed-mass rank with a changed flag — recency re-ranking made
executable.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.sql.window import Window as W

from sparkextract.queries.base import dsum, load, md5_bucket_sql, register


def _dec(col):
    """Decimal-exact view of a double column (order-independent sums)."""
    return F.col(col).cast("decimal(18,4)")


# --------------------------------------------------------------------------
# A5/A7 grouped aggregation — TPC-H Q1 shape (pricing summary).
# Scale note: partial (map-side) agg + final agg, no row explosion; the
# filter pushes to the parquet scan.
@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum('l_quantity')} AS sum_qty,
           {dsum('l_extendedprice')} AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS count_order,
           {dsum('l_quantity')} / COUNT(*) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.round(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")),
            4,
        )
        .cast("double")
        .alias("sum_disc_price"),
        F.count("*").alias("count_order"),
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
    )


# --------------------------------------------------------------------------
# T1/T2 top-k after join-aggregate (kNN `ORDER BY ... LIMIT k` shape).
@register(
    "q02_top_revenue_orders",
    oracle=f"""
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q02_top_revenue_orders(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# J3 shape: star join through broadcast dims (lineitem→orders→customer→
# nation→region). Dims are broadcast explicitly — at 100 TB the fact side
# never shuffles for these joins.
@register(
    "q03_region_sales",
    oracle=f"""
    SELECT r.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q03_region_sales(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")),
                4,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# A5 analog on the documents table: per-(lang, source) content stats.
@register(
    "q04_doc_stats",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def q04_doc_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# A7 grouped stats + epoch-projected timestamps.
@register(
    "q05_event_type_stats",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {dsum('value')} AS sum_value,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
    FROM events
    GROUP BY event_type
    """,
)
def q05_event_type_stats(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")  # parquet reads as NTZ; session TZ is UTC
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(_dec("value")).cast("double").alias("sum_value"),
        F.unix_micros(F.min(ts)).alias("first_us"),
        F.unix_micros(F.max(ts)).alias("last_us"),
    )


# --------------------------------------------------------------------------
# W4/T3 top-k per group via row_number (rank-and-take-top-k).
@register(
    "q06_topk_events_per_user",
    oracle="""
    SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rn FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def q06_topk_events_per_user(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


# --------------------------------------------------------------------------
# W5 cumulative window (running sum, unboundedPreceding..currentRow).
@register(
    "q07_running_value",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
    FROM events
    """,
)
def q07_running_value(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(_dec("value")).over(w).cast("double").alias("running_value"),
    )


# --------------------------------------------------------------------------
# W5 exact analog: context assembly under a running-length budget
# (reference rag_pipeline.py:582-618 — cumulative length <= 4000).
@register(
    "q08_context_budget",
    oracle="""
    SELECT source, doc_id, CAST(cum_chars AS BIGINT) AS cum_chars FROM (
      SELECT source, doc_id,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chars
      FROM documents
    ) WHERE cum_chars <= 4000
    """,
)
def q08_context_budget(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    w = (
        W.partitionBy("source")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        docs.withColumn("cum_chars", F.sum("n_chars").over(w))
        .filter(F.col("cum_chars") <= 4000)
        .select("source", "doc_id", "cum_chars")
    )


# --------------------------------------------------------------------------
# W1: the running chunk_index — dense 0-based ordinal per partition key
# (the `offset` of the output span model).
@register(
    "q09_chunk_index",
    oracle="""
    SELECT doc_id, source,
           CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) - 1 AS BIGINT) AS offset
    FROM documents
    """,
)
def q09_chunk_index(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.asc("doc_id"))
    return docs.select(
        "doc_id", "source", (F.row_number().over(w) - 1).cast("long").alias("offset")
    )


# --------------------------------------------------------------------------
# J2: anti-join (the resume/skip-if-processed operator) — customers that
# placed no order above the threshold.
@register(
    "q14_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
)
def q14_anti_join(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# Left-semi probe (EXISTS): the duplicate-document check J2's positive twin.
@register(
    "q15_semi_join",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def q15_semi_join(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# D1: priority dedup via row_number (first-writer-wins on a key with an
# explicit priority order — reference form_extractor.py:478-506).
@register(
    "q12_dedup_priority",
    oracle="""
    SELECT user_id, event_type, event_id, value FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY value DESC, ts ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q12_dedup_priority(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


# --------------------------------------------------------------------------
# F12: JSON prop extraction + conditional agg.
@register(
    "q26_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS BIGINT) AS n_high
    FROM events GROUP BY event_type
    """,
)
def q26_json_props(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_high"),
    )


@register(
    "q48_distinct_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q48_distinct_keys(spark, sf_dir):
    """D3: seen-set dedup by key (reference dedups retrieved chunks by
    chunk_id, reference src/rag/rag_pipeline.py:514-521) —
    ``dropDuplicates`` restricted to the key columns so the survivor row
    is deterministic. Scale: map-side partial dedup before the shuffle
    (Catalyst plans HashAggregate(partial) → exchange → HashAggregate)."""
    return load(spark, sf_dir, "events").select("user_id", "event_type").dropDuplicates()


@register(
    "q51_confidence_rollup",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(ROUND((
               LEAST(LENGTH(text) / 1000.0, 1.0)
             + (1.0 - ABS( (LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) / GREATEST(LENGTH(text), 1) - 0.15 ))
           ) / 2.0, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_conf,
           ROUND(MIN(ROUND((
               LEAST(LENGTH(text) / 1000.0, 1.0)
             + (1.0 - ABS( (LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) / GREATEST(LENGTH(text), 1) - 0.15 ))
           ) / 2.0, 6)), 6) AS min_conf
    FROM documents GROUP BY lang
    """,
)
def q51_confidence_rollup(spark, sf_dir):
    """A6: overall confidence rollup — mean of per-doc factor scores
    (reference cross-engine confidence mean,
    reference src/utils/validation.py:170-199; factor formulas A2,
    reference src/text_extractor.py:153-177 length factor, :400-403
    whitespace-ratio factor F9). Per-doc scores are quantized to 6
    decimals, then averaged as an exact DECIMAL(18,6) sum divided once as
    DOUBLE (the q01 avg_qty pattern) — a plain double AVG is summation-
    order-dependent and can straddle a rounding boundary between engines.
    Single scan, partial-agg shuffle."""
    docs = load(spark, sf_dir, "documents")
    ln = F.length("text")
    length_factor = F.least(ln / 1000.0, F.lit(1.0))
    ws = ln - F.length(F.regexp_replace("text", " ", ""))
    ws_factor = F.lit(1.0) - F.abs(ws / F.greatest(ln, F.lit(1)) - F.lit(0.15))
    conf = F.round((length_factor + ws_factor) / 2.0, 6)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(conf.cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_conf"),
        F.round(F.min(conf), 6).alias("min_conf"),
    )


# --------------------------------------------------------------------------
# q82: GAP-BASED SESSIONIZATION — the canonical event-stream operator:
# per user, a new session starts when the gap to the previous event
# exceeds 12 h; sessions are then aggregated to (n_events, span). The
# classic two-window construction: lag() to get the gap, a running sum
# of new-session flags to get the session ordinal — both windows and
# the final groupBy cluster on user_id, so Spark plans ONE shuffle (the
# (user_id, session_seq) aggregation reuses the window's hash
# partitioning: HashPartitioning(user_id) satisfies the grouping's
# ClusteredDistribution). Ordering inside the window is (us, event_id)
# — event_id breaks timestamp ties so RANGE/ROWS frames coincide and
# both engines see one total order. Batch twin of the streaming session
# windows in streaming/; gap threshold is the knob a 100 TB run tunes.
_Q82_GAP_US = 43_200_000_000  # 12 hours


_Q82_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
              > {_Q82_GAP_US}
         OR lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM e
),
sessed AS (
  SELECT user_id, us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(us) AS BIGINT) AS first_us,
       CAST(MAX(us) AS BIGINT) AS last_us,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM sessed GROUP BY user_id, session_seq
"""


@register("q82_sessionize", oracle=_Q82_ORACLE)
def q82_sessionize(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > _Q82_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessed = flagged.withColumn("session_seq", F.sum("is_new").over(w))
    return sessed.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


# --------------------------------------------------------------------------
# q105: DETERMINISTIC CORPUS SHUFFLE — pretraining needs the corpus in a
# reproducible pseudo-random global order, but a global ORDER BY is a
# single-sort bottleneck at 100 TB. The scalable equivalent is
# two-level: the md5 order key's HIGH BITS are the shard (so shard is a
# prefix of the global order), ranks are computed within each shard, and
# shard sizes (a <=SHARDS-row agg) are cumulated into offsets;
# global_pos = shard_offset + in-shard rank. The oracle PROVES the
# two-level result equals the true global ROW_NUMBER over the corpus.
# Scale shape: ONE corpus shuffle (keyed on shard) + an in-shard sort;
# the offset table is tiny and broadcast. No single-partition window,
# no global sort.
_Q105_SHARDS = 64


_Q105_SPAN = (1 << 32) // _Q105_SHARDS


def _q105_h_sql(col: str) -> str:
    return f"CAST(('0x' || SUBSTRING(md5(CAST({col} AS VARCHAR)), 1, 8)) AS UBIGINT)"


_Q105_ORACLE = f"""
WITH h AS (
  SELECT doc_id, {_q105_h_sql("doc_id")} AS hk FROM documents
)
SELECT doc_id,
       CAST(hk // {_Q105_SPAN} AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (ORDER BY hk, doc_id) - 1 AS BIGINT)
         AS global_pos
FROM h
"""


@register("q105_deterministic_shuffle", oracle=_Q105_ORACLE)
def q105_deterministic_shuffle(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    hk = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    h = docs.select("doc_id", hk.alias("hk"), F.floor(hk / _Q105_SPAN).cast("int").alias("shard"))
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    # the ranked frame is materialized ONCE (checkpoint_memo): its two
    # consumers (shard-size agg, offset join) are sibling subtrees, and
    # AQE does not reuse exchanges across siblings (the repo-wide q68
    # finding) — without it the corpus is scanned, shuffled, and
    # window-ranked twice. At real scale this materialization IS the
    # job's output artifact (the shuffled-corpus manifest).
    from sparkextract.queries.base import checkpoint_memo

    ranked = checkpoint_memo(
        spark,
        sf_dir,
        "q105_ranked",
        lambda: h.withColumn("rk", F.row_number().over(w).cast("long")),
    )
    # shard size == max in-shard rank: derived from ranked, no re-scan
    sizes = ranked.groupBy("shard").agg(F.max("rk").alias("cnt"))
    # <=SHARDS rows: the offset cumsum runs on the tiny aggregated grain
    wo = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "shard", F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("offset")
    )
    return ranked.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "shard",
        (F.col("offset") + F.col("rk") - 1).alias("global_pos"),
    )


# --------------------------------------------------------------------------
# q98: DOMAIN-LEVEL FILTERING + ROLLUP — the web-pipeline step that
# scores and gates whole domains (spam/SEO domains are dropped as a
# unit, per-domain quotas cap crawl skew). Each doc carries a
# deterministic synthetic URL; the DOMAIN IS PARSED FROM THE URL STRING
# (split on '/'), never recomputed from doc_id — string parsing is the
# operator. The blocklist is the md5-bucket(domain)%11==0 slice,
# applied as a BROADCAST ANTI-JOIN (a real blocklist is a curated list,
# not a predicate). Output: per surviving domain, doc count, total
# chars, mean quality. Reference analog: content-type/min-confidence
# retrieval filters (reference src/rag/vector_store.py filters)
# lifted to domain grain.
# Scale shape: one groupBy(domain) keyed shuffle; the blocklist is a
# CURATED EXTERNAL LIST (built driver-side from the known domain
# universe, exactly how a real blocklist arrives) so the corpus is
# scanned once — deriving it from the corpus would either re-scan or
# rely on ReuseExchange firing across sibling subtrees (it doesn't
# under AQE). The anti-join broadcasts the list; at web scale
# (~millions of domains) it still broadcasts, or at worst falls back
# to a keyed join on the ALREADY-AGGREGATED domain grain, never the
# doc grain.
_Q98_DOMAINS = 97


_Q98_BLOCK_BUCKETS = 11


_Q98_URLS = f"""
  SELECT doc_id, n_chars,
         'https://site' || CAST(doc_id % {_Q98_DOMAINS} AS VARCHAR)
           || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
"""


_Q98_ORACLE = f"""
WITH urls AS (
  {_Q98_URLS}
),
parsed AS (
  SELECT doc_id, n_chars, split_part(url, '/', 3) AS domain FROM urls
),
per_domain AS (
  SELECT domain,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         ROUND(SUM(n_chars) * 1.0 / COUNT(*), 6) AS mean_chars
  FROM parsed GROUP BY domain
)
SELECT domain, n_docs, total_chars, mean_chars
FROM per_domain
WHERE {md5_bucket_sql("domain", _Q98_BLOCK_BUCKETS)} <> 0
"""


@register("q98_domain_rollup", oracle=_Q98_ORACLE)
def q98_domain_rollup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % _Q98_DOMAINS).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    parsed = docs.select(
        "n_chars", F.element_at(F.split("url", "/"), 3).alias("domain")
    )
    per_domain = parsed.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias(
            "mean_chars"
        ),
    )
    import hashlib

    blocked = [
        (d,)
        for i in range(_Q98_DOMAINS)
        for d in [f"site{i}.example.com"]
        if int(hashlib.md5(d.encode()).hexdigest()[:8], 16) % _Q98_BLOCK_BUCKETS == 0
    ]
    blocklist = spark.createDataFrame(blocked, "domain string")
    return per_domain.join(F.broadcast(blocklist), "domain", "left_anti")


_Q147_KW = ("table", "row", "key")


_Q147_WIDTH = 2  # interval = [pos, pos + width] in token units


_Q147_KW_SQL = ", ".join(f"'{k}'" for k in _Q147_KW)


_Q147_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos1
  FROM documents
), spans AS (
  SELECT doc_id, pos1 - 1 AS s, pos1 - 1 + {_Q147_WIDTH} AS e
  FROM toks WHERE tok IN ({_Q147_KW_SQL})
), flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM spans
), islands AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (
           PARTITION BY doc_id ORDER BY s
           ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), merged AS (
  SELECT doc_id, island, MIN(s) AS ms, MAX(e) AS me
  FROM islands GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_islands,
         CAST(SUM(me - ms + 1) AS BIGINT) AS covered_tokens,
         CAST(MAX(me - ms + 1) AS BIGINT) AS max_island_len
  FROM merged GROUP BY doc_id
), counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM spans
  GROUP BY doc_id
)
SELECT p.doc_id, c.n_spans, p.n_islands, p.covered_tokens, p.max_island_len
FROM per_doc p JOIN counts c USING (doc_id)
"""


@register("q147_span_interval_merge", oracle=_Q147_ORACLE)
def q147_span_interval_merge(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    kw = F.col("tok") == F.lit(_Q147_KW[0])
    for k in _Q147_KW[1:]:
        kw = kw | (F.col("tok") == F.lit(k))
    spans = toks.filter(kw).select(
        "doc_id",
        F.col("pos").cast("long").alias("s"),
        (F.col("pos") + _Q147_WIDTH).cast("long").alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = spans.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("doc_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_islands"),
        F.sum(F.col("me") - F.col("ms") + 1).cast("long").alias("covered_tokens"),
        F.max(F.col("me") - F.col("ms") + 1).cast("long").alias("max_island_len"),
    )
    counts = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans")
    )
    return per_doc.join(counts, "doc_id").select(
        "doc_id", "n_spans", "n_islands", "covered_tokens", "max_island_len"
    )


_Q158_HOSTS_SQL = """
  SELECT doc_id,
         'h' || CAST(doc_id % 5 AS VARCHAR)
           || '.site' || CAST(doc_id % 23 AS VARCHAR)
           || '.' || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                      ELSE 'net' END) AS host
  FROM documents
"""


_Q158_BLOCKLIST = (
    "org",            # a whole TLD
    "site7.com",      # a registrable domain (all its hosts)
    "site16.net",     # another, on the third TLD
    "h2.site11.net",  # one exact host
    "absent.example", # never matches — proves no-hit entries still report
)


_Q158_BL_SQL = " UNION ALL ".join(
    f"SELECT '{e}' AS entry" for e in _Q158_BLOCKLIST
)


_Q158_ORACLE = f"""
WITH hosts AS ({_Q158_HOSTS_SQL}),
suffixes AS (
  SELECT doc_id, host,
         array_to_string(labels[i:], '.') AS suffix
  FROM (
    SELECT doc_id, host, string_split(host, '.') AS labels FROM hosts
  ), UNNEST(generate_series(1, len(labels))) AS t(i)
),
bl AS ({_Q158_BL_SQL}),
hits AS (
  SELECT bl.entry, s.doc_id
  FROM bl LEFT JOIN suffixes s ON s.suffix = bl.entry
)
SELECT entry,
       CAST(COUNT(doc_id) AS BIGINT) AS n_blocked,
       CAST(COALESCE(MIN(doc_id), -1) AS BIGINT) AS min_doc
FROM hits GROUP BY entry
"""


@register("q158_suffix_blocklist", oracle=_Q158_ORACLE)
def q158_suffix_blocklist(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id")
    host = F.concat(
        F.lit("h"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".site"),
        (F.col("doc_id") % 23).cast("string"),
        F.lit("."),
        F.when(F.col("doc_id") % 3 == 0, "com")
        .when(F.col("doc_id") % 3 == 1, "org")
        .otherwise("net"),
    )
    labeled = docs.select("doc_id", F.split(host, "\\.").alias("labels"))
    # bounded map-side fan-out: one row per label-suffix (<= host depth)
    suffixes = labeled.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("labels") - 1),
                lambda i: F.array_join(
                    F.slice(
                        F.col("labels"), i + 1, F.size("labels") - i
                    ),
                    ".",
                ),
            )
        ).alias("suffix"),
    )
    bl = spark.createDataFrame(
        [(e,) for e in _Q158_BLOCKLIST], "entry string"
    )
    # corpus-side match is an INNER BroadcastHashJoin (Spark cannot
    # broadcast the preserved side of an outer join); no-hit entries are
    # restored by a 5-row x 5-row left join afterwards
    hits = (
        suffixes.join(
            F.broadcast(bl), suffixes["suffix"] == bl["entry"], "inner"
        )
        .groupBy("entry")
        .agg(
            F.count("doc_id").cast("long").alias("nb"),
            F.min("doc_id").cast("long").alias("md"),
        )
    )
    return bl.join(hits, "entry", "left").select(
        "entry",
        F.coalesce(F.col("nb"), F.lit(0)).cast("long").alias("n_blocked"),
        F.coalesce(F.col("md"), F.lit(-1)).cast("long").alias("min_doc"),
    )


# --------------------------------------------------------------------------
_Q180_STEP_US = 3_600_000_000  # 1 h decay quantum


_Q180_MAX_E = 18  # 2^-18 < 4e-6: older mass is exactly zero weight


# exact decimal literals for 2^-e (2^-e = 5^e * 10^-e: scale e <= 18)
_Q180_WEIGHTS = {
    e: ("{0:.18f}".format(0.5**e) if e else "1.000000000000000000")
    for e in range(_Q180_MAX_E + 1)
}


def _q180_weight_case(evar: str) -> str:
    arms = " ".join(
        f"WHEN {e} THEN CAST({w} AS DECIMAL(20,18))"
        for e, w in _Q180_WEIGHTS.items()
    )
    return f"CASE {evar} {arms} ELSE CAST(0 AS DECIMAL(20,18)) END"


_Q180_ORACLE = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS t_us FROM events
),
t0 AS (SELECT MAX(t_us) AS tmax FROM ev),
w AS (
  SELECT event_type,
    {_q180_weight_case(f"LEAST((t0.tmax - t_us) // {_Q180_STEP_US}, {_Q180_MAX_E})")}
      AS wgt
  FROM ev, t0
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(wgt) AS DECIMAL(38,18)) AS decayed
  FROM w GROUP BY event_type
)
SELECT event_type, n_events,
  CAST(ROUND(decayed, 6) AS DOUBLE) AS decayed_mass,
  CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, event_type) AS BIGINT)
    AS rank_raw,
  CAST(ROW_NUMBER() OVER (ORDER BY decayed DESC, event_type) AS BIGINT)
    AS rank_decayed,
  (ROW_NUMBER() OVER (ORDER BY n_events DESC, event_type)
   <> ROW_NUMBER() OVER (ORDER BY decayed DESC, event_type)) AS rank_changed
FROM agg
"""


@register("q180_decayed_popularity", oracle=_Q180_ORACLE)
def q180_decayed_popularity(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us")
    )
    t0 = ev.agg(F.max("t_us").alias("tmax"))
    e = F.least(
        F.expr(f"(tmax - t_us) div {_Q180_STEP_US}"), F.lit(_Q180_MAX_E)
    )
    wgt = None
    for k, lit in _Q180_WEIGHTS.items():
        arm = F.lit(lit).cast("decimal(20,18)")
        wgt = F.when(e == k, arm) if wgt is None else wgt.when(e == k, arm)
    wgt = wgt.otherwise(F.lit("0").cast("decimal(20,18)"))
    agg = (
        ev.crossJoin(F.broadcast(t0))
        .select("event_type", wgt.alias("wgt"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("wgt").cast("decimal(38,18)").alias("decayed"),
        )
    )
    wraw = Window.orderBy(F.desc("n_events"), F.asc("event_type"))
    wdec = Window.orderBy(F.desc("decayed"), F.asc("event_type"))
    return agg.select(
        "event_type",
        "n_events",
        # ROUND in decimal before the double cast: a scale-18 sum's
        # scaled integer passes 2^53, where DuckDB's decimal->double
        # double-rounds (the documented scale-8 bug class)
        F.round(F.col("decayed"), 6).cast("double").alias("decayed_mass"),
        F.row_number().over(wraw).cast("long").alias("rank_raw"),
        F.row_number().over(wdec).cast("long").alias("rank_decayed"),
        (
            F.row_number().over(wraw) != F.row_number().over(wdec)
        ).alias("rank_changed"),
    )
