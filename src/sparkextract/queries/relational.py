"""Relational operators over the TPC-H-style and event tables: grouped
aggregates (S1/A5/A7), windows (W1/W4/W5), existence joins (J2/D5),
priority and seen-set dedup (D1/D3), JSON props (F12), gap-based
sessionization, the document confidence rollup (A6) and the
deterministic global shuffle.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.sql.window import Window as W

from sparkextract.queries.base import dsum, load, register


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
