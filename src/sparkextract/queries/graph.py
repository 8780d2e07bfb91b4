"""Graph queries: link-graph PageRank and the bounded label propagation
that turns near-dup pairs into connected components.

q152 — NEIGHBORHOOD QUALITY PROPAGATION (1-hop message passing over
the q119 citation graph). Link-spam detection aggregates a per-node
score over in-neighbors: a page cited mostly by low-quality pages is
suspect ("TrustRank"-shape, Gyongyi et al. 2004, reduced to one
labeled-aggregation hop). Edges are q119's deterministic md5 citation
graph (3 out-edges per doc, self-loops dropped); the propagated label
is the q135 logit in exact integer micro-units, so the per-target SUM
is order-independent BIGINT arithmetic and only the mean is one
snapped IEEE division. The spam flag compares the INTEGER sum against
zero — no float in the decision.
Scale shape: edge generation is map-side (3 rows per doc, no shuffle);
the propagation is ONE groupBy(dst) with map-side partial sums — the
canonical message-passing dataflow (same shape as one q119 iteration).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from sparkextract.queries.base import load, register
from sparkextract.queries.dedup import _Q53_ORACLE, q53_banded_lsh_near_dup
from sparkextract.queries.quality import _Q135_CORE_SQL, _q135_features


def label_propagation(pair_df):
    """(left_id, right_id) dup pairs -> (id, lbl) connected-component
    labels via iterated min-label propagation. Each iteration is ONE
    shuffle of label-sized rows; per-iteration localCheckpoint keeps
    lineage O(1). Rounds grow with the graph's diameter; past 30 rounds
    it raises. Used by q71, q72 and the q94 end-to-end composition."""
    edges = pair_df.select(F.col("left_id").alias("a"), F.col("right_id").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    try:
        labels = (
            edges.select(F.col("a").alias("id")).distinct()
            .select("id", F.col("id").alias("lbl"))
            .localCheckpoint()
        )
        # bounded fixed-point loop: near-dup components have tiny diameters,
        # but the convergence test (not the bound) is what terminates — the
        # cap only guards against a pathological chain corpus
        for _ in range(30):
            neighbor_min = (
                edges.join(labels, edges["a"] == labels["id"])
                .groupBy(F.col("b").alias("id"))
                .agg(F.min("lbl").alias("nl"))
            )
            joined = labels.join(neighbor_min, "id", "left").select(
                "id",
                F.col("lbl").alias("old"),
                F.least("lbl", F.coalesce("nl", "lbl")).alias("lbl"),
            )
            joined = joined.localCheckpoint()
            if joined.filter(F.col("lbl") < F.col("old")).count() == 0:
                break
            labels = joined.drop("old")
        else:
            raise RuntimeError("label propagation did not converge in 30 rounds")
    finally:
        edges.unpersist()
    labels = joined.drop("old")
    return labels


# --------------------------------------------------------------------------
# q119: LINK-GRAPH PAGERANK, 3 ITERATIONS, INTEGER MICRO-UNITS.
#
# Graph: every document cites 3 md5-derived targets (self-citations
# dropped), the deterministic stand-in for a hyperlink graph extracted
# by the main-content pass (reference analog: the cross-reference /
# citation assembly surface). Ranks live in micro-units (1e6 = 1.0)
# and every step is BIGINT floor arithmetic:
#   r0(v)    = 1_000_000
#   r_{t+1}(v) = 150_000 + (85 * SUM_{u->v}(r_t(u) div outdeg(u))) div 100
# so the sums are order-independent and both engines agree bit-for-bit
# (float PageRank would diverge in the last ulp under different
# aggregation orders).
#
# Scale shape: edges are generated map-side from the doc scan (3 rows
# per doc, no shuffle); each iteration is one shuffle keyed by dst with
# map-side partial sums, the canonical PageRank dataflow. On a real
# cluster the edge table would be hash-partitioned by src once and the
# rank table co-partitioned, so only the contribution shuffle remains;
# iteration count is fixed (3), not data-dependent.
_Q119_ITERS = 3


_Q119_FANOUT = 3


_Q119_TOPK = 20


def _cite_bucket_sql(j: int) -> str:
    return (
        f"CAST(CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR) || '#{j}'), 1, 8))"
        f" AS UBIGINT) % n.n_docs AS BIGINT)"
    )


def _q119_oracle() -> str:
    edges_sel = " UNION ALL ".join(
        f"SELECT doc_id AS src, {_cite_bucket_sql(j)} AS dst FROM documents, n"
        for j in range(_Q119_FANOUT)
    )
    sql = f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
edges0 AS ({edges_sel}),
edges AS (SELECT src, dst FROM edges0 WHERE src <> dst),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src),
r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents)
"""
    for t in range(1, _Q119_ITERS + 1):
        sql += f""",
r{t} AS (
  SELECT d.doc_id,
         CAST(150000 + (85 * COALESCE(s.contrib, 0)) // 100 AS BIGINT) AS r
  FROM documents d
  LEFT JOIN (
    SELECT ed.dst AS doc_id, SUM(p.r // ed.outdeg) AS contrib
    FROM ed JOIN r{t - 1} p ON p.doc_id = ed.src
    GROUP BY ed.dst
  ) s ON s.doc_id = d.doc_id
)"""
    sql += f"""
SELECT doc_id, r AS rank_units
FROM r{_Q119_ITERS}
ORDER BY rank_units DESC, doc_id ASC
LIMIT {_Q119_TOPK}
"""
    return sql


@register("q119_pagerank", oracle=_q119_oracle())
def q119_pagerank(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()

    cite = [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"#{j}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n_docs
        ).alias("dst")
        for j in range(_Q119_FANOUT)
    ]
    edges = (
        docs.select(F.col("doc_id").alias("src"), F.explode(F.array(*cite)).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    # fanout=3 per source: the src->outdeg attach never moves the big side
    ed = edges.join(F.broadcast(deg), "src")

    ranks = docs.select("doc_id", F.lit(1000000).cast("long").alias("r"))
    for _ in range(_Q119_ITERS):
        contrib = (
            ed.join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .select(F.col("dst").alias("doc_id"), F.expr("r div outdeg").alias("c"))
            .groupBy("doc_id")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = docs.join(contrib, "doc_id", "left").select(
            "doc_id",
            (
                F.lit(150000)
                + F.expr("85 * coalesce(contrib, 0L) div 100")
            )
            .cast("long")
            .alias("r"),
        )
    return (
        ranks.select("doc_id", F.col("r").alias("rank_units"))
        .orderBy(F.desc("rank_units"), F.asc("doc_id"))
        .limit(_Q119_TOPK)
    )


# --------------------------------------------------------------------------
# q71: duplicate-pair -> duplicate-cluster connected components over
# q53's near-dup pair output, via iterated min-label propagation (each
# node repeatedly adopts the minimum label among itself and its
# neighbors until a fixed point — the classic distributed
# connected-components loop).
# Scale shape: each iteration is ONE shuffle of label-sized rows on the
# node id plus an edge join on the same key; iteration count is the
# component diameter (tiny for near-dup clusters). The label frame is
# localCheckpoint()ed every iteration so lineage (and replay cost) stays
# O(1) per round instead of O(rounds) — the same persist-between-
# iterations discipline a 100 TB Lloyd's run needs.
# Oracle: DuckDB recursive CTE computing min reachable id per node.
_Q71_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_Q53_ORACLE}
),
edges AS (
  SELECT left_id AS a, right_id AS b FROM pairs
  UNION ALL
  SELECT right_id, left_id FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS lbl FROM nodes
  UNION
  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
)
SELECT vec_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM (
  SELECT id AS vec_id, MIN(lbl) AS component FROM reach GROUP BY id
)
"""


# the propagation loop runs actions eagerly (convergence tests), so when
# q71 and q72 share one session+input (the panel view unions both) the
# localCheckpoint()ed fixed point is reused instead of recomputed. The
# key carries an input-content token (file names/sizes/mtimes), so a
# caller that rewrites the parquet under sf_dir in-session gets fresh
# components instead of stale checkpointed labels (round-3 ADVICE item;
# regression-tested in test_round5.py).
# FIFO-bounded: entries for stopped sessions would otherwise pin dead
# DataFrame/JVM-gateway references for the process lifetime (pytest and
# repeated driver rounds run many sessions in one process); eviction
# drops the reference and leaves block reclamation to ContextCleaner GC
# (localCheckpoint blocks are not unpersist()-able).
_COMPONENTS_MEMO: dict[tuple[str, str, str], object] = {}


_COMPONENTS_MEMO_CAP = 8


def _dup_components(spark, sf_dir):
    from sparkextract.queries.base import input_token

    memo_key = (spark.sparkContext.applicationId, input_token(sf_dir), sf_dir)
    cached = _COMPONENTS_MEMO.get(memo_key)
    if cached is not None:
        return cached
    labels = label_propagation(q53_banded_lsh_near_dup(spark, sf_dir))
    while len(_COMPONENTS_MEMO) >= _COMPONENTS_MEMO_CAP:
        _COMPONENTS_MEMO.pop(next(iter(_COMPONENTS_MEMO)))
    _COMPONENTS_MEMO[memo_key] = labels
    return labels


@register("q71_dup_components", oracle=_Q71_ORACLE)
def q71_dup_components(spark, sf_dir):
    labels = _dup_components(spark, sf_dir)
    w = F.count("*").over(Window.partitionBy("lbl"))
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("lbl").alias("component"),
        w.alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# q72: apply the q71 clusters back to the corpus — the step a real
# training-data dedup pipeline actually ends with: every vector keeps a
# canonical ``survivor_id`` (its component's min id under min-label
# propagation, i.e. the component label itself; unclustered rows survive
# as themselves) and non-survivor cluster members are the rows a cleaned
# corpus drops. Scale shape: the labels side holds ONLY clustered nodes
# (a tiny fraction of the corpus), so the left join is broadcast; the
# corpus is never shuffled.
_Q72_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, component FROM ({_Q71_ORACLE}) _c
)
SELECT e.vec_id,
       COALESCE(c.component, e.vec_id) AS survivor_id,
       (c.component IS NULL OR c.component = e.vec_id) AS is_survivor
FROM embeddings e
LEFT JOIN comp c ON c.vec_id = e.vec_id
"""


@register("q72_dup_survivors", oracle=_Q72_ORACLE)
def q72_dup_survivors(spark, sf_dir):
    from pyspark.sql.functions import broadcast

    labels = _dup_components(spark, sf_dir).select(
        F.col("id").alias("c_vec_id"), F.col("lbl").alias("component")
    )
    emb = load(spark, sf_dir, "embeddings")
    survivor = F.coalesce("component", "vec_id")
    return emb.join(
        broadcast(labels), emb["vec_id"] == labels["c_vec_id"], "left"
    ).select(
        "vec_id",
        survivor.alias("survivor_id"),
        (F.col("component").isNull() | (F.col("component") == F.col("vec_id"))).alias(
            "is_survivor"
        ),
    )


_Q152_FANOUT = 3  # q119's graph: 3 md5 out-edges per doc


def _q152_oracle() -> str:
    edges_sel = " UNION ALL ".join(
        f"SELECT doc_id AS src, {_cite_bucket_sql(j)} AS dst"
        f" FROM documents, n"
        for j in range(_Q152_FANOUT)
    )
    return f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
edges0 AS ({edges_sel}),
edges AS (SELECT src, dst FROM edges0 WHERE src <> dst),
lab AS (SELECT doc_id, logit_u FROM ({_Q135_CORE_SQL}))
SELECT e.dst AS node,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(SUM(l.logit_u) AS BIGINT) AS sum_src_logit_u,
       CAST(ROUND(SUM(l.logit_u) * 1.0 / COUNT(*)) AS BIGINT)
         AS mean_src_logit_u,
       (SUM(l.logit_u) < 0) AS low_quality_neighborhood
FROM edges e JOIN lab l ON l.doc_id = e.src
GROUP BY e.dst
"""


@register("q152_neighbor_quality", oracle=_q152_oracle())
def q152_neighbor_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()
    cite = [
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("doc_id").cast("string"), F.lit(f"#{j}"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n_docs
        ).alias("dst")
        for j in range(_Q152_FANOUT)
    ]
    edges = docs.select(
        F.col("doc_id").alias("src"), F.explode(F.array(*cite)).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    lab = _q135_features(spark, sf_dir).select(
        F.col("doc_id").alias("src"), "logit_u"
    )
    return (
        edges.join(lab, "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.count("*").cast("long").alias("n_in"),
            F.sum("logit_u").cast("long").alias("sum_src_logit_u"),
        )
        .select(
            "node",
            "n_in",
            "sum_src_logit_u",
            F.round(F.col("sum_src_logit_u") * F.lit(1.0) / F.col("n_in"))
            .cast("long")
            .alias("mean_src_logit_u"),
            (F.col("sum_src_logit_u") < 0).alias("low_quality_neighborhood"),
        )
    )
