"""Graph queries: link-graph PageRank and the bounded label propagation
that turns near-dup pairs into connected components.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkextract.queries.base import load, register


def label_propagation(pair_df):
    """(left_id, right_id) dup pairs -> (id, lbl) connected-component
    labels via iterated min-label propagation. Each iteration is ONE
    shuffle of label-sized rows; per-iteration localCheckpoint keeps
    lineage O(1). Rounds grow with the graph's diameter; past 30 rounds
    it raises. Used by the q94 end-to-end composition."""
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

