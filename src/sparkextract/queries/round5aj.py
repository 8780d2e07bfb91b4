"""Round-5 continuation wave 34 (final): density clustering and the
survey-sampling design effect.

q214 — GRID DBSCAN-LITE (the cell-based density clustering used at
scale, cf. Gan & Tao 2015 grid DBSCAN): the density-based member the
clustering family lacked (q52/q57 k-means assume convex cells; q131
scores them; density clustering finds arbitrary-shape clusters and
NOISE). Embeddings are quantized onto a 16x16 grid over their first
two dimensions (grid bounds from a 1-row broadcast min/max); a cell
is DENSE iff it holds >= minPts points; clusters are connected
components of dense cells under 4-neighborhood adjacency, labeled
min-cell-id via the repo's convergence-bounded label propagation
(q71's loop — here over a <=256-node cell graph, so each iteration
shuffles at most 256 rows); sparse cells are noise. Output is the
cell grain: every cell's population, density flag, and cluster label
(-1 = noise). The DuckDB oracle re-derives the components with a
recursive CTE (the q71 pattern).

Scale shape: the corpus-sized work is ONE mergeable groupBy(cell);
everything after (adjacency, propagation, labeling) runs on the
bounded cell grain. This is exactly why grid DBSCAN is the
distributed form — point-level DBSCAN's eps-neighbor join never
touches the data here.

q215 — CLUSTER-SAMPLING DESIGN EFFECT (Kish 1965): DEFF = 1 +
(m_bar - 1) * rho, with rho the intraclass correlation of n_chars
within sources, from the exact one-way ANOVA decomposition (all
sums-of-squares are exact BIGINT-derived decimals; rho and DEFF are
ROUND(,6)-frozen doubles). The number answers the sampling question
q191/q207 leave open: how much worse is sampling whole SOURCES
(crawl hosts) than sampling documents uniformly? DEFF ~ 1 means
sources are internally diverse; DEFF >> 1 means host-level sampling
wastes budget — the quantitative form of "don't sample by domain".

Scale shape: one mergeable groupBy(source) carrying (n, sum, sum2);
the ANOVA reduction is a 1-row aggregation over |sources| rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkextract.queries.base import load, register

# ---------------------------------------------------------------------
# q214
_Q214_GRID = 16
_Q214_MINPTS = 8


_Q214_CELLS = f"""
  SELECT CAST(LEAST(FLOOR(({_Q214_GRID} * (e1 - x1min))
                          / (x1max - x1min + 1e-9)),
                    {_Q214_GRID - 1}) AS BIGINT) AS cx,
         CAST(LEAST(FLOOR(({_Q214_GRID} * (e2 - x2min))
                          / (x2max - x2min + 1e-9)),
                    {_Q214_GRID - 1}) AS BIGINT) AS cy
  FROM pts CROSS JOIN bounds
"""

_Q214_ORACLE = f"""
WITH RECURSIVE pts AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS e1,
         CAST(embedding[2] AS DOUBLE) AS e2
  FROM embeddings
),
bounds AS (
  SELECT MIN(e1) AS x1min, MAX(e1) AS x1max,
         MIN(e2) AS x2min, MAX(e2) AS x2max
  FROM pts
),
cells AS (
  SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_points
  FROM ({_Q214_CELLS})
  GROUP BY cx, cy
),
dense AS (
  SELECT cx, cy, cx * {_Q214_GRID} + cy AS cell_id
  FROM cells WHERE n_points >= {_Q214_MINPTS}
),
edges AS (
  SELECT a.cell_id AS src, b.cell_id AS dst
  FROM dense a JOIN dense b
    ON (ABS(a.cx - b.cx) + ABS(a.cy - b.cy)) = 1
),
reach AS (
  SELECT cell_id AS id, cell_id AS lbl FROM dense
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (
  SELECT id AS cell_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
)
SELECT c.cx, c.cy, c.n_points,
       c.n_points >= {_Q214_MINPTS} AS dense,
       CAST(COALESCE(l.cluster_id, -1) AS BIGINT) AS cluster_id
FROM cells c
LEFT JOIN labels l ON l.cell_id = c.cx * {_Q214_GRID} + c.cy
"""


@register("q214_grid_dbscan", oracle=_Q214_ORACLE)
def q214_grid_dbscan(spark, sf_dir):
    from sparkextract.queries.round3 import label_propagation

    pts = load(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 1).cast("double").alias("e1"),
        F.element_at("embedding", 2).cast("double").alias("e2"),
    )
    bounds = pts.agg(
        F.min("e1").alias("x1min"),
        F.max("e1").alias("x1max"),
        F.min("e2").alias("x2min"),
        F.max("e2").alias("x2max"),
    )
    cells = (
        pts.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.expr(
                    f"cast(floor(({_Q214_GRID} * (e1 - x1min))"
                    f" / (x1max - x1min + 1e-9)) as bigint)"
                ),
                F.lit(_Q214_GRID - 1),
            ).alias("cx"),
            F.least(
                F.expr(
                    f"cast(floor(({_Q214_GRID} * (e2 - x2min))"
                    f" / (x2max - x2min + 1e-9)) as bigint)"
                ),
                F.lit(_Q214_GRID - 1),
            ).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("n_points"))
    )
    dense = cells.filter(F.col("n_points") >= _Q214_MINPTS).select(
        "cx", "cy", (F.col("cx") * _Q214_GRID + F.col("cy")).alias("cell_id")
    )
    a = dense.alias("a")
    b = dense.alias("b")
    edges = a.join(
        b,
        (
            F.abs(F.col("a.cx") - F.col("b.cx"))
            + F.abs(F.col("a.cy") - F.col("b.cy"))
        )
        == 1,
    ).select(
        F.col("a.cell_id").alias("left_id"), F.col("b.cell_id").alias("right_id")
    )
    # label propagation needs every dense cell as a node even if it has
    # no neighbor: add self-loops so isolated dense cells keep their id
    edges = edges.unionByName(
        dense.select(
            F.col("cell_id").alias("left_id"), F.col("cell_id").alias("right_id")
        )
    )
    labels = label_propagation(edges).select(
        F.col("id").alias("cell_id"), F.col("lbl").alias("cluster_id")
    )
    return (
        cells.withColumn("cell_id", F.col("cx") * _Q214_GRID + F.col("cy"))
        .join(F.broadcast(labels), "cell_id", "left")
        .select(
            "cx",
            "cy",
            "n_points",
            (F.col("n_points") >= _Q214_MINPTS).alias("dense"),
            F.coalesce("cluster_id", F.lit(-1)).cast("long").alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------
# q215
_Q215_ORACLE = """
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS s1,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY source
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(s1) AS BIGINT) AS s1_tot,
         CAST(SUM(s2) AS BIGINT) AS s2_tot,
         CAST(SUM(CAST(ROUND(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)))
              AS DOUBLE) AS sum_sq_over_n
  FROM per_src
),
anova AS (
  SELECT k, n_tot,
         CAST(s2_tot AS DOUBLE)
           - CAST(s1_tot AS DOUBLE) * CAST(s1_tot AS DOUBLE)
             / CAST(n_tot AS DOUBLE) AS sst,
         sum_sq_over_n
           - CAST(s1_tot AS DOUBLE) * CAST(s1_tot AS DOUBLE)
             / CAST(n_tot AS DOUBLE) AS ssb,
         CAST(n_tot AS DOUBLE) / CAST(k AS DOUBLE) AS m_bar
  FROM g
),
scored AS (
  -- the standard one-way ANOVA ICC(1) estimator with the equal-size
  -- approximation m0 ~ m_bar: rho = (MSB - MSW)/(MSB + (m_bar - 1)*MSW)
  SELECT k, n_tot, m_bar,
         ROUND(sst, 6) AS sst, ROUND(ssb, 6) AS ssb,
         ROUND(((ssb / CAST(k - 1 AS DOUBLE))
                - ((sst - ssb) / CAST(n_tot - k AS DOUBLE)))
               / ((ssb / CAST(k - 1 AS DOUBLE))
                  + (m_bar - 1.0)
                    * ((sst - ssb) / CAST(n_tot - k AS DOUBLE))), 6) AS rho
  FROM anova
)
SELECT k AS n_sources, n_tot AS n_docs, ROUND(m_bar, 6) AS m_bar,
       sst, ssb, rho,
       ROUND(1.0 + (m_bar - 1.0) * rho, 6) AS deff
FROM scored
"""


@register("q215_design_effect", oracle=_Q215_ORACLE)
def q215_design_effect(spark, sf_dir):
    per_src = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("s1"),
            F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
        )
    )
    g = per_src.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s1").cast("long").alias("s1_tot"),
        F.sum("s2").cast("long").alias("s2_tot"),
        # each s1^2/n term is frozen to DECIMAL(18,6) before the sum (the
        # q193 chi2_total pattern): a double sum depends on row order
        F.sum(
            F.round(
                F.col("s1").cast("double") * F.col("s1").cast("double")
                / F.col("n").cast("double"),
                6,
            ).cast("decimal(18,6)")
        ).cast("double").alias("sum_sq_over_n"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n_tot").cast("double")
    grand = F.col("s1_tot").cast("double") * F.col("s1_tot").cast("double") / nd
    sst = F.col("s2_tot").cast("double") - grand
    ssb = F.col("sum_sq_over_n") - grand
    msw = (sst - ssb) / (nd - kd)
    msb = ssb / (kd - 1)
    m_bar = nd / kd
    rho = F.round((msb - msw) / (msb + (m_bar - 1.0) * msw), 6)
    return g.select(
        F.col("k").alias("n_sources"),
        F.col("n_tot").alias("n_docs"),
        F.round(m_bar, 6).alias("m_bar"),
        F.round(sst, 6).alias("sst"),
        F.round(ssb, 6).alias("ssb"),
        rho.alias("rho"),
        F.round(1.0 + (m_bar - 1.0) * rho, 6).alias("deff"),
    )
