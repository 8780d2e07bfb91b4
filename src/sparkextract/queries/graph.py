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

q165 — TWO-PHASE (LARGE-STAR / SMALL-STAR) CONNECTED COMPONENTS
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014) over the q68 simhash near-dup pair set. q71's min-label
propagation needs O(graph diameter) rounds — fine for near-dup
blobs (tiny diameters), pathological for chain-shaped duplicate
graphs (doc A ~ B ~ C ~ ... across a crawl). Two-phase converges in
O(log^2 n) rounds REGARDLESS of diameter, which is the algorithm
you actually run on a 10^12-doc web graph. Both algorithms reach
the identical min-label fixed point, so the recursive-CTE oracle
verifies this implementation exactly, and a pytest proves the
round-count advantage on a synthetic 200-node chain.

Per round, each star operation is: one symmetrize (union), one
map-side-combinable ``groupBy(node).agg(min)`` (label-sized rows),
one join of edges against that min table, one distinct. Lineage is
cut per round with ``localCheckpoint`` (the q71 discipline), the
round count is bounded with a loud failure, and the edge set only
ever carries (node, smaller-label) pairs — monotone shrinking
toward the star fixed point. Reference parity: the reference
deduplicates via pairwise similarity only
(``reference src/table_comparator.py``); transitive closure
is the scale extension its users need on a real corpus.

q187 — GRAPH MODULARITY CLUSTER-QUALITY AUDIT (Newman & Girvan 2004).
Validates a partition AGAINST a similarity graph it was not derived
from: the q131 seed-centroid k-means cells (the partition) are
scored against the q53-style banded-LSH cosine graph over the same
quantized embeddings (the structure). Per cell c: modularity
contribution e_c/m - (d_c/(2m))^2 where e_c = edges inside c, d_c =
degree sum of c's nodes, m = total edges; sum over cells = Newman Q in
[-1/2, 1). Unlike q71's components (where every edge is intra-cluster
by construction and Q degenerates), the centroid partition is
independent of the edge set, so Q genuinely measures whether nearest-
centroid cells capture the LSH similarity structure. e_c, d_c, m are
exact BIGINTs; the contribution is two IEEE divisions + one multiply +
one subtract on exact integers, ROUND(,6)-frozen (the repo's
float-compare discipline).
Reference intent: embedding-space diagnostics over the pgvector store,
reference src/rag/vector_database.py:156-189, upgraded from
per-point distances to partition-level structure validation.

Scale shape: candidate pairs come from the q53 banded-LSH equi-join
(bucket-keyed shuffle-hash, never all-pairs); the assignment is an
8-row broadcast cross join + vec_id-keyed argmin window; pairs and
assignment are localCheckpoint-memoized because three sibling subtrees
(degrees, intra-cell edges, edge total) consume each — AQE exchange
reuse does not fire across sibling subtrees (q68 lesson, base.py).
Per-cell rollups are k-group mergeable aggs.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from sparkextract.queries.ann import _DIM, _dot, _norm
from sparkextract.queries.base import checkpoint_memo, load, register
from sparkextract.queries.dedup import (
    _BANDS,
    _Q53_ORACLE,
    _Q68_CORPUS,
    _band_sig_col,
    _band_sig_sql,
    q53_banded_lsh_near_dup,
    q68_simhash_near_dup,
    simhash_pairs_sql,
)
from sparkextract.queries.quality import _Q135_CORE_SQL, _q135_features


def label_propagation(pair_df):
    """(left_id, right_id) dup pairs -> (id, lbl) connected-component
    labels via iterated min-label propagation. Each iteration is ONE
    shuffle of label-sized rows; per-iteration localCheckpoint keeps
    lineage O(1). Used by the q94 end-to-end composition."""
    edges = pair_df.select(F.col("left_id").alias("a"), F.col("right_id").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
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
    labels = joined.drop("old")
    edges.unpersist()
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


_Q165_MAX_ROUNDS = 40


def two_phase_cc(pair_df, max_rounds: int = _Q165_MAX_ROUNDS):
    """(left_id, right_id) dup pairs -> (id, lbl) component labels via
    alternating large-star / small-star rounds. Converges in O(log^2 n)
    rounds independent of graph diameter; every intermediate edge is
    (node, strictly-smaller label). Raises loudly if the bound is hit
    (the bound covers n ~ 2^40 at the proven round complexity)."""
    # self-pairs carry no connectivity and would otherwise vanish from
    # the shrinking edge set mid-loop; production pair sources are
    # strict (left < right), so dropping them up front is a no-op there
    edges = (
        pair_df.select(
            F.greatest("left_id", "right_id").alias("a"),
            F.least("left_id", "right_id").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        # large-star: every node u links its LARGER neighbors to
        # min(N(u) + {u}); processing both orientations covers each edge
        # from both endpoints.
        und = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = und.groupBy("a").agg(F.min("b").alias("mn")).select(
            "a", F.least("a", "mn").alias("m")
        )
        ls = (
            und.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star: edges are now (larger, smaller); every node links
        # its smaller neighbors AND itself to min(N(u) + {u}) = min(N(u)).
        lo_min = ls.groupBy("a").agg(F.min("b").alias("m"))
        nxt = (
            ls.join(lo_min, "a")
            .select(F.col("b").alias("v"), "m")
            .where(F.col("v") != F.col("m"))
            .unionByName(lo_min.select(F.col("a").alias("v"), "m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
            .localCheckpoint()
        )
        converged = (
            nxt.count() == edges.count() and nxt.exceptAll(edges).count() == 0
        )
        edges = nxt
        if converged:
            break
    else:
        raise RuntimeError(
            f"two-phase CC did not converge in {max_rounds} rounds"
        )
    # fixed point is a forest of stars (member -> component min): labels
    # are the edges themselves plus each center labeling itself.
    return (
        edges.select(F.col("a").alias("id"), F.col("b").alias("lbl"))
        .unionByName(edges.select(F.col("b").alias("id"), F.col("b").alias("lbl")))
        .groupBy("id")
        .agg(F.min("lbl").alias("lbl"))
    )


_Q165_ORACLE = f"""
WITH RECURSIVE {simhash_pairs_sql(_Q68_CORPUS)},
edges AS (
  SELECT left_id AS a, right_id AS b FROM dup_pairs
  UNION ALL
  SELECT right_id, left_id FROM dup_pairs
),
cc_nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS lbl FROM cc_nodes
  UNION
  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
)
SELECT doc_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM (
  SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id
)
"""


@register("q165_two_phase_cc", oracle=_Q165_ORACLE)
def q165_two_phase_cc(spark, sf_dir):
    labels = checkpoint_memo(
        spark,
        sf_dir,
        "q165_two_phase_cc",
        lambda: two_phase_cc(q68_simhash_near_dup(spark, sf_dir)),
    )
    w = F.count("*").over(Window.partitionBy("lbl"))
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("component"),
        w.alias("cluster_size"),
    )


# ---------------------------------------------------------------------
# q187
_Q187_K = 8  # seed centroids: quantized vectors of vec_id 1..K (q131)


_Q187_MIN_COS = 0.2  # edge keep threshold over LSH candidate pairs


_Q187_COS = (
    f"list_sum(list_transform(range(1, {_DIM + 1}), i -> cx.e[i] * cy.e[i]))"
    f" / ( sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> cx.e[i] * cx.e[i])))"
    f"   * sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> cy.e[i] * cy.e[i]))) )"
)


_Q187_ORACLE = f"""
WITH eq AS (
  SELECT vec_id,
         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 3)) AS e
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, e AS c FROM eq
          WHERE vec_id BETWEEN 1 AND {_Q187_K}),
assign AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT d.vec_id, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id ORDER BY
             list_sum(list_transform(range(1, {_DIM + 1}),
               i -> (d.e[i] - c.c[i]) * (d.e[i] - c.c[i]))) ASC,
             c.cent_id ASC) AS rn
    FROM eq d, cents c
    WHERE d.vec_id > {_Q187_K}
  ) WHERE rn = 1
),
sigs AS (
  SELECT vec_id, e,
         [{", ".join(f"CAST({_band_sig_sql(b)} AS INTEGER)" for b in range(_BANDS))}] AS s
  FROM eq WHERE vec_id > {_Q187_K}
),
buckets AS (
  SELECT vec_id, band, s[band + 1] AS sig
  FROM sigs, (SELECT UNNEST(range({_BANDS})) AS band)
),
cand AS (
  SELECT DISTINCT x.vec_id AS l, y.vec_id AS r
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id
),
pairs AS (
  SELECT p.l, p.r
  FROM cand p
  JOIN (SELECT vec_id, e FROM eq) cx ON p.l = cx.vec_id
  JOIN (SELECT vec_id, e FROM eq) cy ON p.r = cy.vec_id
  WHERE ROUND({_Q187_COS}, 6) >= {_Q187_MIN_COS}
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT l AS node FROM pairs UNION ALL SELECT r FROM pairs
  ) GROUP BY node
),
cell_nodes AS (
  SELECT a.cell,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(COALESCE(d.deg, 0)) AS BIGINT) AS deg_sum
  FROM assign a LEFT JOIN deg d ON d.node = a.vec_id
  GROUP BY a.cell
),
cell_edges AS (
  SELECT al.cell, CAST(COUNT(*) AS BIGINT) AS e_within
  FROM pairs p
  JOIN assign al ON al.vec_id = p.l
  JOIN assign ar ON ar.vec_id = p.r
  WHERE al.cell = ar.cell
  GROUP BY al.cell
)
SELECT CAST(cn.cell AS BIGINT) AS cell, cn.n_nodes, cn.deg_sum,
       CAST(COALESCE(ce.e_within, 0) AS BIGINT) AS e_within,
       m.m AS m_edges,
       ROUND(CASE WHEN m.m = 0 THEN 0.0
             ELSE CAST(COALESCE(ce.e_within, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                  - (CAST(cn.deg_sum AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
                    * (CAST(cn.deg_sum AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
             END, 6) AS q_contrib
FROM cell_nodes cn
LEFT JOIN cell_edges ce ON ce.cell = cn.cell
CROSS JOIN m
"""


def _q187_quantized(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double"), 3)).alias("e"),
    )


def _q187_assign(spark, sf_dir):
    """(vec_id, cell): nearest of the K seed centroids, q131 recipe."""
    eq = _q187_quantized(spark, sf_dir)
    cents = eq.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= _Q187_K)
    ).select(F.col("vec_id").alias("cent_id"), F.col("e").alias("c"))
    d2 = F.aggregate(
        F.zip_with(F.col("e"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cent_id"))
    return (
        eq.filter(F.col("vec_id") > _Q187_K)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cent_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"))
    )


def _q187_pairs(spark, sf_dir):
    """Banded-LSH candidate pairs verified at cosine >= threshold."""
    eq = _q187_quantized(spark, sf_dir).filter(F.col("vec_id") > _Q187_K)
    buckets = eq.withColumn(
        "bs", F.array(*[_band_sig_col(b) for b in range(_BANDS)])
    ).select("vec_id", F.posexplode("bs").alias("band", "sig"))
    x = buckets.hint("shuffle_hash").alias("x")
    y = buckets.hint("shuffle_hash").alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("l"), F.col("y.vec_id").alias("r"))
        .distinct()
    )
    cx = eq.select(F.col("vec_id").alias("l"), F.col("e").alias("ex"))
    cy = eq.select(F.col("vec_id").alias("r"), F.col("e").alias("ey"))
    cosine = F.round(
        _dot(F.col("ex"), F.col("ey")) / (_norm(F.col("ex")) * _norm(F.col("ey"))), 6
    )
    return (
        cand.join(cx, "l")
        .join(cy, "r")
        .filter(cosine >= _Q187_MIN_COS)
        .select("l", "r")
    )


@register("q187_graph_modularity", oracle=_Q187_ORACLE)
def q187_graph_modularity(spark, sf_dir):
    assign = checkpoint_memo(
        spark, sf_dir, "q187_assign", lambda: _q187_assign(spark, sf_dir)
    )
    pairs = checkpoint_memo(
        spark, sf_dir, "q187_pairs", lambda: _q187_pairs(spark, sf_dir)
    )
    m = pairs.agg(F.count("*").cast("long").alias("m_edges"))
    deg = (
        pairs.select(F.col("l").alias("node"))
        .unionAll(pairs.select(F.col("r").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    cell_nodes = (
        assign.join(deg, assign["vec_id"] == deg["node"], "left")
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.coalesce("deg", F.lit(0))).cast("long").alias("deg_sum"),
        )
    )
    al = assign.select(F.col("vec_id").alias("l"), F.col("cell").alias("cl"))
    ar = assign.select(F.col("vec_id").alias("r"), F.col("cell").alias("cr"))
    cell_edges = (
        pairs.join(al, "l")
        .join(ar, "r")
        .filter(F.col("cl") == F.col("cr"))
        .groupBy(F.col("cl").alias("cell"))
        .agg(F.count("*").cast("long").alias("e_within"))
    )
    md = F.col("m_edges").cast("double")
    ew = F.coalesce("e_within", F.lit(0)).cast("long")
    ds = F.col("deg_sum").cast("double")
    contrib = F.when(F.col("m_edges") == 0, F.lit(0.0)).otherwise(
        ew.cast("double") / md - (ds / (2 * md)) * (ds / (2 * md))
    )
    return (
        cell_nodes.join(cell_edges, "cell", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_nodes",
            "deg_sum",
            ew.alias("e_within"),
            "m_edges",
            F.round(contrib, 6).alias("q_contrib"),
        )
    )
