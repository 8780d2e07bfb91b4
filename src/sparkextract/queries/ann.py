"""Embedding operators (F11/T1/J3/A8): brute-force cosine top-k, LSH
buckets, embedding quality, the IVF probe, filtered retrieval, recall
evaluation, product quantization (ADC) and a PCA power-iteration step.

Double-precision folds over the embedding arrays are evaluated in
element order by both engines; results are rounded to 6 decimals before
compare (error margin ~1e-13 << 5e-7 rounding quantum).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from sparkextract.queries.base import ORACLE_SQL, SPARK_QUERIES, load, register


_DIM = 64


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


# --------------------------------------------------------------------------
# T1/J3: brute-force cosine top-k against the vec_id=0 query vector.
# Scale path: broadcast the query vector (a 1-row dim-64 array), score every
# row map-side, TakeOrderedAndProject for the global top-k — no shuffle of
# the embedding table.
@register(
    "q27_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(
             list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
             / ( sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) ),
             6) AS cosine
    FROM embeddings e, q
    WHERE vec_id != 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def q27_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * _norm(F.col("qv"))),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10)


# --------------------------------------------------------------------------
# LSH-bucketed ANN candidate generation: sign of the projection onto 4
# deterministic pseudo-random hyperplanes → 4-bit bucket; report bucket
# occupancy. The scale path for similarity search: equi-join on bucket
# instead of a cross join. Hyperplane components are ±1 derived from md5
# parity (NOT each engine's hash() builtin, which differs between Spark
# and DuckDB), so both engines compute identical signs.
def _plane_sign_sql(i_expr: str, plane: int) -> str:
    # parity of first hex digit of md5("<plane>:<i>") — engine-independent
    return (
        f"(CASE WHEN STRPOS('02468ace', SUBSTRING(md5('{plane}:' || CAST({i_expr} AS VARCHAR)), 1, 1)) > 0 "
        f"THEN 1.0 ELSE -1.0 END)"
    )


_Q28_ORACLE = f"""
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
FROM (
  SELECT vec_id, CAST(
    {" + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * {_plane_sign_sql('i', p)})) >= 0 THEN {1 << (3 - p)} ELSE 0 END)"
        for p in range(4)
    )}
    AS INTEGER) AS bucket
  FROM embeddings
) GROUP BY bucket
"""


def _plane_signs_py(plane: int) -> list[float]:
    # driver-side evaluation of the same md5-parity rule the oracle
    # computes inline: hashlib md5 == engine md5, byte for byte, so the
    # signs are a CONSTANT matrix — embedding it as one nested-array
    # literal replaces 4x64 per-ROW md5 calls with zero (the hyperplane
    # is a function of (plane, i) only; recomputing it per row is pure
    # waste at any scale, and at 100 TB it is 256 hashes per vector)
    import hashlib

    return [
        1.0 if hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0] in "02468ace" else -1.0
        for i in range(1, _DIM + 1)
    ]


def q28_lsh_buckets(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")

    def plane_proj(p: int):
        signs = F.lit(_plane_signs_py(p))
        return F.aggregate(
            F.zip_with(F.col("embedding"), signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.lit(0)
    for p in range(4):
        proj = plane_proj(p)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << (3 - p))).otherwise(F.lit(0))
    return (
        emb.select("vec_id", bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


SPARK_QUERIES["q28_lsh_buckets"] = q28_lsh_buckets


ORACLE_SQL["q28_lsh_buckets"] = _Q28_ORACLE


# --------------------------------------------------------------------------
# A8: embedding quality stats — L2 norm bounds + zero-component counts.
@register(
    "q31_embedding_quality",
    oracle=f"""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(ROUND(sqrt(list_sum(list_transform(range(1, {_DIM + 1}),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_l2,
           CAST(SUM(LENGTH(list_filter(embedding, x -> x = 0))) AS BIGINT) AS n_zero_components
    FROM embeddings GROUP BY label
    """,
)
def q31_embedding_quality(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    l2 = F.round(_norm(F.col("embedding")), 6).cast("decimal(18,6)")
    zeros = F.size(F.filter("embedding", lambda x: x == 0))
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        (F.sum(l2).cast("double") / F.count("*")).alias("avg_l2"),
        F.sum(zeros).alias("n_zero_components"),
    )


def _cos_sql(vec: str, other: str) -> str:
    """DuckDB cosine between two FLOAT[] columns, element order fixed."""
    d = f"list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST({vec}[i] AS DOUBLE) * CAST({other}[i] AS DOUBLE)))"
    n1 = f"sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST({vec}[i] AS DOUBLE) * CAST({vec}[i] AS DOUBLE))))"
    n2 = f"sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> CAST({other}[i] AS DOUBLE) * CAST({other}[i] AS DOUBLE))))"
    return f"({d} / ({n1} * {n2}))"


# --------------------------------------------------------------------------
# q46: IVF ANN. Scale path: the 8 centroids broadcast to every executor
# (two tiny broadcast nested-loop joins, no shuffle of the vector table);
# assignment + probe filtering happen map-side; the final top-k is a
# TakeOrderedAndProject. At 100 TB the assignment output (vec_id, cell) is
# the only thing materialized; probed cells cut the scored set ~4x here
# (nprobe/2 of 8 cells) and |cells|/nprobe-fold in general.
_Q46_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
      WHERE vec_id BETWEEN 1 AND 8
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             {_cos_sql('e.embedding', 'c.cv')} AS ccos
      FROM embeddings e, cents c
      WHERE e.vec_id > 8
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id ORDER BY ccos DESC, c.cent_id ASC) = 1
    ),
    qcells AS (
      SELECT c.cent_id FROM cents c, q
      ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cent_id ASC
      LIMIT 2
    )
    SELECT a.vec_id, a.cent_id AS cell,
           ROUND({_cos_sql('a.embedding', 'q.qv')}, 6) AS cosine
    FROM assign a JOIN qcells USING (cent_id), q
    ORDER BY cosine DESC, a.vec_id ASC
    LIMIT 10
"""


@register("q46_ivf_topk", oracle=_Q46_ORACLE)
def q46_ivf_topk(spark, sf_dir):
    from pyspark.sql.window import Window as W

    emb = load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))

    assign = (
        emb.filter(F.col("vec_id") > 8)
        .crossJoin(F.broadcast(cents))
        .withColumn("ccos", _dot(F.col("embedding"), F.col("cv")) / (_norm(F.col("embedding")) * _norm(F.col("cv"))))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("cent_id").alias("cell"))
    )
    qcells = (
        cents.crossJoin(F.broadcast(q))
        .select("cent_id", (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias("qcos"))
        .orderBy(F.desc("qcos"), F.asc("cent_id"))
        .limit(2)
        .select("cent_id")
    )
    return (
        assign.join(F.broadcast(qcells), assign["cell"] == qcells["cent_id"])
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "cell",
            F.round(
                _dot(F.col("embedding"), F.col("qv")) / (_norm(F.col("embedding")) * _norm(F.col("qv"))),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q47: the retrieval filter stack (P4 + P5 + P8 + P9 + P10) in one pass —
# all pushed into the parquet scan as one conjunctive predicate (Catalyst
# collapses the chained filters; only doc_id/lang/n_chars columns are read
# plus text for the P10/overlap terms).
@register(
    "q47_retrieval_filters",
    oracle="""
    SELECT doc_id, lang, n_chars,
           ROUND(LEAST(n_chars / 1000.0, 1.0), 6) AS conf
    FROM documents
    WHERE n_chars >= 100
      AND LEAST(n_chars / 1000.0, 1.0) >= 0.15
      AND lang IN ('en', 'fr')
      AND length(trim(text)) > 3
    """,
)
def q47_retrieval_filters(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    conf = F.least(F.col("n_chars") / 1000.0, F.lit(1.0))
    return (
        docs.filter(F.col("n_chars") >= 100)  # P4
        .filter(conf >= 0.15)  # P5/P8 threshold form
        .filter(F.col("lang").isin("en", "fr"))  # P9
        .filter(F.length(F.trim(F.col("text"))) > 3)  # P10
        .select("doc_id", "lang", "n_chars", F.round(conf, 6).alias("conf"))
    )


_Q50_ORACLE = f"""
    WITH ivf AS ({_Q46_ORACLE}),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    brute AS (
      SELECT e.vec_id
      FROM embeddings e, q
      WHERE e.vec_id > 8
      ORDER BY {_cos_sql('e.embedding', 'q.qv')} DESC, e.vec_id ASC
      LIMIT 10
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap,
           ROUND(COUNT(*) / 10.0, 6) AS recall_at_10
    FROM ivf JOIN brute USING (vec_id)
"""


@register("q50_ann_recall", oracle=_Q50_ORACLE)
def q50_ann_recall(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    brute = (
        emb.filter(F.col("vec_id") > 8)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (_dot(F.col("embedding"), F.col("qv")) / (_norm(F.col("embedding")) * _norm(F.col("qv")))).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    ivf = q46_ivf_topk(spark, sf_dir).select("vec_id")
    overlap = ivf.join(brute, "vec_id")
    return overlap.agg(
        F.count("*").alias("n_overlap"),
        F.round(F.count("*") / 10.0, 6).alias("recall_at_10"),
    )


# --------------------------------------------------------------------------
# q111: PRODUCT QUANTIZATION + ADC TOP-K (PQ, Jegou et al. 2011, "Product
# Quantization for Nearest Neighbor Search") — the compression rung the
# ANN ladder (q27 brute -> q28/q53 LSH -> q46 IVF) was
# missing: split each 64-d embedding into M=4 contiguous 16-d subspaces,
# quantize every subvector to its nearest of K=8 sub-centroids (the
# deterministic codebook = subvectors of vec_id 1..8, the same seeding
# trick as q46/q110), so a vector compresses to 4 code bytes; then
# answer a query via ASYMMETRIC DISTANCE COMPUTATION — a 4x8 lookup
# table of query-subvector-to-centroid distances, approx distance =
# sum of 4 table entries — and report the ADC top-20 with each hit
# flagged against the exact-L2 top-20 (the recall surface).
#
# Numeric discipline: every subspace distance is scaled to BIGINT
# micro-units (ROUND(l2sq * 1e6)) the moment it is computed, so the
# ADC sum is exact integer arithmetic — no cross-engine double-sum
# ordering hazard at all (stricter than the ROUND-after-sum pattern).
#
# Scale shape: codes = one scan + one map-side-combinable argmin
# groupBy (the codebook is 32 broadcast rows); at real scale the codes
# table is the persisted index artifact (64 bytes -> 4 bytes per
# vector, the point of PQ) and queries never touch raw embeddings —
# ADC probe = broadcast 32-row lookup join + map-side-combinable sum +
# TakeOrderedAndProject. Nothing all-pairs, nothing windowed.
# Reference intent: pgvector ANN retrieval,
# reference src/rag/vector_database.py:156-189.
_Q111_M = 4


_Q111_SUB = 16


_Q111_K = 8


_Q111_TOPK = 20


def _l2sq_u(a, b):
    """Squared L2 distance between two double arrays in exact BIGINT
    micro-units (see the q111 numeric-discipline note)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * F.lit(1000000.0)
    ).cast("long")


def _l2sq_u_sql(a: str, b: str, dim: int) -> str:
    return (
        f"CAST(ROUND(list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) * 1000000) AS BIGINT)"
    )


def _q111_oracle() -> str:
    m, sub, k, topk = _Q111_M, _Q111_SUB, _Q111_K, _Q111_TOPK
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, m, list_transform(range(1, {sub + 1}), i -> e[m*{sub} + i]) AS sv
      FROM e CROSS JOIN (SELECT UNNEST(range(0, {m})) AS m)
    ),
    cb AS (
      SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id BETWEEN 1 AND {k}
    ),
    codes AS (
      SELECT s.vec_id, s.m, c.k AS code,
             {_l2sq_u_sql('s.sv', 'c.cv', sub)} AS d2u
      FROM sub s JOIN cb c ON s.m = c.m
      QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                 ORDER BY d2u ASC, c.k ASC) = 1
    ),
    qtab AS (
      SELECT c.m, c.k, {_l2sq_u_sql('q.sv', 'c.cv', sub)} AS qd2u
      FROM cb c JOIN sub q ON q.vec_id = 0 AND q.m = c.m
    ),
    adc AS (
      SELECT codes.vec_id, CAST(SUM(qt.qd2u) AS BIGINT) AS adc_d2u
      FROM codes JOIN qtab qt ON codes.m = qt.m AND codes.code = qt.k
      GROUP BY codes.vec_id
    ),
    exact AS (
      SELECT a.vec_id, {_l2sq_u_sql('a.e', 'q.e', sub * m)} AS exact_d2u
      FROM e a CROSS JOIN (SELECT e FROM e WHERE vec_id = 0) q
    ),
    top_adc AS (
      SELECT adc.vec_id, adc.adc_d2u, exact.exact_d2u
      FROM adc JOIN exact USING (vec_id)
      ORDER BY adc.adc_d2u, adc.vec_id LIMIT {topk}
    ),
    exact_top AS (
      SELECT vec_id, 1 AS hit FROM exact ORDER BY exact_d2u, vec_id LIMIT {topk}
    )
    SELECT t.vec_id, t.adc_d2u, t.exact_d2u,
           COALESCE(et.hit, 0) AS in_exact_topk
    FROM top_adc t LEFT JOIN exact_top et ON t.vec_id = et.vec_id
    ORDER BY t.adc_d2u, t.vec_id
    """


@register("q111_pq_adc_topk", oracle=_q111_oracle())
def q111_pq_adc_topk(spark, sf_dir):
    m, sub, k, topk = _Q111_M, _Q111_SUB, _Q111_K, _Q111_TOPK
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    subv = (
        emb.withColumn("m", F.explode(F.sequence(F.lit(0), F.lit(m - 1))))
        .withColumn("sv", F.expr(f"slice(e, m*{sub} + 1, {sub})"))
        .select("vec_id", "m", "sv")
    )
    cb = subv.filter(F.col("vec_id").between(1, k)).select(
        "m", F.col("vec_id").alias("k"), F.col("sv").alias("cv")
    )
    qsub = subv.filter(F.col("vec_id") == 0).select(
        F.col("m").alias("qm"), F.col("sv").alias("qv")
    )
    # per-(vector, subspace) argmin over the 32-row broadcast codebook —
    # map-side-combinable min_by, never a window over the corpus
    codes = (
        subv.join(F.broadcast(cb), "m")
        .withColumn("d2u", _l2sq_u(F.col("sv"), F.col("cv")))
        .groupBy("vec_id", "m")
        .agg(F.min_by("k", F.struct(F.col("d2u"), F.col("k"))).alias("code"))
    )
    # the 4x8 ADC lookup table: query subvector vs every sub-centroid
    qtab = (
        cb.join(F.broadcast(qsub), F.col("m") == F.col("qm"))
        .select("m", "k", _l2sq_u(F.col("cv"), F.col("qv")).alias("qd2u"))
    )
    adc = (
        codes.join(
            F.broadcast(qtab),
            (codes["m"] == qtab["m"]) & (codes["code"] == qtab["k"]),
        )
        .groupBy("vec_id")
        .agg(F.sum("qd2u").alias("adc_d2u"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = emb.crossJoin(F.broadcast(qvec)).select(
        "vec_id", _l2sq_u(F.col("e"), F.col("qe")).alias("exact_d2u")
    )
    # cut to top-k FIRST (TakeOrderedAndProject over the corpus), then
    # annotate the 20 winners with exact distance via a broadcast join —
    # never a corpus-sized sort-merge join just to decorate the output
    top_ids = adc.orderBy("adc_d2u", "vec_id").limit(topk)
    top_adc = exact.join(F.broadcast(top_ids), "vec_id").select(
        "vec_id", "adc_d2u", "exact_d2u"
    )
    exact_top = (
        exact.orderBy("exact_d2u", "vec_id")
        .limit(topk)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    return (
        top_adc.join(F.broadcast(exact_top), "vec_id", "left")
        .select(
            "vec_id",
            "adc_d2u",
            "exact_d2u",
            F.coalesce(F.col("hit"), F.lit(0)).alias("in_exact_topk"),
        )
        .orderBy("adc_d2u", "vec_id")
    )


# --------------------------------------------------------------------------
# q126: ONE PCA POWER-ITERATION STEP (dominant singular direction of the
# uncentered embedding matrix) — the q122 "one training step as
# set-oriented dataflow" pattern applied to the spectral family: the
# whitening / dimensionality-reduction pass an embedding pipeline runs
# before indexing. Start vector v0 = (1/8, ..., 1/8) (1/8 is exact in
# both binary and decimal, so the row projection r = (sum_j x_j)/8 is
# EXACT decimal arithmetic); the step computes w = X^T (X v0) in fully
# exact decimals, rounds each component ONCE in the decimal domain
# (half-away-from-zero on exact decimals — identical in both engines,
# no float in the accumulation path), and normalizes by the lone double
# sqrt. Emits per dimension: the raw
# covariance-action component w, the normalized component v1, and the
# Rayleigh-style norm lambda_est (the power-method eigenvalue estimate).
#
# Scale shape: per-row projection is a vec_id-keyed groupBy of the
# exploded components (map-side combinable); the X^T pass shuffles only
# (dim, partial-sum) — 64 groups regardless of corpus size; the norm is
# a broadcast 1-row aggregate. One power step = 2 mergeable shuffles,
# the same cost envelope as one Lloyd's k-means step.
_Q126_DIM = 64


_Q126_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, i - 1 AS dim0,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE), 3) AS DECIMAL(10,4)) AS x
  FROM embeddings
  CROSS JOIN (SELECT UNNEST(range(1, {_Q126_DIM + 1})) AS i) ii
),
rs AS (
  SELECT vec_id,
         CAST(SUM(x) * CAST(0.125 AS DECIMAL(4,3)) AS DECIMAL(15,7)) AS r
  FROM ex GROUP BY vec_id
),
w AS (
  SELECT dim0, CAST(ROUND(SUM(x * r), 6) AS DECIMAL(18,6)) AS w6
  FROM ex JOIN rs USING (vec_id) GROUP BY dim0
),
nrm AS (
  SELECT ROUND(SQRT(CAST(SUM(w6 * w6) AS DOUBLE)), 6) AS lambda_est FROM w
)
SELECT CAST(dim0 AS BIGINT) AS dim0,
       CAST(w6 AS DOUBLE) AS w,
       ROUND(CAST(w6 AS DOUBLE) / lambda_est, 6) AS v1,
       lambda_est
FROM w CROSS JOIN nrm
ORDER BY dim0
"""


@register("q126_pca_power_step", oracle=_Q126_ORACLE)
def q126_pca_power_step(spark, sf_dir):
    from decimal import Decimal

    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode("embedding").alias("dim0", "xe")).select(
        "vec_id",
        "dim0",
        F.round(F.col("xe").cast("double"), 3).cast("decimal(10,4)").alias("x"),
    )
    rs = ex.groupBy("vec_id").agg(
        (F.sum("x") * F.lit(Decimal("0.125"))).cast("decimal(15,7)").alias("r")
    )
    w = (
        ex.join(rs, "vec_id")
        .groupBy("dim0")
        .agg(F.round(F.sum(F.col("x") * F.col("r")), 6).cast("decimal(18,6)").alias("w6"))
    )
    nrm = w.agg(
        F.round(
            F.sqrt(F.sum(F.col("w6") * F.col("w6")).cast("double")), 6
        ).alias("lambda_est")
    )
    return (
        w.crossJoin(F.broadcast(nrm))
        .select(
            F.col("dim0").cast("long").alias("dim0"),
            F.col("w6").cast("double").alias("w"),
            F.round(F.col("w6").cast("double") / F.col("lambda_est"), 6).alias("v1"),
            "lambda_est",
        )
        .orderBy("dim0")
    )


def _km_quantized(spark, sf_dir):
    """Embeddings with components quantized to 3 decimals (vec_id, e)."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double"), 3)).alias("e"),
    )


# --------------------------------------------------------------------------
# q102: INT8 EMBEDDING QUANTIZATION — the memory-scale path for
# similarity search (a 100 TB embedding store is 4x smaller at int8;
# FAISS SQ8 / pgvector halfvec ship exactly this): per-vector min/max
# scalar quantization to 8-bit codes, midpoint dequantization, and the
# top-10 neighbors ranked by QUANTIZED cosine with the exact cosine
# alongside — the ranking-degradation evidence a recall report needs.
# Reference analog: the pgvector embedding store + cosine retrieval
# (reference src/rag/vector_store.py) with the storage format
# dropped from float32 to int8.
# Determinism: codes are floor((x-min)/scale) over doubles — identical
# IEEE ops in both engines (never round(), whose tie rule differs);
# cosines fold in element order and are ROUND(...,6)-ed before the
# ORDER BY with a vec_id tie-break.
# Scale shape: quantization is map-only; the query vector broadcasts
# (1 row); top-k is TakeOrderedAndProject — the q27 no-shuffle shape.
_Q102_LEVELS = 255


_Q102_DEQ = f"""
  SELECT vec_id, label,
         CASE WHEN list_max(embedding) = list_min(embedding)
              THEN list_transform(embedding, x -> CAST(list_min(embedding) AS DOUBLE))
              ELSE list_transform(embedding, x ->
                CAST(list_min(embedding) AS DOUBLE)
                + (LEAST({_Q102_LEVELS}, GREATEST(0, floor(
                     (CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))
                     / ((CAST(list_max(embedding) AS DOUBLE)
                         - CAST(list_min(embedding) AS DOUBLE)) / {_Q102_LEVELS}))))
                   + 0.5)
                  * ((CAST(list_max(embedding) AS DOUBLE)
                      - CAST(list_min(embedding) AS DOUBLE)) / {_Q102_LEVELS}))
         END AS deq,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ex
  FROM embeddings
"""


def _q102_cos_sql(a: str, b: str) -> str:

    def dot(u, v):
        return (
            f"list_sum(list_transform(range(1, {_DIM + 1}),"
            f" i -> {u}[i] * {v}[i]))"
        )

    return f"ROUND({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)"


_Q102_ORACLE = f"""
WITH deq AS (
  {_Q102_DEQ}
),
q AS (SELECT deq AS qd, ex AS qe FROM deq WHERE vec_id = 0)
SELECT d.vec_id, d.label,
       {_q102_cos_sql("d.deq", "q.qd")} AS cos_quant,
       {_q102_cos_sql("d.ex", "q.qe")} AS cos_exact
FROM deq d, q
WHERE d.vec_id != 0
ORDER BY cos_quant DESC, d.vec_id ASC
LIMIT 10
"""


def _q102_deq_col():
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    scale = (hi - lo) / _Q102_LEVELS
    code = lambda x: F.least(  # noqa: E731
        F.lit(_Q102_LEVELS),
        F.greatest(F.lit(0), F.floor((x.cast("double") - lo) / scale)),
    )
    return F.when(hi == lo, F.transform("embedding", lambda x: lo)).otherwise(
        F.transform("embedding", lambda x: lo + (code(x) + 0.5) * scale)
    )


@register("q102_int8_quantization", oracle=_Q102_ORACLE)
def q102_int8_quantization(spark, sf_dir):

    emb = load(spark, sf_dir, "embeddings")
    deq = emb.select(
        "vec_id",
        "label",
        _q102_deq_col().alias("deq"),
        F.transform("embedding", lambda x: x.cast("double")).alias("ex"),
    )
    q = F.broadcast(
        deq.filter(F.col("vec_id") == 0).select(
            F.col("deq").alias("qd"), F.col("ex").alias("qe")
        )
    )

    def cos(a, b):
        return F.round(_dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b))), 6)

    return (
        deq.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            cos("deq", "qd").alias("cos_quant"),
            cos("ex", "qe").alias("cos_exact"),
        )
        .orderBy(F.desc("cos_quant"), F.asc("vec_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q120: CLUSTERING-AGREEMENT RAND INDEX — pair-counting agreement
# between the stored assignment (label) and a re-derived geometric one
# (3-bit sign bucket of the embedding's leading components). This is
# the snapshot-drift monitor for an embedding/cluster index: RI near 1
# means the new partition agrees with the stored one.
#
# Everything reduces to the contingency table n_ij = |label i ∩ bucket
# j| — one mergeable groupBy; all pair counts are BIGINT binomials
# (c*(c-1))/2 so the only double op is the final single division.
# Scale shape: the contingency table has ≤ |labels|*|buckets| cells
# regardless of corpus size; the whole metric is one map-side-combined
# shuffle plus constant-size arithmetic.
_Q120_ORACLE = """
WITH cells AS (
  SELECT label,
         (CASE WHEN embedding[1] >= 0 THEN 4 ELSE 0 END
        + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
        + CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM embeddings GROUP BY 1, 2
),
a AS (SELECT SUM(c * (c - 1) // 2) AS sa
      FROM (SELECT SUM(c) AS c FROM cells GROUP BY label)),
b AS (SELECT SUM(c * (c - 1) // 2) AS sb
      FROM (SELECT SUM(c) AS c FROM cells GROUP BY bucket)),
ij AS (SELECT SUM(c * (c - 1) // 2) AS sij, SUM(c) AS n,
              CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells)
SELECT CAST(ij.n AS BIGINT) AS n_points,
       ij.n_cells,
       CAST(ij.sij AS BIGINT) AS pairs_both,
       CAST(a.sa AS BIGINT) AS pairs_a,
       CAST(b.sb AS BIGINT) AS pairs_b,
       ROUND(
         CAST(ij.n * (ij.n - 1) // 2 + 2 * ij.sij - a.sa - b.sb AS DOUBLE)
         / CAST(ij.n * (ij.n - 1) // 2 AS DOUBLE), 6) AS rand_index
FROM ij, a, b
"""


@register("q120_cluster_drift", oracle=_Q120_ORACLE)
def q120_cluster_drift(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    bucket = (
        F.when(F.col("embedding").getItem(0) >= 0, 4).otherwise(0)
        + F.when(F.col("embedding").getItem(1) >= 0, 2).otherwise(0)
        + F.when(F.col("embedding").getItem(2) >= 0, 1).otherwise(0)
    )
    cells = emb.groupBy("label", bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("c")
    )
    pairs = lambda c: F.expr(f"{c} * ({c} - 1) div 2")  # noqa: E731
    a = cells.groupBy("label").agg(F.sum("c").alias("c")).agg(
        F.sum(pairs("c")).alias("sa")
    )
    b = cells.groupBy("bucket").agg(F.sum("c").alias("c")).agg(
        F.sum(pairs("c")).alias("sb")
    )
    ij = cells.agg(
        F.sum(pairs("c")).alias("sij"),
        F.sum("c").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
    )
    total = F.expr("n * (n - 1) div 2")
    return (
        ij.crossJoin(a)
        .crossJoin(b)
        .select(
            F.col("n").cast("long").alias("n_points"),
            "n_cells",
            F.col("sij").cast("long").alias("pairs_both"),
            F.col("sa").cast("long").alias("pairs_a"),
            F.col("sb").cast("long").alias("pairs_b"),
            F.round(
                (total + 2 * F.col("sij") - F.col("sa") - F.col("sb")).cast("double")
                / total.cast("double"),
                6,
            ).alias("rand_index"),
        )
    )


# --------------------------------------------------------------------------
# q131: SIMPLIFIED SILHOUETTE (centroid-based; Rousseeuw 1987 silhouette
# with the O(N*k) centroid approximation that actual large-scale
# clustering evals use — true silhouette is O(N^2) pairwise and cannot
# run at corpus scale). Completes the cluster-diagnostics family: q120
# measures assignment DRIFT between snapshots, this measures assignment QUALITY within one
# snapshot: per point, a = Euclidean distance to its own (nearest)
# centroid, b = distance to the best OTHER centroid, s = (b-a)/max(a,b)
# in [0,1] here (a <= b by construction of nearest-centroid assignment).
# Same seed-centroid scheme as q120 (quantized vectors of vec_id 1..8,
# assignment ordering on the raw double squared-L2 with cent_id
# tie-break — the proven cross-engine recipe), then every distance is
# snapped to BIGINT micro-units and s is computed by pure integer
# division, so the score surface is bit-identical across engines.
# Reference intent: embedding-space quality checks over the pgvector
# store, reference src/rag/vector_database.py:156-189.
#
# Scale shape: the centroid table is k broadcast rows; distances are
# computed map-side on the embedding scan; the per-point (a, b, cell)
# reduction is ONE vec_id-keyed conditional aggregation (no self-join,
# no second scan); per-cluster rollup is a k-group mergeable agg.
_Q131_K = 8


def _q131_oracle() -> str:
    return f"""
    WITH eq AS (
      SELECT vec_id,
             list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 3)) AS e
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cent_id, e AS c FROM eq
              WHERE vec_id BETWEEN 1 AND {_Q131_K}),
    dists AS (
      SELECT d.vec_id, c.cent_id,
             list_sum(list_transform(range(1, 65),
               i -> (d.e[i] - c.c[i]) * (d.e[i] - c.c[i]))) AS d2,
             ROW_NUMBER() OVER (
               PARTITION BY d.vec_id ORDER BY
               list_sum(list_transform(range(1, 65),
                 i -> (d.e[i] - c.c[i]) * (d.e[i] - c.c[i]))) ASC,
               c.cent_id ASC) AS rn
      FROM eq d, cents c
      WHERE d.vec_id > {_Q131_K}
    ),
    ab AS (
      SELECT vec_id,
             CAST(MAX(CASE WHEN rn = 1 THEN cent_id END) AS BIGINT) AS cell,
             CAST(ROUND(SQRT(MAX(CASE WHEN rn = 1 THEN d2 END)) * 1000000)
                  AS BIGINT) AS a_u,
             CAST(ROUND(SQRT(MAX(CASE WHEN rn = 2 THEN d2 END)) * 1000000)
                  AS BIGINT) AS b_u
      FROM dists WHERE rn <= 2 GROUP BY vec_id
    )
    SELECT vec_id, cell, a_u, b_u,
           CAST(CASE WHEN GREATEST(a_u, b_u) = 0 THEN 0
                ELSE (b_u - a_u) * 1000000 // GREATEST(a_u, b_u)
                END AS BIGINT) AS sil_u
    FROM ab
    """


@register("q131_simplified_silhouette", oracle=_q131_oracle())
def q131_simplified_silhouette(spark, sf_dir):

    eq = _km_quantized(spark, sf_dir)
    cents = eq.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= _Q131_K)
    ).select(F.col("vec_id").alias("cent_id"), F.col("e").alias("c"))
    d2 = F.aggregate(
        F.zip_with(F.col("e"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cent_id"))
    dists = (
        eq.filter(F.col("vec_id") > _Q131_K)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cent_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    snap = lambda col: F.round(F.sqrt(col) * F.lit(1000000.0)).cast("long")
    ab = dists.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cent_id")))
        .cast("long")
        .alias("cell"),
        snap(F.max(F.when(F.col("rn") == 1, F.col("d2")))).alias("a_u"),
        snap(F.max(F.when(F.col("rn") == 2, F.col("d2")))).alias("b_u"),
    )
    sil = F.when(F.greatest("a_u", "b_u") == 0, F.lit(0)).otherwise(
        F.expr("(b_u - a_u) * 1000000 div greatest(a_u, b_u)")
    )
    return ab.select(
        "vec_id", "cell", "a_u", "b_u", sil.cast("long").alias("sil_u")
    )
