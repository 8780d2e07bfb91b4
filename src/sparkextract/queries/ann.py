"""Embedding operators (F11/T1/J3/A8): brute-force cosine top-k, LSH
buckets, embedding quality, the IVF probe, filtered retrieval, recall
evaluation, product quantization (ADC) and a PCA power-iteration step.

Double-precision folds over the embedding arrays are evaluated in
element order by both engines; results are rounded to 6 decimals before
compare (error margin ~1e-13 << 5e-7 rounding quantum).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkextract.queries.base import load, register


_DIM = 64


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def _cos(a, b):
    """Cosine of two numeric arrays, each fold in element order."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (_norm(a) * _norm(b))


def _norm_sql(v: str) -> str:
    """DuckDB twin of :func:`_norm`."""
    return (
        f"sqrt(list_sum(list_transform(range(1, {_DIM + 1}),"
        f" i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE))))"
    )


def _cos_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`_cos` over FLOAT[] or DOUBLE[] vectors (the
    element cast changes nothing on DOUBLE), element order fixed."""
    dot = (
        f"list_sum(list_transform(range(1, {_DIM + 1}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    return f"({dot} / ({_norm_sql(a)} * {_norm_sql(b)}))"


def _emb_double():
    """The ``embedding`` column as array<double>, the element cast of the
    vector kernels below."""
    return F.transform("embedding", lambda x: x.cast("double"))


_EMB_DOUBLE_SQL = "list_transform(embedding, x -> CAST(x AS DOUBLE))"  # DuckDB twin


# --------------------------------------------------------------------------
# T1/J3: brute-force cosine top-k against the vec_id=0 query vector.
# Scale path: broadcast the query vector (a 1-row dim-64 array), score every
# row map-side, TakeOrderedAndProject for the global top-k — no shuffle of
# the embedding table. q55 and q58 rerank these same ten candidates.
def _cos_top10(spark, sf_dir, *cols):
    """(vec_id, *cols, cosine) of the ten vectors nearest vec_id 0."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            *cols,
            F.round(_cos(F.col("embedding"), F.col("qv")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def _cos_top10_sql(*cols) -> str:
    """DuckDB twin of :func:`_cos_top10`."""
    return f"""
    SELECT {", ".join(f"e.{c}" for c in ("vec_id", *cols))},
           ROUND({_cos_sql("e.embedding", "q.qv")}, 6) AS cosine
    FROM embeddings e,
         (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id != 0
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 10
    """


@register("q27_cosine_topk", oracle=_cos_top10_sql("label"))
def q27_cosine_topk(spark, sf_dir):
    return _cos_top10(spark, sf_dir, "label")


# --------------------------------------------------------------------------
# LSH-bucketed ANN candidate generation: sign of the projection onto 4
# deterministic pseudo-random hyperplanes → 4-bit bucket; report bucket
# occupancy. The scale path for similarity search: equi-join on bucket
# instead of a cross join (q34). Hyperplane components are ±1 derived
# from md5 parity (NOT each engine's hash() builtin, which differs between
# Spark and DuckDB), so both engines compute identical signs.
def _plane_sign_sql(i_expr: str, plane: int) -> str:
    # parity of first hex digit of md5("<plane>:<i>") — engine-independent
    return (
        f"(CASE WHEN STRPOS('02468ace', SUBSTRING(md5('{plane}:' || CAST({i_expr} AS VARCHAR)), 1, 1)) > 0 "
        f"THEN 1.0 ELSE -1.0 END)"
    )


def _bucket_sql(emb: str) -> str:
    """DuckDB twin of :func:`_bucket_col` over the vector column ``emb``."""
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST({emb}[i] AS DOUBLE) * {_plane_sign_sql('i', p)})) >= 0 THEN {1 << (3 - p)} ELSE 0 END)"
        for p in range(4)
    )


def _plane_signs(seed: str) -> list[float]:
    """The ±1 components of hyperplane ``seed``: component i is +1 when
    the first hex digit of md5("<seed>:<i>") is even. hashlib md5 ==
    engine md5, byte for byte, so the Spark side embeds the signs as a
    literal instead of hashing 64 times per plane per row (q28/q34 name
    their planes "0".."3", q53 "b<band>p<plane>")."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[0] in "02468ace" else -1.0
        for i in range(1, _DIM + 1)
    ]


def _bucket_col():
    """4-bit LSH bucket of ``embedding``: bit 3-p is set when the
    projection onto plane p is >= 0."""
    bucket = F.lit(0)
    for p in range(4):
        proj = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.lit(_plane_signs(str(p))),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << (3 - p))).otherwise(F.lit(0))
    return bucket.cast("int")


@register(
    "q28_lsh_buckets",
    oracle=f"""
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM (SELECT vec_id, CAST({_bucket_sql("embedding")} AS INTEGER) AS bucket
          FROM embeddings)
    GROUP BY bucket
    """,
)
def q28_lsh_buckets(spark, sf_dir):
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", _bucket_col().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


# --------------------------------------------------------------------------
# A8: embedding quality stats — L2 norm bounds + zero-component counts.
@register(
    "q31_embedding_quality",
    oracle=f"""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(ROUND({_norm_sql("embedding")}, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_l2,
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
        .withColumn("ccos", _cos(F.col("embedding"), F.col("cv")))
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
        .select("cent_id", _cos(F.col("qv"), F.col("cv")).alias("qcos"))
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
            F.round(_cos(F.col("embedding"), F.col("qv")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Nearest-centroid assignment over the 8 IVF centroids (vec_ids 1..8, the
# q46 table) by ROUND-6 cosine, lowest cent_id on a tie: q110 and the
# incremental IVF. Scale shape: a broadcast of the 8 centroids and a
# map-side-combinable max_by groupBy, never a window over vec_id. q46
# ranks by the unrounded cosine with a window, a rule of its own.
def _nearest_cell(spark, sf_dir, vecs, *carry):
    """(vec_id, cell, *carry) for the (vec_id, e, *carry) rows of ``vecs``."""
    cents = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").between(1, 8))
        .select(F.col("vec_id").alias("cent_id"), _emb_double().alias("cv"))
    )
    # argmax of (ccos, -cent_id): the ROUND-6 score, cent_id asc tie-break
    score = F.struct(
        F.round(_cos(F.col("e"), F.col("cv")), 6).alias("c"),
        (-F.col("cent_id")).alias("t"),
    )
    return (
        vecs.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(F.max_by("cent_id", score).alias("cell"), *[F.first(c).alias(c) for c in carry])
    )


def _nearest_cell_sql(src: str, *carry: str) -> str:
    """DuckDB twin of :func:`_nearest_cell` over the relation ``src``."""
    cols = "".join(f", v.{c}" for c in carry)
    return f"""
      SELECT v.vec_id{cols}, ct.cent_id AS cell
      FROM {src} v,
           (SELECT vec_id AS cent_id, {_EMB_DOUBLE_SQL} AS cv
            FROM embeddings WHERE vec_id BETWEEN 1 AND 8) ct
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY v.vec_id
        ORDER BY ROUND({_cos_sql("v.e", "ct.cv")}, 6) DESC, ct.cent_id ASC) = 1"""


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
        .select("vec_id", _cos(F.col("embedding"), F.col("qv")).alias("c"))
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
    WITH e AS (SELECT vec_id, {_EMB_DOUBLE_SQL} AS e FROM embeddings),
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
    emb = load(spark, sf_dir, "embeddings").select("vec_id", _emb_double().alias("e"))
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
