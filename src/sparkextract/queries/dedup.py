"""Deduplication queries at every grain (D4/D6/J1): exact content-hash
groups and pairs, MinHash/SimHash signatures and near-dup joins,
embedding LSH pairs, the composed extract -> quality -> dedup cleaning
pipeline, winnowing, block and exact-substring dedup, semantic dedup,
cross-lingual candidate mining, content-defined chunking, soft-dedup
weights and sorted-neighborhood blocking.

Double-precision folds over the embedding arrays are evaluated in
element order by both engines; results are rounded to 6 decimals before
compare.

q139 — BLOCKED CROSS-LINGUAL CANDIDATE MINING (the record-linkage /
bitext-mining shape: CCMatrix/CCAligned candidate generation, and the
classic blocking technique of the entity-resolution literature —
Papadakis et al., "Blocking and Filtering Techniques for Entity
Resolution", CSUR 2020). All-pairs comparison of an English side
against a non-English side is O(N^2) and impossible at corpus scale;
the standard fix is an inverted index over RARE blocking keys — here
5-gram token shingles with global document frequency in [2, 10] — so
each key joins at most C(10,2) pairs and hot shingles (boilerplate)
are excluded by the df cap itself. Candidates sharing >= 1 rare key
are then scored EXACTLY (full token-set Jaccard) by two doc_id-keyed
joins against the token-set table — never a token-keyed join over the
full inverted index, which is where the hot-key blowup lives.

Scale shape: the shingle table is built once per (session, input) via
checkpoint_memo (three subtrees read it: the df filter, the en side,
the xx side); the df cap bounds per-key fan-out; candidate scoring is
doc_id-keyed. Every shuffle key is either a rare shingle or a doc_id.

q154 — CONTENT-DEFINED CHUNKING + SHIFT-INVARIANCE AUDIT. Fixed-size
blocks (q96's grain) lose ALL dedup alignment after a single prefix
insertion; content-defined chunking (CDC — the rolling-hash boundary
rule behind rsync / LBFS / data-dedup stores) re-synchronizes because
a cut depends only on a LOCAL window of content. Rule used here, at
token grain so both engines agree byte-for-byte: cut AFTER token i iff
md5_bucket(window) == 0 where window is the concatenation of tokens
i-2..i (w=3, boundary probability 1/4, expected chunk ~4 tokens). The
audit synthesizes a shifted twin of every document (one header token
prepended) and chunks BOTH variants BOTH ways (cdc / fixed 8-token
blocks); the output compares chunk-hash multisets across variants per
method: CDC re-syncs after at most w tokens (shared_cdc ~ n_cdc),
fixed blocks never re-align (shared_fix == 0 for every doc whose
length isn't congruent to the insertion — in practice 0). Reference
analog: the fixed-size chunker (reference src/rag/
text_processor.py:340-420) — this is the dedup-stable alternative a
100 TB store would use.
Scale shape: variant/method expansion is a doc-local explode (map
side); the ONLY shuffles are the (doc_id, variant)-partitioned token
window (doc-bounded partitions, never content-keyed) and the chunk
groupBy — both keyed by doc_id, so a hot boilerplate chunk never
concentrates (the q96/q99 de-skew lesson applied from the start).

q159 — SOFT DEDUPLICATION / INVERSE-MULTIPLICITY LOSS WEIGHTS. Instead
of DROPPING exact duplicates (q11), SoftDeDup-style training keeps them
and down-weights: every doc in an exact-hash cluster of size c gets
loss weight 1/c, so each unique content contributes one unit of
gradient mass regardless of copy count. Weights are exact integers
(1_000_000 div c — BIGINT floor division, identical in both engines);
the per-source ledger reports raw vs effective token mass and the
duplicated-doc count, i.e. exactly how much gradient the corpus was
over-counting before weighting. Exact clones are injected: every
10th doc also appears verbatim under the
synthetic 'mirror' source — the scraped-mirror shape soft-dedup is
for — so clusters of size 2 span sources and the mirror's ledger row
shows ~50% effective mass.
Scale shape: ONE map-side-combinable groupBy(text_hash) for cluster
sizes, ONE hash-keyed equi-join back to the doc grain (both partial-agg
friendly; a boilerplate mega-cluster is one ROW in the size table, not
a window partition), ONE groupBy(source) ledger.

q194 — MULTI-PASS SORTED-NEIGHBORHOOD ER BLOCKING (Hernandez & Stolfo
1995). The second blocking discipline next to q139 (shared-key
blocking): sort the corpus by a sliding
key, take candidate pairs only within a window of w consecutive
records, and run the expensive similarity on those. The classical
boundary-miss weakness of single-key SNM is answered the classical
way — TWO passes with independent keys (text prefix; reversed prefix),
union of candidates, then one exact verify: token-set Jaccard >= 0.5
in integer micro-units (jac_u = 1e6 * |A∩B| div |A∪B|). Window pairs
are generated by LEAD over the sorted order (no self-join for
candidate generation at all).
Reference intent: duplicate-table detection joins (the reference's
similarity suppression, `src/table_extractor.py:144-152,200-218`)
re-expressed with the blocking method that scales.

Scale shape: each pass is a window over (block, key, doc_id) where
block is the key's leading bytes — the global sort becomes
|blocks|-way parallel; LEAD(,1)/LEAD(,2) emit each record's w-1
forward pairs map-side. The verify joins fetch two token sets by
doc_id (corpus-keyed equi-joins) for CANDIDATE rows only. No
all-pairs product anywhere.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.sql.window import Window as W

from sparkextract.queries.ann import (
    _DIM,
    _EMB_DOUBLE_SQL,
    _bucket_col,
    _bucket_sql,
    _cos,
    _cos_sql,
    _emb_double,
    _nearest_cell,
    _nearest_cell_sql,
    _plane_signs,
)
from sparkextract.queries.base import (
    checkpoint_memo,
    load,
    md5_bucket,
    md5_bucket_sql,
    register,
)
from sparkextract.queries.quality import _Q94_MIN_TOKENS
from sparkextract.queries.sketches import _kgram_hashes, _kgram_keys_sql
from sparkextract.queries.text import _kgrams, _kgrams_sql, _words, _words_sql


# --------------------------------------------------------------------------
# D4/D5 exact dedup by content hash. The corpus has no natural dups, so the
# query builds one deterministically: base docs ∪ a shifted copy of every
# 7th doc, then clusters by md5(text). Scale: one shuffle on a 32-char key.
@register(
    "q11_dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    )
    SELECT md5(text) AS content_hash,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM corpus
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """,
)
def q11_dedup_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup)
    return (
        corpus.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("cluster_size") > 1)
    )


# --------------------------------------------------------------------------
# J1 self-join shape: duplicate pairs via hash equi-join (the Spark-first
# replacement of the reference's O(n^2) similarity loop,
# reference src/table_extractor.py:144-152).
@register(
    "q13_dup_pairs_selfjoin",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0
    )
    SELECT a.doc_id AS left_id, b.doc_id AS right_id
    FROM corpus a JOIN corpus b
      ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    """,
)
def q13_dup_pairs_selfjoin(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup).withColumn("h", F.md5("text"))
    a = corpus.alias("a")
    b = corpus.alias("b")
    return a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("left_id"), F.col("b.doc_id").alias("right_id"))


# --------------------------------------------------------------------------
# MinHash signatures (LSH band minima): shingle = 8-char window over the
# first 256 chars; band signature = min md5(band_salt || shingle). At scale
# this is shingle-explode → per-band min — a single map-side-combinable agg;
# here the array form keeps it shuffle-free per doc.
@register(
    "q19_minhash_signature",
    oracle="""
    SELECT doc_id,
           list_min(list_transform(range(1, GREATEST(LENGTH(SUBSTRING(text,1,256)) - 7, 1) + 1),
                    i -> md5('b0|' || SUBSTRING(SUBSTRING(text,1,256), i, 8)))) AS sig0,
           list_min(list_transform(range(1, GREATEST(LENGTH(SUBSTRING(text,1,256)) - 7, 1) + 1),
                    i -> md5('b1|' || SUBSTRING(SUBSTRING(text,1,256), i, 8)))) AS sig1,
           list_min(list_transform(range(1, GREATEST(LENGTH(SUBSTRING(text,1,256)) - 7, 1) + 1),
                    i -> md5('b2|' || SUBSTRING(SUBSTRING(text,1,256), i, 8)))) AS sig2,
           list_min(list_transform(range(1, GREATEST(LENGTH(SUBSTRING(text,1,256)) - 7, 1) + 1),
                    i -> md5('b3|' || SUBSTRING(SUBSTRING(text,1,256), i, 8)))) AS sig3
    FROM documents
    """,
)
def q19_minhash_signature(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    head = F.substring("text", 1, 256)
    n_sh = F.greatest(F.length(head) - 7, F.lit(1))

    def band_min(b: int):
        # NB: a one-arg lambda — a default-arg closure (lambda i, b=b: ...)
        # would make Spark treat it as the 2-arg (element, index) form
        prefix = f"b{b}|"
        return F.array_min(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.md5(F.concat(F.lit(prefix), F.substring(head, i, F.lit(8)))),
            )
        )

    return docs.select("doc_id", *[band_min(b).alias(f"sig{b}") for b in range(4)])


# --------------------------------------------------------------------------
# n-gram (token trigram) Jaccard between each doc and its successor within
# a source — the near-dup scoring primitive.
@register(
    "q20_jaccard_neighbors",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS t FROM documents
    ), pairs AS (
      SELECT doc_id AS left_id,
             lead(doc_id) OVER w AS right_id,
             t AS ta,
             lead(t) OVER w AS tb
      FROM toks
      WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC)
    )
    SELECT left_id, right_id,
           ROUND(CAST(LENGTH(list_intersect(ta, tb)) AS DOUBLE) /
                 LENGTH(list_distinct(list_concat(ta, tb))), 6) AS jaccard
    FROM pairs WHERE right_id IS NOT NULL
    """,
)
def q20_jaccard_neighbors(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.array_distinct(F.split("text", " ")).alias("t")
    )
    w = W.partitionBy("source").orderBy(F.asc("doc_id"))
    paired = docs.select(
        F.col("doc_id").alias("left_id"),
        F.lead("doc_id").over(w).alias("right_id"),
        F.col("t").alias("ta"),
        F.lead("t").over(w).alias("tb"),
    ).filter(F.col("right_id").isNotNull())
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size(F.array_distinct(F.concat("ta", "tb")))
    return paired.select(
        "left_id", "right_id", F.round(inter.cast("double") / union, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# P2/F13 normalization + fingerprint projection (document fingerprinting).
@register(
    "q21_fingerprint",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(lower(regexp_replace(text, '[^a-z ]', '', 'g')))) AS BIGINT) AS n_unique
    FROM documents GROUP BY lang
    """,
)
def q21_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace("text", "[^a-z ]", "")))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
    )


def _simhash(toks, bits: int, hex_width: int):
    """(doc_id, tok) -> (doc_id, simhash): the SimHash sign-vote fold.
    A token's hash is the first ``hex_width`` hex digits of its md5; each
    token votes +1 on bit b when the hash has it set and -1 when not, and
    bit b of the ``bits``-bit signature is set when its votes sum above 0."""
    hv = F.conv(F.substring(F.md5("tok"), 1, hex_width), 16, 10).cast("long")
    votes = toks.select("doc_id", hv.alias("hv")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("hv", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


def _simhash_sql(toks: str, bits: int, hex_width: int) -> str:
    """DuckDB twin of :func:`_simhash` over the (doc_id, tok) relation
    ``toks``."""
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM (
      SELECT doc_id, {votes} FROM (
        SELECT doc_id,
               CAST(('0x' || SUBSTRING(md5(tok), 1, {hex_width}))::VARCHAR AS UBIGINT) AS hv
        FROM ({toks})
      ) GROUP BY doc_id
    )"""


# 16-bit SimHash over each doc's distinct words
_BITS = 16


_Q32_ORACLE = _simhash_sql(
    f"SELECT doc_id, unnest(list_distinct({_words_sql()})) AS tok FROM documents", _BITS, 4
)


@register("q32_simhash", oracle=_Q32_ORACLE)
def q32_simhash(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.array_distinct(_words())).alias("tok"))
    return _simhash(toks, _BITS, 4)


# --------------------------------------------------------------------------
# Embedding near-dup candidates via LSH-bucket equi-join + exact cosine
# verify — the scale pattern for similarity dedup: candidates come from a
# bucket hash join (shuffle on a tiny int key), never a cross join; the
# exact cosine runs only on co-bucketed pairs.
_Q34_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, CAST({_bucket_sql('embedding')} AS INTEGER) AS bucket
  FROM embeddings WHERE vec_id < 300
)
SELECT x.vec_id AS left_id, y.vec_id AS right_id,
       ROUND({_cos_sql("x.embedding", "y.embedding")}, 6) AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE ROUND({_cos_sql("x.embedding", "y.embedding")}, 6) >= 0.3
"""


@register("q34_lsh_near_dup_join", oracle=_Q34_ORACLE)
def q34_lsh_near_dup_join(spark, sf_dir):
    """Single-signature LSH demo (16 fixed buckets). At real corpus sizes
    a FIXED bucket count makes within-bucket pair joins O(N²/16) — use the
    banded variant (q53) whose bucket space scales with the plane count;
    this one is kept as the minimal-shape oracle for the bucket pattern."""
    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", "embedding", _bucket_col().alias("bucket"))
    )
    x = emb.alias("x")
    y = emb.alias("y")
    pairs = x.join(
        y,
        (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.vec_id") < F.col("y.vec_id")),
    )
    cosine = F.round(_cos(F.col("x.embedding"), F.col("y.embedding")), 6)
    return pairs.select(
        F.col("x.vec_id").alias("left_id"),
        F.col("y.vec_id").alias("right_id"),
        cosine.alias("cosine"),
    ).filter(F.col("cosine") >= 0.3)


# --------------------------------------------------------------------------
# q53: SCALE-SAFE banded LSH near-dup join (the fix for q34's fixed
# 16-bucket space). B bands x R hyperplanes per band: each vector gets B
# band signatures of R sign bits; candidate pairs share (band, signature)
# for at least one band — an equi-join on a key whose cardinality is
# B * 2^R, so R is the knob that keeps expected bucket size bounded as
# the corpus grows (choose R ~ log2(N / target_bucket_size); here 4x8 =
# 1024 buckets for a ~572-vector corpus). Exact cosine runs only on
# deduplicated candidate pairs. The corpus is random, so near-dup pairs
# are injected (a perturbed copy of every 7th vector); band collisions between random vectors are possible
# but the cosine >= 0.8 verify stage only keeps true near-dups.
#
# Plan note: the signature subtree appears on both sides of the
# self-join, so Spark recomputes it (6 scans in PLANS.md). The
# projection is cheap map-side arithmetic, so at 100 TB recompute costs
# one extra scan's I/O + flops; if signatures ever become expensive
# (more planes, learned projections), materialize the (vec_id, band,
# sig) table once — bucketed by (band, sig) — and self-join that.
# Reference intent: ANN index instead of exact scan,
# reference src/rag/vector_database.py:184-189.
#
# The hyperplane sign matrix is a CONSTANT (a function of (band, plane,
# dim) only), so it is derived ONCE driver-side from md5 (hashlib md5 ==
# engine md5, byte for byte) and embedded as literals in both engines —
# the broadcast-constant shape you want at scale, instead of re-deriving
# 2048 md5s per row inside the projection.
_BANDS = 4


_PLANES = 8  # per band -> 2^8 signatures per band


def _band_sig_sql(band: int) -> str:
    # flat unrolled dot product per plane: list-literal indexing inside
    # list_transform re-materializes the 64-element list per element
    # (O(dim^2) per row); the flat sum is vectorized and order-identical
    # to the Spark fold (left-associated, i ascending)
    terms = []
    for p in range(_PLANES):
        proj = " + ".join(
            f"e[{i + 1}]*{s}" for i, s in enumerate(_plane_signs(f"b{band}p{p}"))
        )
        terms.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _band_pairs(buckets, id_col: str, key: str, *carry: str):
    """Distinct pairs (l, r, l_<c>, r_<c> for c in carry) of ``id_col``
    values, l < r, that share a (band, ``key``) bucket of ``buckets``: the
    LSH candidate self-join of q53 and q68/q94. Shuffle-hash, not
    broadcast: the bucket table is O(N x bands) rows, never
    broadcastable at scale, and broadcasting it would funnel one side's
    signature computation through a single-threaded driver collect. The
    shuffle key (band, key) is exactly the LSH bucket id."""
    x = buckets.hint("shuffle_hash").alias("x")
    y = buckets.hint("shuffle_hash").alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col(f"x.{key}") == F.col(f"y.{key}"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("l"),
            F.col(f"y.{id_col}").alias("r"),
            *[F.col(f"{t}.{c}").alias(f"{side}_{c}")
              for c in carry for t, side in (("x", "l"), ("y", "r"))],
        )
        .distinct()
    )


def _band_pairs_sql(buckets: str, id_col: str, key: str, *carry: str) -> str:
    """DuckDB twin of :func:`_band_pairs` over the relation ``buckets``."""
    cols = "".join(f", x.{c} AS l_{c}, y.{c} AS r_{c}" for c in carry)
    return f"""
      SELECT DISTINCT x.{id_col} AS l, y.{id_col} AS r{cols}
      FROM {buckets} x JOIN {buckets} y
        ON x.band = y.band AND x.{key} = y.{key} AND x.{id_col} < y.{id_col}"""


# the embeddings plus a perturbed twin (+0.25 on dim 1) of every 7th
# vector, as (vec_id, e double[]): the corpus of q53 and q110
_BANDED_CORPUS_SQL = f"""
  SELECT vec_id, {_EMB_DOUBLE_SQL} AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, {_DIM + 1}),
           i -> CASE WHEN i = 1 THEN CAST(embedding[1] AS DOUBLE) + 0.25
                     ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings WHERE vec_id % 7 = 0"""


_Q53_ORACLE = f"""
WITH corpus AS ({_BANDED_CORPUS_SQL}),
sigs AS (
  SELECT vec_id, e,
         [{", ".join(f"CAST({_band_sig_sql(b)} AS INTEGER)" for b in range(_BANDS))}] AS s
  FROM corpus
),
buckets AS (
  SELECT vec_id, band, s[band + 1] AS sig
  FROM sigs, (SELECT UNNEST(range({_BANDS})) AS band)
),
pairs AS ({_band_pairs_sql("buckets", "vec_id", "sig")})
SELECT p.l AS left_id, p.r AS right_id,
       ROUND({_cos_sql("cx.e", "cy.e")}, 6) AS cosine
FROM pairs p
JOIN corpus cx ON p.l = cx.vec_id
JOIN corpus cy ON p.r = cy.vec_id
WHERE ROUND({_cos_sql("cx.e", "cy.e")}, 6) >= 0.8
"""


def _banded_corpus(spark, sf_dir):
    """Spark twin of ``_BANDED_CORPUS_SQL``."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", _emb_double().alias("e"))
    perturbed = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 7 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.zip_with(
                "embedding",
                F.sequence(F.lit(1), F.lit(_DIM)),
                lambda x, i: F.when(i == 1, x.cast("double") + 0.25).otherwise(
                    x.cast("double")
                ),
            ).alias("e"),
        )
    )
    return emb.unionByName(perturbed)


def _band_sig_col(band: int):
    # zip_with + fold (left-associated, i ascending — order-identical to
    # the SQL's flat sum). A flat 64-term-per-plane expression would blow
    # whole-stage codegen's method-size limit (32 planes x 64 terms) and
    # drop the whole stage to interpreted mode; higher-order functions
    # are evaluated outside codegen and keep the rest of the stage fast.
    #
    # The plane loop is itself a fold over a NESTED-ARRAY LITERAL (one
    # Literal node holding the 8x64 sign matrix) rather than 8 unrolled
    # per-plane expressions each carrying a 64-element CreateArray: the
    # unrolled form put ~2k literal leaves and 64 lambda nodes into the
    # plan per query, and Catalyst analysis/optimization of that tree —
    # not execution — dominated q53's wall time (~3s of the bench
    # number at any SF). Fold order over planes is p ascending with
    # integer adds; per-plane projection order is i ascending — both
    # bit-identical to the unrolled form and the SQL oracle.
    signs_matrix = F.lit([_plane_signs(f"b{band}p{p}") for p in range(_PLANES)])
    weights = F.lit([1 << p for p in range(_PLANES)])
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(_PLANES)),
        F.lit(0),
        lambda acc, p: acc
        + F.when(
            F.aggregate(
                F.zip_with(
                    F.col("e"), F.element_at(signs_matrix, p), lambda x, s: x * s
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            >= 0,
            F.element_at(weights, p),
        ).otherwise(F.lit(0)),
    ).cast("int")


@register("q53_banded_lsh_near_dup", oracle=_Q53_ORACLE)
def q53_banded_lsh_near_dup(spark, sf_dir):
    corpus = _banded_corpus(spark, sf_dir)
    buckets = (
        corpus.withColumn(
            "bs", F.array(*[_band_sig_col(b) for b in range(_BANDS)])
        )
        .select("vec_id", F.posexplode("bs").alias("band", "sig"))
    )
    pairs = _band_pairs(buckets, "vec_id", "sig")
    cx = corpus.select(F.col("vec_id").alias("l"), F.col("e").alias("ex"))
    cy = corpus.select(F.col("vec_id").alias("r"), F.col("e").alias("ey"))
    # corpus arrays are already double, so _cos's cast is a no-op
    cosine = F.round(_cos(F.col("ex"), F.col("ey")), 6)
    return (
        pairs.join(cx, "l")
        .join(cy, "r")
        .select(
            F.col("l").alias("left_id"),
            F.col("r").alias("right_id"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.8)
    )


# --------------------------------------------------------------------------
# q68: SimHash near-dup JOIN — completes the SimHash family from
# signatures (q32) to dedup pairing, at the width a real pipeline uses:
# a 48-bit signature (16 bits as in q32 collides massively at corpus
# scale — a prototype run emitted 4.5M spurious pairs at sf0.1) split
# into 6 bands of 8 bits. By pigeonhole, any pair within hamming
# distance 5 shares at least one identical band, so banded equi-join
# candidate generation is LOSSLESS for radius-5 hamming-LSH; the exact
# popcount verify runs only on co-banded pairs. Near-dup pairs are
# injected as head-perturbed copies of every 11th doc.
# Features are distinct word BIGRAMS, not unigrams — this corpus shares
# a tiny vocabulary, so unigram token sets (and their simhashes) nearly
# coincide across unrelated docs; bigrams discriminate.
# Scale shape: equi-join on a (band, value) key of cardinality
# 6 * 2^8 — band bits are the knob, exactly like q53's hyperplanes.
_SH_BITS = 48


_SH_BANDS = 6


_SH_BAND_BITS = _SH_BITS // _SH_BANDS


_SH_RADIUS = _SH_BANDS - 1  # lossless pigeonhole radius


def _simhash48_sql(corpus_cte: str) -> str:
    """CTE sigs(doc_id, simhash): DuckDB twin of :func:`_simhash48_col`."""
    toks = f"""
      SELECT doc_id, unnest(list_distinct({_kgrams_sql("w", 2)})) AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM ({corpus_cte}))"""
    return f"""
    sigs AS ({_simhash_sql(toks, _SH_BITS, 12)})"""


_Q68_CORPUS = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, 'xxxxxxxxxx' || SUBSTRING(text, 11) AS text
      FROM documents WHERE doc_id % 11 = 0
"""


def simhash_pairs_sql(corpus_cte: str) -> str:
    """CTE chain ending in dup_pairs(left_id, right_id, hamming) — the
    DuckDB twin of ``simhash_banded_pairs`` over ``_simhash48_sql``
    signatures. Shared by q68 and q94's end-to-end composition."""
    return f"""{_simhash48_sql(corpus_cte)},
    buckets AS (
      SELECT doc_id, simhash, band,
             (simhash >> (band * {_SH_BAND_BITS})) & {(1 << _SH_BAND_BITS) - 1} AS bv
      FROM sigs, (SELECT UNNEST(range({_SH_BANDS})) AS band)
    ),
    pairs AS ({_band_pairs_sql("buckets", "doc_id", "bv", "simhash")}),
    dup_pairs AS (
      SELECT l AS left_id, r AS right_id,
             CAST(bit_count(CAST(xor(l_simhash, r_simhash) AS BIGINT)) AS INT) AS hamming
      FROM pairs
      WHERE bit_count(CAST(xor(l_simhash, r_simhash) AS BIGINT)) <= {_SH_RADIUS}
    )"""


_Q68_ORACLE = f"""
    WITH {simhash_pairs_sql(_Q68_CORPUS)}
    SELECT left_id, right_id, hamming FROM dup_pairs
"""


def _simhash48_col(df):
    """(doc_id, text) df -> (doc_id, simhash) — the 48-bit SimHash of
    the doc's distinct word BIGRAMS (unigram token sets barely differ
    between docs drawn from a small shared vocabulary — measured: a
    unigram 48-bit simhash still emitted 1.5M hamming<=5 pairs at sf0.1,
    a bigram one emits ~50 at sf0.01, almost all the injected near-dups).
    A single-word (spaceless) doc has no bigrams, so it drops out of the
    signature set in both engines."""
    bigrams = F.array_distinct(_kgrams(F.split("text", " "), 2))
    return _simhash(df.select("doc_id", F.explode(bigrams).alias("tok")), _SH_BITS, 12)


@register("q68_simhash_near_dup", oracle=_Q68_ORACLE)
def q68_simhash_near_dup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("xxxxxxxxxx"), F.expr("substring(text, 11)")).alias("text"),
    )
    # materialize the doc-grain signature table ONCE: the bucket
    # self-join otherwise recomputes the whole signature pipeline
    # (bigram explode + 48-vote aggregate over ~250x the corpus row
    # count) on BOTH sides — ReuseExchange does not fire across the
    # two subtrees under AQE here, and a LAZY checkpoint (eager=False)
    # does not materialize before the join either: both subtrees still
    # recompute the lineage inside the one job (measured 16x slower).
    # At real scale this is the same move: signatures are written/
    # persisted once, then banded and self-joined. The eager build-time
    # job is the documented cost (dump_plans notes it); the memo keeps
    # it to once per (session, input).
    sigs = checkpoint_memo(
        spark, sf_dir, "q68_sigs", lambda: _simhash48_col(docs.unionByName(near))
    )
    return simhash_banded_pairs(sigs)


def simhash_banded_pairs(sigs):
    """MATERIALIZED sigs(doc_id, simhash) -> near-dup pairs
    (left_id, right_id, hamming <= radius) via the 6-band pigeonhole
    self-join (radius-5 lossless). The caller must pass an
    already-materialized frame (localCheckpoint/persist) — a lazy one
    recomputes its whole lineage on BOTH sides of the self-join (the
    measured-16x q68 lesson above). Shared by q68 and the q94
    end-to-end corpus-clean composition."""
    mask = (1 << _SH_BAND_BITS) - 1
    buckets = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * _SH_BAND_BITS).bitwiseAND(F.lit(mask))
                    for b in range(_SH_BANDS)
                ]
            )
        ).alias("band", "bv"),
    )
    pairs = _band_pairs(buckets, "doc_id", "bv", "simhash")
    hamming = F.bit_count(F.col("l_simhash").bitwiseXOR(F.col("r_simhash"))).cast("int")
    return (
        pairs.select(
            F.col("l").alias("left_id"), F.col("r").alias("right_id"), hamming.alias("hamming")
        )
        .filter(F.col("hamming") <= _SH_RADIUS)
    )


# --------------------------------------------------------------------------
# q94: END-TO-END CORPUS CLEAN — the flagship composition: REAL
# extraction (mapInPandas over the interleaved input_hint shape, with
# q68's near-dup injection) -> token-count quality gate -> 48-bit
# simhash signatures -> banded near-dup pairs -> connected components ->
# survivor application, one driver-checked row per extracted document.
# This proves the extraction engine and the dedup family compose without
# a materialization seam: extraction output is checkpointed ONCE
# (checkpoint_memo — at real scale this is the corpus write to the
# lake) and the quality gate, signature table, and final survivor join
# all derive from that single frame; no stage collects to the driver
# (the label-propagation loop's eager label-sized checkpoints are
# documented in graph.label_propagation). Reference analog: the full
# extract->chunk->hash->dedup chain of
# reference src/pdf_extractor.py + src/rag/text_processor.py:534.
# Scale shape: the only corpus-payload shuffles are the banded
# signature self-join (key cardinality 6*2^8) and the bigram votes agg;
# the survivor join broadcasts the label frame (clustered nodes only, a
# tiny fraction of the corpus).
_Q94_EXTRACTED = f"""
  SELECT doc_id, text,
         len({_words_sql()}) AS n_tokens
  FROM (
    SELECT doc_id, text FROM documents WHERE n_chars >= 100
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           'xxxxxxxxxx' || SUBSTRING(text, 11) AS text
    FROM documents WHERE doc_id % 11 = 0 AND n_chars >= 100
  )
"""


def _q94_oracle() -> str:
    good = f"SELECT doc_id, text FROM extracted WHERE n_tokens >= {_Q94_MIN_TOKENS}"
    return f"""
WITH RECURSIVE extracted AS (
  {_Q94_EXTRACTED}
),
{simhash_pairs_sql(good)},
edges AS (
  SELECT left_id AS a, right_id AS b FROM dup_pairs
  UNION ALL
  SELECT right_id, left_id FROM dup_pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS lbl FROM nodes
  UNION
  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
SELECT x.doc_id,
       CAST(x.n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN x.n_tokens < {_Q94_MIN_TOKENS} THEN 'dropped_quality'
            WHEN c.component IS NOT NULL AND c.component <> x.doc_id
              THEN 'dropped_dup'
            ELSE 'kept' END AS stage,
       CASE WHEN x.n_tokens < {_Q94_MIN_TOKENS} THEN NULL
            ELSE COALESCE(c.component, x.doc_id) END AS survivor_id
FROM extracted x LEFT JOIN comp c ON c.id = x.doc_id
"""


def _q94_base(spark, sf_dir):
    """Extraction output (doc_id, text, n_tokens), materialized once per
    (session, input) — the corpus-write seam a real pipeline has."""
    from sparkextract.queries.extraction import wrap_docs
    from sparkextract.spark.job import extract_exploded

    def build():
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        injected = docs.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(
                F.lit("xxxxxxxxxx"), F.expr("substring(text, 11)")
            ).alias("text"),
        )
        spans = extract_exploded(wrap_docs(docs.unionByName(injected)))
        return spans.filter(F.col("kind") == "text").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "text",
            F.size(_words()).cast("long").alias("n_tokens"),
        )

    return checkpoint_memo(spark, sf_dir, "q94_base", build)


@register("q94_corpus_clean_pipeline", oracle=_q94_oracle())
def q94_corpus_clean_pipeline(spark, sf_dir):
    from sparkextract.queries.graph import label_propagation

    base = _q94_base(spark, sf_dir)
    is_quality = F.col("n_tokens") >= _Q94_MIN_TOKENS
    good = base.filter(is_quality).select("doc_id", "text")
    # signature table materialized before the banded self-join (q68
    # lesson); derives from the checkpointed base, not a re-extraction
    sigs = checkpoint_memo(
        spark, sf_dir, "q94_sigs", lambda: _simhash48_col(good)
    )
    labels = checkpoint_memo(
        spark,
        sf_dir,
        "q94_labels",
        lambda: label_propagation(simhash_banded_pairs(sigs)),
    ).select(F.col("id").alias("l_id"), F.col("lbl").alias("component"))
    out = base.join(
        F.broadcast(labels), base["doc_id"] == labels["l_id"], "left"
    )
    stage = (
        F.when(~is_quality, F.lit("dropped_quality"))
        .when(
            F.col("component").isNotNull()
            & (F.col("component") != F.col("doc_id")),
            F.lit("dropped_dup"),
        )
        .otherwise(F.lit("kept"))
    )
    survivor = F.when(~is_quality, F.lit(None).cast("long")).otherwise(
        F.coalesce("component", "doc_id")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        stage.alias("stage"),
        survivor.alias("survivor_id"),
    )


# --------------------------------------------------------------------------
# q67: winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
# SIGMOD'03) — the ROLLING-hash fingerprinting scheme the training-data
# brief names (q21's md5 is a whole-document hash): hash every k-gram
# (k=8) of the 256-char head, slide a w=4 window over the hash sequence,
# keep each window's minimum, and the distinct minima are the document's
# fingerprint set (guaranteed-overlap dedup signatures for any match of
# length >= w+k-1). Scale shape: explode -> per-doc window min (ordered
# within doc) -> distinct agg; all shuffles keyed by doc_id, fingerprint
# count bounded per doc by construction.
_Q67_K = 8


_Q67_W = 4


_Q67_ORACLE = f"""
    WITH heads AS (
      SELECT doc_id, SUBSTRING(text, 1, 256) AS head FROM documents
    ),
    hashes AS (
      SELECT doc_id, i,
             CAST(('0x' || SUBSTRING(md5(SUBSTRING(head, CAST(i AS INT), {_Q67_K})), 1, 8)) AS UBIGINT) AS h,
             LENGTH(head) - {_Q67_K} + 1 AS n_sh
      FROM heads, UNNEST(range(1, GREATEST(LENGTH(head) - {_Q67_K} + 1, 1) + 1)) AS t(i)
    ),
    wins AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND {_Q67_W - 1} FOLLOWING) AS fp,
             n_sh
      FROM hashes
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE i <= n_sh - {_Q67_W} + 1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(fp) AS BIGINT) AS fp_checksum,
           CAST(MIN(fp) AS BIGINT) AS fp_min
    FROM fps GROUP BY doc_id
"""


@register("q67_winnowing_fingerprints", oracle=_Q67_ORACLE)
def q67_winnowing_fingerprints(spark, sf_dir):
    # ZERO-SHUFFLE form: the whole winnowing pipeline (k-gram hashes ->
    # sliding-window minima -> distinct fingerprints -> per-doc stats)
    # is doc-local, so it runs entirely inside whole-stage codegen as
    # higher-order array functions — no explode of ~250 rows/doc, no
    # window shuffle, no distinct shuffle. The earlier exploded form
    # moved 250x the corpus row count through TWO doc_id shuffles; at
    # 100 TB the fingerprints belong in the scan stage like this, with
    # only doc-grain output ever leaving it.
    docs = load(spark, sf_dir, "documents")
    head = F.substring("text", 1, 256)
    # docs too short for even one full window (head < k+w-1 chars) emit
    # no fingerprints — filter them on this CHEAP text-length predicate
    # up front (pushable to the scan). Filtering on size(fps) instead
    # would be pushed below the projections with the whole fingerprint
    # expression re-inlined per row — measured as a 50x slowdown.
    docs = docs.filter(F.length(head) >= _Q67_K + _Q67_W - 1)
    n_sh = F.greatest(F.length(head) - (_Q67_K - 1), F.lit(1))
    # materialize the hash sequence as a COLUMN before windowing: if the
    # transform expression were inlined into the per-window slice below,
    # Catalyst would re-evaluate all ~250 md5s for EVERY window — an
    # O(n^2) blowup measured at 100x this query's wall time
    hashed = docs.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.conv(
                F.substring(F.md5(F.substring(head, i, F.lit(_Q67_K))), 1, 8),
                16,
                10,
            ).cast("long"),
        ).alias("hashes"),
    )
    # windows fully inside the hash sequence; deriving n_wins from
    # size(hashes) (rather than recomputing from head) gives the outer
    # projection TWO references to `hashes`, which stops CollapseProject
    # from re-inlining the expensive transform into the per-window slice
    n_wins = F.size("hashes") - (_Q67_W - 1)
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_wins),
            lambda j: F.array_min(F.slice(F.col("hashes"), j, _Q67_W)),
        )
    )
    return (
        hashed.select("doc_id", fps.alias("fps"))
        .select(
            "doc_id",
            F.size("fps").cast("long").alias("n_fingerprints"),
            F.aggregate(
                "fps", F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("fp_checksum"),
            F.array_min("fps").alias("fp_min"),
        )
    )


# --------------------------------------------------------------------------
# q96: C4-STYLE BLOCK-LEVEL CORPUS DEDUP — the C4 pipeline's exact
# duplicate removal at sub-document grain (C4 dedups three-sentence
# spans corpus-wide and keeps the first occurrence): the corpus is cut
# into consecutive B-token blocks, a block is KEPT iff its (doc_id,
# block_idx) is the first occurrence of its md5 across the whole corpus
# (order by doc_id, then block_idx), and each document reports its
# kept fraction plus the md5 of the reassembled kept text. Reference
# analog: chunk content-hash dedup
# (reference src/rag/text_processor.py:534) pushed from chunk
# grain down to fixed-token-block grain.
# Scale shape: block generation is doc-local (transform over the token
# array, q88's no-shuffle lesson). First-occurrence is a MAP-SIDE-
# COMBINABLE min — groupBy(block_hash).agg(min(struct(doc_id,
# block_idx, block))) — NOT a window over the content hash: on a real
# web corpus ultra-common boilerplate blocks make content-hash keys
# heavy, and a window (unlike a partial agg) shuffles EVERY row of a
# hot key to one task; the min-agg ships one partial row per map task
# regardless of how many billion times a block repeats (round-4 VERDICT
# item 1). The per-doc rollup then runs on the FIRSTS table only (one
# row per distinct block) and joins back to doc-local totals on the
# uniform doc_id key. Nothing quadratic, no hot-key concentration.
# The plan reads documents twice (PLANS.md: 2 scans) — deliberate, the
# q42 trade: the doc-local totals branch re-scans the pruned
# (doc_id, text) columns instead of materializing the exploded block
# table, because checkpointing ~1x corpus of exploded rows to executor
# storage at 100 TB costs more (storage pressure, eviction risk) than a
# second columnar scan that Parquet serves with pushdown and pruning.
_Q96_BLOCK = 8


_Q96_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_words_sql()} AS a FROM documents),
blocks AS (
  SELECT doc_id, i - 1 AS block_idx,
         array_to_string(a[(i - 1) * {_Q96_BLOCK} + 1 : i * {_Q96_BLOCK}], ' ')
           AS block
  FROM toks, unnest(range(1, CAST(ceil(len(a) / {_Q96_BLOCK}.0) AS BIGINT) + 1))
         AS u(i)
),
marked AS (
  SELECT doc_id, block_idx, block,
         ROW_NUMBER() OVER (PARTITION BY md5(block)
                            ORDER BY doc_id, block_idx) = 1 AS kept
  FROM blocks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS kept_frac,
       md5(COALESCE(string_agg(block, ' ' ORDER BY block_idx)
                      FILTER (WHERE kept), '')) AS kept_text_md5
FROM marked
GROUP BY doc_id
"""


@register("q96_block_dedup", oracle=_Q96_ORACLE)
def q96_block_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    a = _words()
    # one block per element of slice(a, 1, ceil(size / B)), which is
    # empty for a zero-token doc (where sequence(1, 0) runs DESCENDING),
    # so no guard is needed (text._kgrams)
    blocks = F.transform(
        F.slice(a, 1, F.ceil(F.size(a) / _Q96_BLOCK).cast("int")),
        lambda _, i: F.array_join(F.slice(a, i * _Q96_BLOCK + 1, _Q96_BLOCK), " "),
    )
    # posexplode drops zero-token docs — matching the oracle's empty range
    exploded = docs.select(
        "doc_id", F.posexplode(blocks).alias("block_idx", "block")
    )
    # first occurrence of each block = min(struct(doc_id, block_idx)) —
    # struct comparison is lexicographic, exactly the oracle's ORDER BY
    # doc_id, block_idx; (doc_id, block_idx) is unique so the trailing
    # block field never decides. min() partial-aggregates map-side: a
    # block repeated 10^9 times contributes ONE row per map task to the
    # shuffle, where the previous row_number() window shipped all 10^9.
    firsts = (
        exploded.groupBy(F.md5("block").alias("bh"))
        .agg(F.min(F.struct("doc_id", "block_idx", "block")).alias("f"))
        .select(
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.block_idx").alias("i"),
            F.col("f.block").alias("b"),
        )
    )
    # kept rollup runs on the firsts table (one row per DISTINCT block)
    kept_per_doc = firsts.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "b"))), lambda s: s["b"]
            ),
            " ",
        ).alias("kept_text"),
    )
    # doc-local totals (no shuffle until the final uniform doc_id join);
    # docs whose every block first occurred elsewhere keep n_kept=0 and
    # hash the empty string, matching the oracle's COALESCE('')
    doc_stats = docs.select(
        "doc_id", F.size(blocks).cast("long").alias("n_blocks")
    ).filter(F.col("n_blocks") >= 1)
    n_kept = F.coalesce("n_kept", F.lit(0)).cast("long")
    return doc_stats.join(kept_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_blocks",
        n_kept.alias("n_kept"),
        F.round(n_kept.cast("double") / F.col("n_blocks"), 6).alias("kept_frac"),
        F.md5(F.coalesce("kept_text", F.lit(""))).alias("kept_text_md5"),
    )


# --------------------------------------------------------------------------
# q99: EXACT-SUBSTRING SELF-DEDUP — the ExactSubstr check of
# "Deduplicating Training Data Makes Language Models Better" (Lee et
# al., 2022) at K-token-window grain: a window is duplicated if the
# SAME K tokens appear in ANY OTHER document; each doc reports the
# duplicated fraction of its windows. Complements q91 (corpus vs eval
# set) with corpus vs itself. The full suffix-array construction is
# replaced by the standard scalable approximation: overlapping K-token
# window hashes + a corpus-wide document-frequency count.
# Scale shape: window generation is doc-local (stride 1, linear). The
# (doc_id, kh) window table is materialized ONCE (checkpoint_memo — the
# analog of Lee et al.'s materialized suffix/window table) and every
# aggregate derives from it:
#   n_windows per doc  = groupBy(doc_id).count()            (uniform key)
#   unique windows     = groupBy(kh).agg(count, min(doc))    (map-side
#                        combinable partial agg — a boilerplate window
#                        shared by 10^9 docs ships ONE partial row per
#                        map task, never 10^9 rows to one task)
#   n_dup per doc      = n_windows - n_uniq  (c==1 khs name their only
#                        doc via min(doc_id), so uniqueness folds back
#                        to the doc without re-shuffling the corpus)
# The previous COUNT(*) OVER (PARTITION BY kh) analytic shuffled every
# row of a hot content-hash key to a single task — the one audited plan
# that degraded on a realistically skewed corpus (round-4 VERDICT item
# 1). Nothing quadratic, no self-join, no hot-key concentration.
_Q99_K = 20


_Q99_FLAG_FRAC = 0.5


_Q99_ORACLE = f"""
WITH wk AS ({_kgram_keys_sql("documents", _Q99_K)}),
counted AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY kh) AS n_docs FROM wk
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       ROUND(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS dup_frac,
       (ROUND(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
          > {_Q99_FLAG_FRAC}) AS flagged
FROM counted
GROUP BY doc_id
"""


@register("q99_exact_substring_dedup", oracle=_Q99_ORACLE)
def q99_exact_substring_dedup(spark, sf_dir):
    # the window table feeds two aggregates; materialize it once instead
    # of re-tokenizing the corpus per subtree (at real scale this is the
    # window-table write every ExactSubstr pipeline performs anyway)
    wk = checkpoint_memo(
        spark,
        sf_dir,
        "q99_wk",
        lambda: _kgram_hashes(
            load(spark, sf_dir, "documents").select("doc_id", "text"), _Q99_K
        ),
    )
    n_win = wk.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    # a kh is unique iff exactly one (doc_id, kh) row exists; min(doc_id)
    # then IS that row's doc — both aggregates partial-combine map-side
    uniq_per_doc = (
        wk.groupBy("kh")
        .agg(F.count("*").alias("c"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("c") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_uniq"))
    )
    n_dup = (F.col("n_windows") - F.coalesce("n_uniq", F.lit(0))).cast("long")
    frac = F.round(n_dup.cast("double") / F.col("n_windows"), 6)
    return n_win.join(uniq_per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        n_dup.alias("n_dup"),
        frac.alias("dup_frac"),
        (frac > _Q99_FLAG_FRAC).alias("flagged"),
    )


# --------------------------------------------------------------------------
# q110: SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023, arXiv:2303.09540) —
# the cluster-then-dedup composition: k-means-style assignment of every
# embedding to its nearest centroid, then pairwise cosine ONLY within a
# cluster; a vector is a semantic duplicate when any lower-id cluster
# mate sits at cosine >= threshold (greedy first-writer-wins sweep, the
# deterministic analog of the paper's keep-one-per-tight-group rule).
# Output is the per-cluster dedup ledger the pipeline reports.
#
# Scale shape: assignment is a broadcast of k tiny centroids + a
# map-side-combinable max_by groupBy (the de-skew form, NOT a window —
# the same lesson as the q96/q99 hot-key fix); the pairwise stage is an
# equi-join keyed by cluster id, so cost is sum(|cluster|^2), bounded by
# the paper's knob: k grows with N (k ~ N / target_cluster_size), never
# all-pairs. Here k = 8 (the q46 centroid table) for a ~630-vector
# corpus; twins are injected exactly like q53 so real near-dups exist.
# Reference intent: near-identical retrieval suppression,
# reference src/rag/vector_database.py:184-189.
_Q110_THRESHOLD = 0.95


def _q110_oracle() -> str:
    return f"""
    WITH corpus AS ({_BANDED_CORPUS_SQL}),
    assign AS ({_nearest_cell_sql("corpus", "e")}),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND({_cos_sql("a.e", "b.e")}, 6) >= {_Q110_THRESHOLD}
    )
    SELECT a.cell, COUNT(*) AS n_members, COUNT(d.vec_id) AS n_dups,
           COUNT(*) - COUNT(d.vec_id) AS n_survivors
    FROM assign a LEFT JOIN dups d ON a.vec_id = d.vec_id
    GROUP BY a.cell
    ORDER BY a.cell
    """


@register("q110_semantic_dedup", oracle=_q110_oracle())
def q110_semantic_dedup(spark, sf_dir):
    # The assignment table feeds three subtrees (pair-join left/right +
    # the ledger join); materialize it ONCE (at real scale this is the
    # cluster-assignment write every SemDeDup implementation persists
    # before the within-cluster pass).
    assign = checkpoint_memo(
        spark, sf_dir, "q110_assign",
        lambda: _nearest_cell(spark, sf_dir, _banded_corpus(spark, sf_dir), "e"),
    )
    a = assign.select(
        F.col("vec_id").alias("l"), F.col("cell").alias("cl"), F.col("e").alias("ea")
    )
    b = assign.select(
        F.col("vec_id").alias("r"), F.col("cell").alias("cr"), F.col("e").alias("eb")
    )
    pcos = F.round(_cos(F.col("ea"), F.col("eb")), 6)
    dups = (
        a.join(b, (F.col("cl") == F.col("cr")) & (F.col("l") < F.col("r")))
        .withColumn("cos", pcos)
        .filter(F.col("cos") >= _Q110_THRESHOLD)
        .select(F.col("r").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assign.join(dups, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("is_dup").alias("n_dups"),
        )
        .withColumn("n_survivors", F.col("n_members") - F.col("n_dups"))
        .orderBy("cell")
    )


_Q139_K = 5  # blocking key: 5-gram token shingle


_Q139_DF_LO = 2  # a key seen once links nothing


_Q139_DF_HI = 10  # df cap: <= C(10,2) pairs per key, hot keys excluded


_Q139_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_words_sql()} AS l FROM documents
),
gr AS (
  SELECT DISTINCT doc_id, lang,
         unnest({_kgrams_sql("l", _Q139_K, "|")}) AS g
  FROM t WHERE len(l) >= {_Q139_K}
),
keys AS (
  SELECT g FROM gr GROUP BY g
  HAVING count(*) BETWEEN {_Q139_DF_LO} AND {_Q139_DF_HI}
),
cand AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id,
         CAST(count(*) AS BIGINT) AS n_shared_keys
  FROM gr a JOIN keys USING (g) JOIN gr b USING (g)
  WHERE a.lang = 'en' AND b.lang <> 'en'
  GROUP BY 1, 2
),
s AS (
  SELECT doc_id, list_distinct({_words_sql()}) AS s FROM documents
)
SELECT c.left_id, c.right_id, c.n_shared_keys,
       CAST(ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  * 1000000.0
                  / len(list_distinct(list_concat(sa.s, sb.s))))
            AS BIGINT) AS jaccard_u
FROM cand c
JOIN s sa ON sa.doc_id = c.left_id
JOIN s sb ON sb.doc_id = c.right_id
"""


@register("q139_bitext_candidates", oracle=_Q139_ORACLE)
def q139_bitext_candidates(spark, sf_dir):
    def _build_grams():
        docs = load(spark, sf_dir, "documents")
        t = docs.select("doc_id", "lang", _words().alias("l")).filter(
            F.size("l") >= _Q139_K
        )
        gram = _kgrams(F.col("l"), _Q139_K, "|")
        return t.select(
            "doc_id", "lang", F.explode(F.array_distinct(gram)).alias("g")
        )

    # three subtrees consume the shingle table (df filter, en side, xx
    # side) — materialize it once per (session, input)
    gr = checkpoint_memo(spark, sf_dir, "q139_grams", _build_grams)
    keys = (
        gr.groupBy("g")
        .count()
        .filter(F.col("count").between(_Q139_DF_LO, _Q139_DF_HI))
        .select("g")
    )
    en = gr.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("left_id"), "g"
    )
    xx = gr.filter(F.col("lang") != "en").select(
        F.col("doc_id").alias("right_id"), "g"
    )
    cand = (
        en.join(keys, "g")
        .join(xx, "g")
        .groupBy("left_id", "right_id")
        .agg(F.count("*").cast("long").alias("n_shared_keys"))
    )
    sets = load(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(_words()).alias("s")
    )
    sa = sets.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    jac = F.round(
        inter.cast("double") * F.lit(1000000.0) / union
    ).cast("long")
    return (
        cand.join(sa, cand["left_id"] == sa["a_id"])
        .join(sb, cand["right_id"] == sb["b_id"])
        .select(
            "left_id", "right_id", "n_shared_keys", jac.alias("jaccard_u")
        )
    )


_Q154_W_BUCKETS = 4   # boundary iff md5_bucket(window) == 0 -> p = 1/4


_Q154_FIX_B = 8       # fixed-block comparison grain (tokens)


_Q154_SHIFT_TOK = "zq"  # deterministic prepended header token


# window = lag2 || ' ' || lag1 || ' ' || token with '' for missing lags
# (head-of-doc windows are partial on purpose: CDC re-syncs once w full
# tokens of context are shared again, which is the property under test)
_Q154_ORACLE = f"""
WITH var AS (
  SELECT doc_id, 'orig' AS variant, text AS t FROM documents
  UNION ALL
  SELECT doc_id, 'shift' AS variant, '{_Q154_SHIFT_TOK} ' || text FROM documents
), tok AS (
  SELECT doc_id, variant,
         unnest(string_split(t, ' ')) AS token,
         generate_subscripts(string_split(t, ' '), 1) AS pos
  FROM var
), wn AS (
  SELECT doc_id, variant, pos, token,
         CASE WHEN {md5_bucket_sql(
             "COALESCE(LAG(token, 2) OVER w, '') || ' ' || "
             "COALESCE(LAG(token, 1) OVER w, '') || ' ' || token",
             _Q154_W_BUCKETS)} = 0 THEN 1 ELSE 0 END AS bnd
  FROM tok
  WINDOW w AS (PARTITION BY doc_id, variant ORDER BY pos)
), idxed AS (
  SELECT doc_id, variant, pos, token,
         COALESCE(SUM(bnd) OVER (PARTITION BY doc_id, variant ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cdc_idx,
         (pos - 1) // {_Q154_FIX_B} AS fix_idx
  FROM wn
), grain AS (
  SELECT doc_id, variant, 'cdc' AS method, cdc_idx AS idx, pos, token FROM idxed
  UNION ALL
  SELECT doc_id, variant, 'fix' AS method, fix_idx AS idx, pos, token FROM idxed
), chunks AS (
  SELECT doc_id, variant, method,
         md5(string_agg(token, ' ' ORDER BY pos)) AS h
  FROM grain GROUP BY doc_id, variant, method, idx
), per_h AS (
  SELECT doc_id, method, h,
         CAST(SUM(CASE WHEN variant = 'orig' THEN 1 ELSE 0 END) AS BIGINT) AS co,
         CAST(SUM(CASE WHEN variant = 'shift' THEN 1 ELSE 0 END) AS BIGINT) AS cs
  FROM chunks GROUP BY doc_id, method, h
), per_m AS (
  SELECT doc_id, method,
         CAST(SUM(co) AS BIGINT) AS n_chunks,
         CAST(SUM(LEAST(co, cs)) AS BIGINT) AS shared
  FROM per_h GROUP BY doc_id, method
)
SELECT doc_id,
       CAST(SUM(CASE WHEN method = 'cdc' THEN n_chunks ELSE 0 END) AS BIGINT)
         AS n_cdc,
       CAST(SUM(CASE WHEN method = 'cdc' THEN shared ELSE 0 END) AS BIGINT)
         AS shared_cdc,
       CAST(SUM(CASE WHEN method = 'fix' THEN n_chunks ELSE 0 END) AS BIGINT)
         AS n_fix,
       CAST(SUM(CASE WHEN method = 'fix' THEN shared ELSE 0 END) AS BIGINT)
         AS shared_fix
FROM per_m GROUP BY doc_id
"""


@register("q154_cdc_chunking", oracle=_Q154_ORACLE)
def q154_cdc_chunking(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    var = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("orig").alias("variant"), F.col("text").alias("t")
                ),
                F.struct(
                    F.lit("shift").alias("variant"),
                    F.concat(
                        F.lit(_Q154_SHIFT_TOK + " "), F.col("text")
                    ).alias("t"),
                ),
            )
        ).alias("v"),
    ).select("doc_id", "v.variant", "v.t")
    tok = var.select(
        "doc_id",
        "variant",
        F.posexplode(F.split("t", " ")).alias("p0", "token"),
    ).select(
        "doc_id", "variant", (F.col("p0") + 1).alias("pos"), "token"
    )
    # doc-keyed window: partitions are bounded by doc length, never by
    # content — a hot chunk hash cannot concentrate here
    w = Window.partitionBy("doc_id", "variant").orderBy("pos")
    wnd = F.concat(
        F.coalesce(F.lag("token", 2).over(w), F.lit("")),
        F.lit(" "),
        F.coalesce(F.lag("token", 1).over(w), F.lit("")),
        F.lit(" "),
        F.col("token"),
    )
    bnd = F.when(md5_bucket(wnd, _Q154_W_BUCKETS) == 0, 1).otherwise(0)
    run = F.coalesce(
        F.sum("bnd").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    idxed = (
        tok.withColumn("bnd", bnd)
        .withColumn("cdc_idx", run)
        .withColumn("fix_idx", F.expr(f"(pos - 1) div {_Q154_FIX_B}"))
    )
    grain = idxed.select(
        "doc_id",
        "variant",
        "pos",
        "token",
        F.explode(
            F.array(
                F.struct(
                    F.lit("cdc").alias("method"),
                    F.col("cdc_idx").cast("long").alias("idx"),
                ),
                F.struct(
                    F.lit("fix").alias("method"),
                    F.col("fix_idx").cast("long").alias("idx"),
                ),
            )
        ).alias("m"),
    ).select("doc_id", "variant", "pos", "token", "m.method", "m.idx")
    chunks = grain.groupBy("doc_id", "variant", "method", "idx").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda x: x["token"],
                ),
                " ",
            )
        ).alias("h")
    )
    per_h = chunks.groupBy("doc_id", "method", "h").agg(
        F.sum(F.when(F.col("variant") == "orig", 1).otherwise(0))
        .cast("long")
        .alias("co"),
        F.sum(F.when(F.col("variant") == "shift", 1).otherwise(0))
        .cast("long")
        .alias("cs"),
    )
    per_m = per_h.groupBy("doc_id", "method").agg(
        F.sum("co").cast("long").alias("n_chunks"),
        F.sum(F.least("co", "cs")).cast("long").alias("shared"),
    )
    m_is = lambda v: F.col("method") == v  # noqa: E731
    return per_m.groupBy("doc_id").agg(
        F.sum(F.when(m_is("cdc"), F.col("n_chunks")).otherwise(0))
        .cast("long")
        .alias("n_cdc"),
        F.sum(F.when(m_is("cdc"), F.col("shared")).otherwise(0))
        .cast("long")
        .alias("shared_cdc"),
        F.sum(F.when(m_is("fix"), F.col("n_chunks")).otherwise(0))
        .cast("long")
        .alias("n_fix"),
        F.sum(F.when(m_is("fix"), F.col("shared")).otherwise(0))
        .cast("long")
        .alias("shared_fix"),
    )


_Q159_EVERY = 10


_Q159_ID_OFFSET = 4_000_000


_Q159_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + {_Q159_ID_OFFSET} AS doc_id, 'mirror' AS source, text
  FROM documents WHERE doc_id % {_Q159_EVERY} = 0
),
d AS (
  SELECT doc_id, source, md5(text) AS h,
         CAST(LENGTH(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM corpus
),
cl AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY h),
weighted AS (
  SELECT d.source, d.n_tokens, cl.c,
         CAST(1000000 // cl.c AS BIGINT) AS w_u
  FROM d JOIN cl ON d.h = cl.h
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
       CAST(SUM(n_tokens * w_u) AS BIGINT) AS eff_tokens_u
FROM weighted GROUP BY source
"""


@register("q159_soft_dedup_weights", oracle=_Q159_ORACLE)
def q159_soft_dedup_weights(spark, sf_dir):
    def _build_d():
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        mirror = docs.filter(F.col("doc_id") % _Q159_EVERY == 0).select(
            (F.col("doc_id") + _Q159_ID_OFFSET).alias("doc_id"),
            F.lit("mirror").alias("source"),
            "text",
        )
        return docs.unionByName(mirror).select(
            "doc_id",
            "source",
            F.md5("text").alias("h"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )

    # the hashed corpus feeds BOTH join sides: materialize it once
    # (the q87/q125 memo discipline) instead of re-scanning the parquet
    # union per subtree
    d = checkpoint_memo(spark, sf_dir, "q159_d", _build_d)
    # cluster sizes: a mega-cluster is ONE row here, never a window key
    cl = d.groupBy("h").agg(F.count("*").cast("long").alias("c"))
    weighted = d.join(cl, "h").select(
        "source",
        "n_tokens",
        "c",
        F.expr("1000000 div c").cast("long").alias("w_u"),
    )
    return weighted.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
        F.sum("n_tokens").cast("long").alias("raw_tokens"),
        F.sum(F.col("n_tokens") * F.col("w_u"))
        .cast("long")
        .alias("eff_tokens_u"),
    )


_Q194_MIN_JAC_U = 500_000


def _q194_pass_sql(key_expr: str, block_expr: str, tag: str) -> str:
    """One SNM pass: sort by (block, key, doc_id), LEAD out w-1 pairs."""
    return f"""
    SELECT LEAST(doc_id, nbr) AS left_id, GREATEST(doc_id, nbr) AS right_id
    FROM (
      SELECT doc_id,
             LEAD(doc_id, 1) OVER (PARTITION BY blk ORDER BY k, doc_id) AS n1,
             LEAD(doc_id, 2) OVER (PARTITION BY blk ORDER BY k, doc_id) AS n2
      FROM (SELECT doc_id, {key_expr} AS k, {block_expr} AS blk FROM documents)
    ), LATERAL (SELECT unnest([n1, n2]) AS nbr)
    WHERE nbr IS NOT NULL
    """


_Q194_KEY1 = "SUBSTRING(text, 1, 24)"


_Q194_BLK1 = "SUBSTRING(text, 1, 4)"


_Q194_KEY2 = "REVERSE(SUBSTRING(text, 1, 24))"


_Q194_BLK2 = "SUBSTRING(REVERSE(SUBSTRING(text, 1, 24)), 1, 4)"


_Q194_ORACLE = f"""
WITH cand AS (
  SELECT DISTINCT left_id, right_id FROM (
    {_q194_pass_sql(_Q194_KEY1, _Q194_BLK1, "fwd")}
    UNION ALL
    {_q194_pass_sql(_Q194_KEY2, _Q194_BLK2, "rev")}
  )
),
sets AS (
  SELECT doc_id, list_distinct({_words_sql()}) AS s FROM documents
),
scored AS (
  SELECT c.left_id, c.right_id,
         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
         CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS n_union
  FROM cand c
  JOIN sets a ON a.doc_id = c.left_id
  JOIN sets b ON b.doc_id = c.right_id
)
SELECT left_id, right_id, n_common, n_union,
       CAST((1000000 * n_common) // n_union AS BIGINT) AS jac_u
FROM scored
WHERE (1000000 * n_common) // n_union >= {_Q194_MIN_JAC_U}
"""


def _q194_pass(docs, key_col, blk_col):
    w = Window.partitionBy("blk").orderBy("k", "doc_id")
    keyed = docs.select("doc_id", key_col.alias("k"), blk_col.alias("blk"))
    led = keyed.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("n1"),
        F.lead("doc_id", 2).over(w).alias("n2"),
    )
    pairs = led.select(
        "doc_id", F.explode(F.array("n1", "n2")).alias("nbr")
    ).filter(F.col("nbr").isNotNull())
    return pairs.select(
        F.least("doc_id", "nbr").alias("left_id"),
        F.greatest("doc_id", "nbr").alias("right_id"),
    )


@register("q194_sorted_neighborhood", oracle=_Q194_ORACLE)
def q194_sorted_neighborhood(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    p1 = _q194_pass(
        docs, F.substring("text", 1, 24), F.substring("text", 1, 4)
    )
    p2 = _q194_pass(
        docs,
        F.reverse(F.substring("text", 1, 24)),
        F.substring(F.reverse(F.substring("text", 1, 24)), 1, 4),
    )
    cand = p1.unionByName(p2).distinct()
    sets = docs.select("doc_id", F.array_distinct(_words()).alias("s"))
    a = sets.select(F.col("doc_id").alias("left_id"), F.col("s").alias("sa"))
    b = sets.select(F.col("doc_id").alias("right_id"), F.col("s").alias("sb"))
    scored = (
        cand.join(a, "left_id")
        .join(b, "right_id")
        .select(
            "left_id",
            "right_id",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_common"),
            F.size(F.array_distinct(F.concat("sa", "sb"))).cast("long").alias("n_union"),
        )
    )
    jac = F.expr("(1000000 * n_common) div n_union")
    return scored.select(
        "left_id", "right_id", "n_common", "n_union", jac.cast("long").alias("jac_u")
    ).filter(F.col("jac_u") >= _Q194_MIN_JAC_U)
