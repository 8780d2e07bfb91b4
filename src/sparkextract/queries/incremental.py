"""Resume, change-data-capture and streaming queries over the extraction
path (S9/J2/§2.9): manifest crash+resume state, incremental
re-extraction of a snapshot diff, the two-drain streaming ingest, the
composed corpus-refresh pipeline with its stages (snapshot diff, token
drift, incremental IVF maintenance), the applyInPandasWithState event
dedup and a Merkle-style snapshot diff.

q172 — MERKLE-STYLE HIERARCHICAL SNAPSHOT DIFF. snapshot_diff compares
snapshots with a doc-grain join; a lake-wide refresh audit should not
touch the 99% of partitions that did not change. Two-level scheme:
leaf bucket = md5_bucket(doc_id, 64), bucket digest = (bit_xor of a
60-bit doc content hash, count) — XOR is commutative/associative and
overflow-free, so the digest is ONE map-side-combinable agg per side.
Level 1 compares 64 digest rows; level 2 does the doc-grain
added/changed/removed classification ONLY inside dirty buckets (a
broadcast semi-join on the <= 64-row dirty list). The synthetic old
snapshot keys its changes on the SAME leaf function (leaves 0-3
modified, 4-5 added since) — the deterministic analog of "one ingest
partition changed", which is the locality a Merkle scheme exploits.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sparkextract.queries.ann import (
    _EMB_DOUBLE_SQL,
    _emb_double,
    _nearest_cell,
    _nearest_cell_sql,
)
from sparkextract.queries.base import (
    _session_root,  # noqa: F401  (the q95/q108/q145 root, importable here)
    checkpoint_memo,
    load,
    md5_bucket,
    md5_bucket_sql,
    register,
    run_once,
)
from sparkextract.queries.extraction import _PASSTHROUGH_SQL, _SPAN_COUNT_SQL
from sparkextract.queries.text import _words, _words_sql
from sparkextract.spark.session import REAP_AGE_S as _ROOT_REAP_AGE_S  # noqa: F401  (its reap age, likewise)


# --------------------------------------------------------------------------
# q95: MANIFEST STATE AFTER CRASH + RESUME — the S9/A9 checkpoint tier
# made driver-visible: a manifest-committed extraction run is killed
# after committing 4 of 8 buckets (fail_after_buckets — data written,
# manifest rows absent), a second run resumes via the J2 manifest
# probe and commits the rest, and the query returns the winning
# manifest rollup per bucket. Reference analog: the SHA-256
# skip-if-ingested resume probe (reference src/rag/
# rag_pipeline.py:97-105) generalized to per-bucket lineage.
# The bucket function is the engine-portable md5 bucket (bucket_col
# override) so the DuckDB oracle reproduces the assignment exactly;
# span counts are SQL-derivable because the interleaved corpus has the
# q40 passthrough property (extraction._SPAN_COUNT_SQL).
# Scale shape: the manifest is <= num_buckets rows per run and is read
# on the driver; the only corpus-sized work is the extraction write
# itself, once per bucket across ALL runs combined (that is the point
# of the resume).
_Q95_BUCKETS = 8


_Q95_FAIL_AFTER = 4


_Q95_ORACLE = f"""
WITH b AS (
  SELECT {md5_bucket_sql("doc_id", _Q95_BUCKETS)} AS doc_id_bucket,
         n_chars, doc_id
  FROM documents
)
SELECT CAST(doc_id_bucket AS INT) AS doc_id_bucket,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM({_SPAN_COUNT_SQL}) AS BIGINT) AS span_count,
       CAST(0 AS BIGINT) AS table_count,
       'done' AS status,
       CAST(CASE WHEN doc_id_bucket < {_Q95_FAIL_AFTER} THEN 1 ELSE 2 END AS INT)
         AS run_seq
FROM b
GROUP BY doc_id_bucket
"""


@register("q95_manifest_resume_state", oracle=_Q95_ORACLE)
def q95_manifest_resume_state(spark, sf_dir):
    from sparkextract.queries.extraction import interleaved_docs
    from sparkextract.spark.manifest import read_manifest, run_extraction_job

    def crash_and_resume(root):
        docs = interleaved_docs(spark, sf_dir)
        bucket = md5_bucket(F.col("doc_id"), _Q95_BUCKETS)
        run_extraction_job(
            spark, docs, root, run_id="r1", num_buckets=_Q95_BUCKETS,
            fail_after_buckets=_Q95_FAIL_AFTER, bucket_col=bucket,
        )
        run_extraction_job(
            spark, docs, root, run_id="r2", num_buckets=_Q95_BUCKETS,
            bucket_col=bucket,
        )

    # one crash+resume simulation per (session, input)
    root = run_once(spark, sf_dir, "q95", crash_and_resume)
    m = read_manifest(spark, root).filter(F.col("status") == "done")
    return m.select(
        "doc_id_bucket",
        "doc_count",
        "span_count",
        "table_count",
        "status",
        F.when(F.col("job_run_id") == "r1", 1).otherwise(2).cast("int").alias(
            "run_seq"
        ),
    )


# --------------------------------------------------------------------------
# snapshot_diff (a q117 stage): SNAPSHOT DIFF (CDC) — the
# incremental-ingest primitive of a
# lakehouse corpus: given the previous snapshot and the current one,
# classify every doc as added / changed / unchanged by content hash and
# emit the change manifest the downstream pipeline consumes (only
# added+changed re-enter extraction — the q95 resume idea at content
# grain). The previous snapshot is simulated deterministically: docs in
# md5 bucket 0 are missing from it (-> added), docs in bucket 1 carried
# a different text (-> changed). Reference analog: the SHA-256
# skip-if-ingested probe (reference src/rag/rag_pipeline.py:97-105)
# upgraded from skip/no-skip to a three-way diff.
# Scale shape: ONE equi-join on doc_id between two corpus-sized sides —
# co-partitioned keyed shuffle (or zero shuffle when both snapshots are
# bucketed by doc_id in the lake); the hash compare is map-side.
_SNAPSHOT_BUCKETS = 10


_SNAPSHOT_OLD = f"""
  SELECT doc_id,
         CASE WHEN {md5_bucket_sql("doc_id", _SNAPSHOT_BUCKETS)} = 1
              THEN 'stale ' || text ELSE text END AS text
  FROM documents
  WHERE {md5_bucket_sql("doc_id", _SNAPSHOT_BUCKETS)} <> 0
"""


_SNAPSHOT_DIFF_ORACLE = f"""
WITH old AS (
  {_SNAPSHOT_OLD}
)
SELECT n.doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN md5(o.text) <> md5(n.text) THEN 'changed'
            ELSE 'unchanged' END AS status,
       md5(n.text) AS content_md5,
       (o.doc_id IS NULL OR md5(o.text) <> md5(n.text)) AS needs_extraction
FROM documents n LEFT JOIN old o ON o.doc_id = n.doc_id
"""


def snapshot_diff(spark, sf_dir):
    new = load(spark, sf_dir, "documents").select("doc_id", "text")
    b = md5_bucket(F.col("doc_id"), _SNAPSHOT_BUCKETS)
    old = (
        new.filter(b != 0)
        .select(
            "doc_id",
            F.when(b == 1, F.concat(F.lit("stale "), F.col("text")))
            .otherwise(F.col("text"))
            .alias("old_text"),
        )
    )
    j = new.join(old, "doc_id", "left")
    changed = F.col("old_text").isNotNull() & (
        F.md5("old_text") != F.md5("text")
    )
    status = (
        F.when(F.col("old_text").isNull(), F.lit("added"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "doc_id",
        status.alias("status"),
        F.md5("text").alias("content_md5"),
        (F.col("old_text").isNull() | changed).alias("needs_extraction"),
    )


# --------------------------------------------------------------------------
# q106: INCREMENTAL EXTRACTION (CDC -> EXTRACT) — the composition the
# snapshot diff exists for: ONLY docs the snapshot diff marks
# needs_extraction (added + changed) re-enter the real extraction
# pipeline; unchanged docs never leave the lake. Mirrors q94's
# composition proof for the incremental path, and the reference's
# skip-if-ingested resume (reference src/rag/rag_pipeline.py:
# 97-105) at content grain. Span counts are SQL-derivable from the
# passthrough property of the interleaved wrap (extraction._SPAN_COUNT_SQL).
# Scale shape: the diff is map-only; the extraction runs over
# the needs_extraction SUBSET only; the status join is one keyed
# equi-join on doc_id. Nothing touches the unchanged majority.
_Q106_ORACLE = f"""
WITH status AS (
  SELECT doc_id,
         CASE WHEN {md5_bucket_sql("doc_id", _SNAPSHOT_BUCKETS)} = 0 THEN 'added'
              ELSE 'changed' END AS status,
         n_chars
  FROM documents
  WHERE {md5_bucket_sql("doc_id", _SNAPSHOT_BUCKETS)} IN (0, 1)
)
SELECT doc_id, status,
       CAST({_SPAN_COUNT_SQL} AS BIGINT) AS span_count
FROM status
"""


@register("q106_incremental_extraction", oracle=_Q106_ORACLE)
def q106_incremental_extraction(spark, sf_dir):
    from sparkextract.queries.extraction import wrap_docs
    from sparkextract.spark.job import extract_exploded

    diff = snapshot_diff(spark, sf_dir)
    todo = diff.filter("needs_extraction").select("doc_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ext_in = docs.join(todo, "doc_id")
    spans = extract_exploded(wrap_docs(ext_in))
    counts = spans.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.count("*").alias("span_count")
    )
    # left join from the todo list: a doc whose extraction yields ZERO
    # spans (short text, no media) still belongs in the change manifest.
    # status is functionally dependent on doc_id (the snapshot bucket rule),
    # so it is re-derived map-side here instead of joining the diff a
    # second time — one fewer pass over both snapshot subtrees.
    status = F.when(
        md5_bucket(F.col("doc_id"), _SNAPSHOT_BUCKETS) == 0, F.lit("added")
    ).otherwise(F.lit("changed"))
    return todo.join(counts, "doc_id", "left").select(
        "doc_id",
        status.alias("status"),
        F.coalesce("span_count", F.lit(0)).cast("long").alias("span_count"),
    )


# --------------------------------------------------------------------------
# q108: STREAMING INCREMENTAL EXTRACTION, DRIVER-CHECKED — two
# Trigger.AvailableNow drains over a growing file source (first the even
# half of the interleaved corpus, then the odd half lands and only IT is
# processed — the checkpoint, not a manifest, carries the resume state),
# then the exactly-once committed output is read back through the sink's
# _spark_metadata log and compared full-row against q40's expectation
# (extraction._PASSTHROUGH_SQL).
# Reference analog: idempotent re-ingest (reference src/rag/
# rag_pipeline.py:97-105) as a *continuous arrival* pipeline instead of
# a rerun loop.
# Scale shape: the drain is the batch extraction map (zero shuffles after
# the scan); each incremental run touches only newly-arrived files, so
# steady-state cost tracks the arrival rate, never the corpus size.
@register("q108_streaming_incremental", oracle=_PASSTHROUGH_SQL)
def q108_streaming_incremental(spark, sf_dir):
    from sparkextract.queries.extraction import interleaved_docs
    from sparkextract.streaming.incremental import incremental_extract

    def two_drains(root):
        inp, outp, ckpt = (os.path.join(root, d) for d in ("in", "out", "ckpt"))
        docs = interleaved_docs(spark, sf_dir)
        even = F.col("doc_id").cast("long") % 2 == 0
        docs.filter(even).write.parquet(inp)
        incremental_extract(spark, inp, outp, ckpt).awaitTermination()
        docs.filter(~even).write.mode("append").parquet(inp)
        incremental_extract(spark, inp, outp, ckpt).awaitTermination()

    # one two-drain simulation per (session, input)
    outp = os.path.join(run_once(spark, sf_dir, "q108", two_drains), "out")
    # batch read honors the sink's _spark_metadata commit log: only
    # exactly-once-committed files are visible
    return spark.read.parquet(outp).select(
        "doc_id", "kind", "text", "media_ref", "offset"
    )


# --------------------------------------------------------------------------
# snapshot_token_drift (a q117 stage): SNAPSHOT TOKEN-DISTRIBUTION
# DRIFT — the corpus-refresh QA step that runs right after the CDC diff: how far did the refreshed
# corpus's token distribution move from the previous snapshot's?
# Smoothed Jensen-Shannon divergence over token types (add-one over the
# union vocabulary, so no zero-probability ln), reporting the total JSD
# plus the top drift-contributing tokens. The previous snapshot is
# snapshot_diff's deterministic rule (md5 bucket 0 of doc_id missing, bucket 1
# text prefixed 'stale ') so the two ops compose into one monitoring
# pipeline.
#
# Numeric discipline: shares p/q are single
# divisions of exact integer-valued doubles (IEEE-identical in both
# engines); each token's JS contribution is ROUND(...,9)-frozen as
# DECIMAL(18,9) so the corpus-total JSD is an EXACT decimal sum —
# engine- and partition-order-independent — and ordering under the
# LIMIT is by the rounded magnitude with a token tie-break.
# Scale shape: two mergeable token-grain counts, ONE full-outer
# equi-join on the token key (co-partitioned), the 1-row totals frame
# broadcast back, top-k via TakeOrderedAndProject; the joined
# token-grain table is memoized because the totals and the scoring
# pass both read it. Nothing is keyed on a skewable value (token keys
# carry counts, not rows).
_DRIFT_TOPK = 25


_DRIFT_OLD = """
  SELECT doc_id,
         CASE WHEN CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS UBIGINT) % 10 = 1
              THEN 'stale ' || text ELSE text END AS text
  FROM documents
  WHERE CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS UBIGINT) % 10 <> 0
"""


_DRIFT_ORACLE = f"""
WITH old_toks AS (SELECT unnest({_words_sql()}) AS t FROM ({_DRIFT_OLD})),
new_toks AS (SELECT unnest({_words_sql()}) AS t FROM documents),
co_ AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS co FROM old_toks GROUP BY t),
cn_ AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cn FROM new_toks GROUP BY t),
u AS (
  SELECT COALESCE(co_.t, cn_.t) AS token,
         COALESCE(co, 0) AS co, COALESCE(cn, 0) AS cn
  FROM co_ FULL OUTER JOIN cn_ ON co_.t = cn_.t
),
tot AS (
  SELECT CAST(SUM(co) AS BIGINT) AS tot_o, CAST(SUM(cn) AS BIGINT) AS tot_n,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM u
),
pq AS (
  SELECT token, co, cn,
         CAST(co + 1 AS DOUBLE) / CAST(tot.tot_o + tot.v AS DOUBLE) AS p,
         CAST(cn + 1 AS DOUBLE) / CAST(tot.tot_n + tot.v AS DOUBLE) AS q
  FROM u CROSS JOIN tot
),
scored AS (
  SELECT token, co, cn,
         ROUND(q - p, 9) AS delta_share,
         CAST(ROUND(0.5 * (p * ln(p / ((p + q) / 2)) + q * ln(q / ((p + q) / 2))), 9)
              AS DECIMAL(18,9)) AS contrib
  FROM pq
),
total AS (SELECT CAST(SUM(contrib) AS DOUBLE) AS jsd_total FROM scored)
SELECT s.token, s.co AS c_old, s.cn AS c_new, s.delta_share,
       CAST(s.contrib AS DOUBLE) AS js_contrib, total.jsd_total
FROM scored s CROSS JOIN total
ORDER BY ROUND(ABS(s.delta_share), 9) DESC, s.token
LIMIT {_DRIFT_TOPK}
"""


def snapshot_token_drift(spark, sf_dir):
    from sparkextract.queries.base import checkpoint_memo, md5_bucket

    def build():
        new = load(spark, sf_dir, "documents").select("doc_id", "text")
        b = md5_bucket(F.col("doc_id"), 10)
        old = new.filter(b != 0).select(
            F.when(b == 1, F.concat(F.lit("stale "), F.col("text")))
            .otherwise(F.col("text"))
            .alias("text")
        )

        def counts(df, name):
            return (
                df.select(F.explode(_words()).alias("t"))
                .groupBy("t")
                .agg(F.count("*").alias(name))
            )

        return (
            counts(old, "co")
            .join(counts(new, "cn"), "t", "full_outer")
            .select(
                F.col("t").alias("token"),
                F.coalesce("co", F.lit(0)).alias("co"),
                F.coalesce("cn", F.lit(0)).alias("cn"),
            )
        )

    u = checkpoint_memo(spark, sf_dir, "q114_union_counts", build)
    tot = u.agg(
        F.sum("co").alias("tot_o"),
        F.sum("cn").alias("tot_n"),
        F.count("*").alias("v"),
    )
    p = (F.col("co") + 1).cast("double") / (F.col("tot_o") + F.col("v")).cast(
        "double"
    )
    q = (F.col("cn") + 1).cast("double") / (F.col("tot_n") + F.col("v")).cast(
        "double"
    )
    m = (p + q) / F.lit(2.0)
    contrib = F.round(
        F.lit(0.5) * (p * F.log(p / m) + q * F.log(q / m)), 9
    ).cast("decimal(18,9)")
    scored = u.crossJoin(F.broadcast(tot)).select(
        "token",
        "co",
        "cn",
        F.round(q - p, 9).alias("delta_share"),
        contrib.alias("contrib"),
    )
    total = scored.agg(F.sum("contrib").cast("double").alias("jsd_total"))
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.col("co").alias("c_old"),
            F.col("cn").alias("c_new"),
            "delta_share",
            F.col("contrib").cast("double").alias("js_contrib"),
            "jsd_total",
        )
        .orderBy(F.round(F.abs(F.col("delta_share")), 9).desc(), "token")
        .limit(_DRIFT_TOPK)
    )


# --------------------------------------------------------------------------
# incremental_ivf (a q117 stage): INCREMENTAL IVF INDEX MAINTENANCE —
# the vector-index side of the CDC story: after a corpus refresh, ONLY the added/changed vectors
# re-enter nearest-centroid assignment (broadcast centroids + the q110
# map-side-combinable max_by argmax, never a window); the unchanged
# majority keeps its existing index cell (NULL here = untouched entry).
# At 100 TB the index is never rebuilt — assignment cost tracks the CDC
# delta (~20% under this deterministic rule: md5 bucket 0 of vec_id =
# added, bucket 1 = changed), and the status pass is map-only.
# Composes with snapshot_diff (same snapshot rule) and q46 (same IVF
# cells).
def _incremental_ivf_oracle() -> str:
    b = f"CAST({md5_bucket_sql('vec_id', 10)} AS BIGINT)"
    return f"""
    WITH st AS (
      SELECT vec_id, {_EMB_DOUBLE_SQL} AS e,
             CASE WHEN {b} = 0 THEN 'added'
                  WHEN {b} = 1 THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM embeddings
    ),
    assign AS ({_nearest_cell_sql("(SELECT * FROM st WHERE status <> 'unchanged')")})
    SELECT s.vec_id, s.status,
           (s.status <> 'unchanged') AS needs_index,
           a.cell
    FROM st s LEFT JOIN assign a ON a.vec_id = s.vec_id
    """


def incremental_ivf(spark, sf_dir):
    b = md5_bucket(F.col("vec_id"), 10)
    st = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        _emb_double().alias("e"),
        F.when(b == 0, F.lit("added"))
        .when(b == 1, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    assign = _nearest_cell(spark, sf_dir, st.filter(F.col("status") != "unchanged"))
    return st.join(assign, "vec_id", "left").select(
        "vec_id",
        "status",
        (F.col("status") != "unchanged").alias("needs_index"),
        "cell",
    )


def _q117_oracle() -> str:

    return f"""
    SELECT 'diff' AS stage, status AS probe,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS metric
    FROM ({_SNAPSHOT_DIFF_ORACLE}) GROUP BY status
    UNION ALL
    SELECT 'extract', 'spans_reextracted',
           CAST(SUM(span_count) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM ({_Q106_ORACLE})
    UNION ALL
    SELECT 'drift', 'jsd_total',
           CAST(COUNT(*) AS BIGINT), MAX(jsd_total)
    FROM ({_DRIFT_ORACLE})
    UNION ALL
    SELECT 'index', 'reassigned',
           CAST(SUM(CASE WHEN needs_index THEN 1 ELSE 0 END) AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM ({_incremental_ivf_oracle()})
    """


@register("q117_corpus_refresh_pipeline", oracle=_q117_oracle())
def q117_corpus_refresh_pipeline(spark, sf_dir):

    null_metric = F.lit(None).cast("double")
    diff = (
        snapshot_diff(spark, sf_dir)
        .groupBy("status")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("diff").alias("stage"),
            F.col("status").alias("probe"),
            F.col("n").cast("long").alias("n"),
            null_metric.alias("metric"),
        )
    )
    extract = q106_incremental_extraction(spark, sf_dir).agg(
        F.lit("extract").alias("stage"),
        F.lit("spans_reextracted").alias("probe"),
        F.sum("span_count").cast("long").alias("n"),
        null_metric.alias("metric"),
    )
    drift = snapshot_token_drift(spark, sf_dir).agg(
        F.lit("drift").alias("stage"),
        F.lit("jsd_total").alias("probe"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("jsd_total").alias("metric"),
    )
    index = incremental_ivf(spark, sf_dir).agg(
        F.lit("index").alias("stage"),
        F.lit("reassigned").alias("probe"),
        F.sum(F.col("needs_index").cast("long")).cast("long").alias("n"),
        null_metric.alias("metric"),
    )
    return diff.unionByName(extract).unionByName(drift).unionByName(index)


# --------------------------------------------------------------------------
# q145: STATEFUL STREAMING DEDUP, DRIVER-CHECKED — the last streaming
# shape (applyInPandasWithState first-writer-wins dedup,
# streaming/stateful.py) promoted from pytest-only to a driver
# CORRECTNESS row, the q108 harness pattern: drain 1 delivers the base
# corpus (every content hash's first arrival -> emitted, numeric-min
# keeper within the batch); drain 2 delivers exact clones
# (doc_id % 5 -> +1M, same text) whose hashes are already in state ->
# suppressed, nothing re-emitted. The committed sink after both drains
# is therefore exactly "one row per content hash, keeper = numeric-min
# doc_id over base UNION clones" (clone ids exceed base ids), which is
# the SQL-expressible oracle. The checkpoint, not a manifest, carries
# the dedup state across drains — restart durability is what the
# pytest covers; this query pins the emitted VALUES.
# Scale shape: the only shuffle is the content-hash groupBy (the same
# key layout as batch q11); state is one tiny row per distinct hash,
# sharded by that key exactly as a 1000-executor cluster would.
_Q145_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 5 = 0
)
SELECT md5(text) AS content_hash,
       CAST(MIN(doc_id) AS VARCHAR) AS doc_id,
       CAST(MIN(LENGTH(text)) AS INT) AS first_len
FROM corpus
GROUP BY md5(text)
"""


@register("q145_streaming_stateful_dedup", oracle=_Q145_ORACLE)
def q145_streaming_stateful_dedup(spark, sf_dir):
    from sparkextract.spark.session import ensure_workers_can_import
    from sparkextract.streaming.stateful import streaming_dedup

    def two_drains(root):
        inp, outp, ckpt = (os.path.join(root, d) for d in ("in", "out", "ckpt"))

        def drain():
            stream = spark.readStream.schema("doc_id long, text string").parquet(
                inp
            )
            q = (
                streaming_dedup(stream)
                .writeStream.format("parquet")
                .option("path", outp)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        ensure_workers_can_import(spark)
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        docs.write.parquet(inp)
        drain()
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        ).write.mode("append").parquet(inp)
        drain()

    outp = os.path.join(run_once(spark, sf_dir, "q145", two_drains), "out")
    return spark.read.parquet(outp).select(
        "content_hash", "doc_id", "first_len"
    )


# --------------------------------------------------------------------------
_Q172_LEAVES = 64


_Q172_CHANGED_LEAVES = 4  # leaves 0-3: old text differs ('v0 ' prefix)


_Q172_ADDED_LEAVES = (4, 5)  # leaves 4-5: docs absent from old snapshot


_Q172_LEAF_SQL = md5_bucket_sql("doc_id", _Q172_LEAVES)


_Q172_H_SQL = (
    "CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))"
    " AS BIGINT)"
)


_Q172_ORACLE = f"""
WITH new_docs AS (
  SELECT doc_id, text, {_Q172_LEAF_SQL} AS leaf FROM documents
),
old_docs AS (
  SELECT doc_id,
         CASE WHEN leaf < {_Q172_CHANGED_LEAVES} THEN 'v0 ' || text
              ELSE text END AS text,
         leaf
  FROM new_docs
  WHERE leaf NOT IN {_Q172_ADDED_LEAVES}
),
nd AS (
  SELECT leaf, bit_xor({_Q172_H_SQL}) AS xh, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM new_docs GROUP BY leaf
),
od AS (
  SELECT leaf, bit_xor({_Q172_H_SQL}) AS xh, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM old_docs GROUP BY leaf
),
level1 AS (
  SELECT COALESCE(n.leaf, o.leaf) AS leaf,
         COALESCE(o.cnt, 0) AS old_count, COALESCE(n.cnt, 0) AS new_count,
         (o.leaf IS NOT NULL AND n.leaf IS NOT NULL
          AND o.xh = n.xh AND o.cnt = n.cnt) AS clean
  FROM nd n FULL OUTER JOIN od o ON o.leaf = n.leaf
),
detail AS (
  SELECT COALESCE(n.leaf, o.leaf) AS leaf,
         CAST(SUM(CASE WHEN o.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_added,
         CAST(SUM(CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
                        AND o.text <> n.text THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changed,
         CAST(SUM(CASE WHEN n.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
  FROM (SELECT * FROM new_docs
        WHERE leaf IN (SELECT leaf FROM level1 WHERE NOT clean)) n
  FULL OUTER JOIN
       (SELECT * FROM old_docs
        WHERE leaf IN (SELECT leaf FROM level1 WHERE NOT clean)) o
    ON o.doc_id = n.doc_id
  GROUP BY COALESCE(n.leaf, o.leaf)
)
SELECT CAST(l.leaf AS INT) AS leaf, l.old_count, l.new_count, l.clean,
       COALESCE(d.n_added, 0) AS n_added,
       COALESCE(d.n_changed, 0) AS n_changed,
       COALESCE(d.n_removed, 0) AS n_removed
FROM level1 l LEFT JOIN detail d ON d.leaf = l.leaf
"""


@register("q172_merkle_snapshot_diff", oracle=_Q172_ORACLE)
def q172_merkle_snapshot_diff(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    leaf = md5_bucket(F.col("doc_id"), _Q172_LEAVES)
    new_docs = docs.select("doc_id", "text", leaf.alias("leaf"))
    old_docs = new_docs.where(
        ~F.col("leaf").isin(*_Q172_ADDED_LEAVES)
    ).select(
        "doc_id",
        F.when(
            F.col("leaf") < _Q172_CHANGED_LEAVES,
            F.concat(F.lit("v0 "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "leaf",
    )
    h = F.expr(
        "conv(substring(md5(concat(cast(doc_id as string), '|', text)), 1, 15),"
        " 16, 10)"
    ).cast("long")

    def digest(df):
        return df.select("leaf", h.alias("h")).groupBy("leaf").agg(
            F.expr("bit_xor(h)").alias("xh"),
            F.count("*").cast("long").alias("cnt"),
        )

    nd = digest(new_docs).alias("n")
    od = digest(old_docs).alias("o")
    level1 = nd.join(od, F.col("n.leaf") == F.col("o.leaf"), "full_outer").select(
        F.coalesce("n.leaf", "o.leaf").alias("leaf"),
        F.coalesce("o.cnt", F.lit(0)).cast("long").alias("old_count"),
        F.coalesce("n.cnt", F.lit(0)).cast("long").alias("new_count"),
        (
            F.col("n.leaf").isNotNull()
            & F.col("o.leaf").isNotNull()
            & (F.col("n.xh") == F.col("o.xh"))
            & (F.col("n.cnt") == F.col("o.cnt"))
        ).alias("clean"),
    )
    # doc-grain classification ONLY inside dirty leaves: the dirty list is
    # <= 64 rows, so both restrictions are broadcast semi-joins
    dirty = level1.where(~F.col("clean")).select("leaf")
    n_dirty = new_docs.join(F.broadcast(dirty), "leaf", "semi").alias("nn")
    o_dirty = old_docs.join(F.broadcast(dirty), "leaf", "semi").alias("oo")
    detail = (
        n_dirty.join(
            o_dirty, F.col("nn.doc_id") == F.col("oo.doc_id"), "full_outer"
        )
        .groupBy(F.coalesce("nn.leaf", "oo.leaf").alias("leaf"))
        .agg(
            F.sum(F.when(F.col("oo.doc_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_added"),
            F.sum(
                F.when(
                    F.col("oo.doc_id").isNotNull()
                    & F.col("nn.doc_id").isNotNull()
                    & (F.col("oo.text") != F.col("nn.text")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_changed"),
            F.sum(F.when(F.col("nn.doc_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
        )
    )
    return level1.join(detail, "leaf", "left").select(
        F.col("leaf").cast("int").alias("leaf"),
        "old_count",
        "new_count",
        "clean",
        F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
        F.coalesce("n_changed", F.lit(0)).cast("long").alias("n_changed"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
    )
