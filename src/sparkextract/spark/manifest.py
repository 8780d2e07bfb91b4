"""Checkpoint manifest: per-bucket lineage + metrics, idempotent resume.

Emulates Iceberg snapshot-commit semantics on plain parquet (no Iceberg
jars in the sandbox — SURVEY.md §7.4.3): output data lands under
``data/epoch=<run_id>/bucket=<k>/`` and becomes *visible* only when a
manifest row ``(job_run_id, doc_id_bucket, status='done', metrics...)``
is appended. Readers semi-join data against the manifest, keeping one
epoch per bucket, so a run that dies after writing data but before
committing its manifest rows leaves invisible files, and the rerun
reprocesses those buckets exactly once (FIXTURES.md F3 resume test).

A run is one extract+write job plus one small aggregate: the write's
observation carries the per-bucket span/table counts, and the manifest
rows are built on the driver, never by re-running the input plan.

The resume probe is the reference's SHA-256 skip-if-ingested check
(/root/reference/src/rag/rag_pipeline.py:97-105) generalized from
per-document to per-bucket: a left-anti join against completed buckets
(J2, SURVEY.md §2.3).

On a real cluster the same API is backed by an Iceberg manifest table
(``df.writeTo(...).append()`` is atomic per snapshot); the bucket math
``pmod(xxhash64(doc_id), N)`` is identical.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sparkextract import config
from sparkextract.schema import MANIFEST_SCHEMA
from sparkextract.spark.job import extract_exploded


def bucket_expr(num_buckets: int = config.MANIFEST_NUM_BUCKETS):
    return F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "manifest")


def _data_dir(root: str) -> str:
    return os.path.join(root, "data")


def read_manifest(spark: SparkSession, root: str) -> DataFrame:
    mdir = _manifest_dir(root)
    if not os.path.isdir(mdir) or not any(
        f.endswith(".parquet") for f in os.listdir(mdir)
    ):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(mdir)


def done_buckets(spark: SparkSession, root: str) -> DataFrame:
    """One row per completed bucket; earliest commit wins (idempotency
    under concurrent/duplicated runs)."""
    m = read_manifest(spark, root).filter(F.col("status") == "done")
    return m.groupBy("doc_id_bucket").agg(
        F.min_by("job_run_id", "committed_at").alias("job_run_id")
    )


def filter_todo(
    docs: DataFrame,
    spark: SparkSession,
    root: str,
    num_buckets: int = config.MANIFEST_NUM_BUCKETS,
    bucket_col=None,
) -> DataFrame:
    """J2: drop documents whose bucket is already committed. The done-
    bucket set is tiny (<= num_buckets rows) → broadcast anti-join, no
    shuffle of the big side.

    ``bucket_col`` overrides the default xxhash64 bucket expression
    (q95 passes the engine-portable md5 bucket so the DuckDB oracle can
    reproduce the assignment; a real deployment keeps xxhash64)."""
    done = done_buckets(spark, root).select("doc_id_bucket")
    bucket = bucket_expr(num_buckets) if bucket_col is None else bucket_col.cast("int")
    return (
        docs.withColumn("doc_id_bucket", bucket)
        .join(F.broadcast(done), "doc_id_bucket", "left_anti")
    )


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    run_id: str | None = None,
    num_buckets: int = config.MANIFEST_NUM_BUCKETS,
    skew_threshold: int = config.MEGA_DOC_SPAN_THRESHOLD,
    fail_after_buckets: int | None = None,
    bucket_col=None,
) -> dict:
    """One resumable run: anti-join manifest → extract → write → commit.

    ``fail_after_buckets`` simulates a mid-job crash for the resume test:
    only buckets with ``doc_id_bucket < fail_after_buckets`` get manifest
    rows, mimicking a run killed between data write and full commit. The
    rule is deterministic on the bucket ID (not on which buckets happen to
    be non-empty), so an oracle can reproduce the run split exactly even
    if some low bucket were empty at a tiny scale factor.

    Returns run metrics (docs/spans/tables processed, wall seconds).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()

    todo = filter_todo(docs, spark, root, num_buckets, bucket_col=bucket_col)
    exploded = extract_exploded(todo.drop("doc_id_bucket"), skew_threshold=skew_threshold)
    out_bucket = bucket_expr(num_buckets) if bucket_col is None else bucket_col.cast("int")
    exploded = exploded.withColumn("bucket", out_bucket)

    # Per-bucket span/table counts ride along with the WRITE via
    # df.observe(): no re-read of the output and no second pass of the
    # extraction subtree. Grouped aggs aren't expressible in observe(),
    # so each count is a ``histogram_numeric`` over the bucket id, whose
    # cost does not grow with num_buckets. It is exact here: Spark merges
    # histogram bins only while it holds more than ``nb`` distinct values,
    # and a bucket id takes at most num_buckets (``bucket_counts`` checks
    # this against plain counts before anything commits; the double cast
    # keeps a merged bin's fractional centre visible to that check).
    # The CollectMetrics node sits ABOVE the bucket repartition, i.e. in
    # the result/write stage: observed-metric updates from the final
    # stage are deduplicated per successful task, whereas a map-stage
    # observe can double-count under stage retry / speculation on a real
    # cluster (fetch-failure re-execution re-runs map tasks).
    obs = Observation(f"bucket_metrics_{run_id}")
    bucket = F.col("bucket").cast("double")
    is_table = F.col("kind") == config.KIND_TABLE
    nb = F.lit(max(num_buckets, 2))  # histogram_numeric needs nb >= 2
    aggs = [
        F.histogram_numeric(bucket, nb).alias("span_hist"),
        F.count("*").alias("spans"),
        F.histogram_numeric(F.when(is_table, bucket), nb).alias("table_hist"),
        F.count_if(is_table).alias("tables"),
    ]
    observed = exploded.repartition("bucket").observe(obs, *aggs)
    observed.write.partitionBy("bucket").mode("overwrite").parquet(
        os.path.join(_data_dir(root), f"epoch={run_id}")
    )
    metrics = obs.get
    spans = bucket_counts(metrics.get("span_hist"), metrics.get("spans", 0), num_buckets)
    tables = bucket_counts(metrics.get("table_hist"), metrics.get("tables", 0), num_buckets)

    # Per-bucket lineage + metrics rows, built on the driver: the todo
    # side's per-bucket doc counts (<= num_buckets rows) are the one extra
    # job, so buckets whose docs produced no spans still commit.
    doc_counts = todo.groupBy("doc_id_bucket").agg(F.countDistinct("doc_id")).collect()
    wall_ms = int((time.time() - t0) * 1000)
    committed_at = datetime.now(timezone.utc)
    rows = [
        (run_id, k, "done", n, spans.get(k, 0), tables.get(k, 0), wall_ms, committed_at)
        for k, n in sorted(doc_counts)
        if fail_after_buckets is None or k < fail_after_buckets
    ]
    if rows:  # a rerun with nothing left to do commits nothing
        commit = spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1)
        commit.write.mode("append").parquet(_manifest_dir(root))
    return {
        "run_id": run_id,
        "docs": sum(r[3] for r in rows),
        "spans": sum(r[4] for r in rows),
        "tables": sum(r[5] for r in rows),
        "wall_s": time.time() - t0,
    }


def bucket_counts(bins, total: int, num_buckets: int) -> dict[int, int]:
    """``{bucket: count}`` from the ``(x, y)`` bins (null: no rows) of a
    ``histogram_numeric`` over bucket ids. Raises unless every bin is an
    integer id in ``[0, num_buckets)`` and the bins add up to ``total``."""
    counts: dict[int, int] = {}
    for x, y in bins or ():
        if x != int(x) or not 0 <= x < num_buckets or y != int(y):
            raise ValueError(f"histogram bin ({x}, {y}) is not a bucket id in [0, {num_buckets})")
        counts[int(x)] = counts.get(int(x), 0) + int(y)
    if sum(counts.values()) != total:
        raise ValueError(f"histogram bins sum to {sum(counts.values())}, not the observed {total}")
    return counts


def read_extracted(spark: SparkSession, root: str) -> DataFrame:
    """Committed output only: semi-join data files against the manifest's
    winning (bucket, epoch) pairs."""
    ddir = _data_dir(root)
    data = spark.read.option("basePath", ddir).parquet(ddir)
    data = data.withColumn("epoch", F.regexp_extract(F.input_file_name(), r"epoch=([^/]+)/", 1))
    wins = done_buckets(spark, root).select(
        F.col("doc_id_bucket").alias("bucket"), F.col("job_run_id").alias("epoch")
    )
    return (
        data.join(F.broadcast(wins), ["bucket", "epoch"], "left_semi")
        .select("doc_id", "kind", "text", "media_ref", "offset")
    )
