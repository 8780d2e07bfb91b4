"""Checkpoint manifest: per-bucket lineage + metrics, idempotent resume.

Emulates Iceberg snapshot-commit semantics on plain parquet (no Iceberg
jars in the sandbox — SURVEY.md §7.4.3): a run writes its output as a
few files under ``data/epoch=<run_id>/``, each holding whole buckets
(``bucket`` is a data column), and a bucket becomes *visible* only when a
manifest row ``(job_run_id, doc_id_bucket, status='done', metrics...)``
is appended. Readers open only the epochs that won a bucket, and keep
only the rows of the buckets each epoch won, so a run that dies after
writing data but before committing its manifest rows leaves invisible
rows, and the rerun reprocesses those buckets exactly once (FIXTURES.md
F3 resume test).

A run's only Spark work is the extract+write action, and it scans its
input once: the extraction UDF emits each doc's output spans and one
marker row (NULL ``kind``) per doc (``extract_marked``, spark/job.py), so
a doc with no spans is still counted, and the markers are dropped just
before the write. The write's observation carries the per-bucket
doc/span/table counts; a run that finds nothing left to do removes its
empty epoch directory. The manifest holds at most ``num_buckets`` rows
per run, so it is a driver-side table: read with ``pyarrow.dataset`` and
appended with ``pyarrow.parquet``, never through a Spark job.

The resume probe is the reference's SHA-256 skip-if-ingested check
(reference src/rag/rag_pipeline.py:97-105) generalized from per-document
to per-bucket: one manifest lookup on the driver, then a filter on the
bucket id (J2, SURVEY.md §2.3).

On a real cluster the same API is backed by an Iceberg manifest table
(``df.writeTo(...).append()`` is atomic per snapshot); the bucket math
``pmod(xxhash64(doc_id), N)`` is identical.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from sparkextract import config
from sparkextract.schema import EXPLODED_DDL, MANIFEST_SCHEMA
from sparkextract.spark.job import _EXPLODED_COLS, extract_marked

_MANIFEST_ARROW = to_arrow_schema(MANIFEST_SCHEMA)
_EPOCH_DDL = EXPLODED_DDL + ", bucket int"  # the schema of an epoch's files


def bucket_expr(num_buckets: int = config.MANIFEST_NUM_BUCKETS):
    return F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "manifest")


def _data_dir(root: str) -> str:
    return os.path.join(root, "data")


def _visible_parts(mdir: str) -> bool:
    # Spark and pyarrow both skip ``.``/``_``-prefixed files (temp parts,
    # checksums, _SUCCESS)
    return os.path.isdir(mdir) and any(
        f.endswith(".parquet") and not f.startswith((".", "_")) for f in os.listdir(mdir)
    )


def read_manifest(spark: SparkSession, root: str) -> DataFrame:
    mdir = _manifest_dir(root)
    if not _visible_parts(mdir):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(mdir)


def committed_epochs(root: str) -> dict[int, str]:
    """``{bucket: job_run_id}`` of every committed bucket; the earliest
    commit wins (idempotency under concurrent/duplicated runs).

    Read on the driver, with the manifest's own schema: parts written by
    Spark store ``committed_at`` as INT96, which pyarrow alone reads as a
    naive ``timestamp[ns]``, and without a schema the dataset would take
    whichever type its first file has."""
    mdir = _manifest_dir(root)
    if not _visible_parts(mdir):
        return {}
    m = ds.dataset(mdir, format="parquet", schema=_MANIFEST_ARROW)
    done = m.to_table(
        columns=["doc_id_bucket", "job_run_id", "committed_at"],
        filter=ds.field("status") == "done",
    ).sort_by("committed_at")
    won: dict[int, str] = {}
    for k, run in zip(done["doc_id_bucket"].to_pylist(), done["job_run_id"].to_pylist()):
        won.setdefault(k, run)
    return won


def filter_todo(
    docs: DataFrame,
    spark: SparkSession,
    root: str,
    num_buckets: int = config.MANIFEST_NUM_BUCKETS,
    bucket_col=None,
) -> DataFrame:
    """J2: drop documents whose bucket is already committed. The done-
    bucket set (<= num_buckets ids) is looked up on the driver, so the
    probe is a filter on the bucket id: no join, no broadcast job.

    ``bucket_col`` overrides the default xxhash64 bucket expression
    (q95 passes the engine-portable md5 bucket so the DuckDB oracle can
    reproduce the assignment; a real deployment keeps xxhash64)."""
    bucket = bucket_expr(num_buckets) if bucket_col is None else bucket_col.cast("int")
    todo = docs.withColumn("doc_id_bucket", bucket)
    done = sorted(committed_epochs(root))
    return todo.filter(~F.col("doc_id_bucket").isin(done)) if done else todo


def _append_manifest(root: str, run_id: str, rows: list[tuple]) -> None:
    """Append ``rows`` as one parquet part, written under a ``.``-prefixed
    temp name and renamed into place, so no reader sees a partial part."""
    mdir = _manifest_dir(root)
    os.makedirs(mdir, exist_ok=True)
    table = pa.Table.from_pylist(
        [dict(zip(_MANIFEST_ARROW.names, r)) for r in rows], schema=_MANIFEST_ARROW
    )
    name = f"part-{run_id}-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(mdir, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(mdir, name))


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    run_id: str | None = None,
    num_buckets: int = config.MANIFEST_NUM_BUCKETS,
    fail_after_buckets: int | None = None,
    bucket_col=None,
) -> dict:
    """One resumable run: manifest probe → extract → write → commit.

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
    out_bucket = bucket_expr(num_buckets) if bucket_col is None else bucket_col.cast("int")
    # output spans plus one marker row (NULL kind) per todo doc, so that
    # docs with no spans still count
    rows = extract_marked(todo.drop("doc_id_bucket")).withColumn("bucket", out_bucket)

    # Per-bucket doc/span/table counts ride along with the WRITE via
    # df.observe(): no re-read of the output and no second pass of the
    # input. Grouped aggs aren't expressible in observe(), so each count
    # is a ``histogram_numeric`` over the bucket id, whose cost does not
    # grow with num_buckets. It is exact here: Spark merges histogram
    # bins only while it holds more than ``nb`` distinct values, and a
    # bucket id takes at most num_buckets (``bucket_counts`` checks this
    # against plain counts before anything commits; the double cast
    # keeps a merged bin's fractional centre visible to that check).
    # Docs are counted as marker rows, spans and tables as the others;
    # the markers are dropped right above the observation.
    # The CollectMetrics node sits ABOVE the bucket repartition, i.e. in
    # the result/write stage: observed-metric updates from the final
    # stage are deduplicated per successful task, whereas a map-stage
    # observe can double-count under stage retry / speculation on a real
    # cluster (fetch-failure re-execution re-runs map tasks).
    obs = Observation(f"bucket_metrics_{run_id}")
    bucket = F.col("bucket").cast("double")
    is_span = F.col("kind").isNotNull()
    is_table = F.col("kind") == config.KIND_TABLE
    nb = F.lit(max(num_buckets, 2))  # histogram_numeric needs nb >= 2
    aggs = [
        F.histogram_numeric(F.when(~is_span, bucket), nb).alias("doc_hist"),
        F.count_if(~is_span).alias("docs"),
        F.histogram_numeric(F.when(is_span, bucket), nb).alias("span_hist"),
        F.count_if(is_span).alias("spans"),
        F.histogram_numeric(F.when(is_table, bucket), nb).alias("table_hist"),
        F.count_if(is_table).alias("tables"),
    ]
    # The hash exchange puts all of a bucket's rows in one reduce task, and
    # each task writes one file: so each bucket lands in exactly one file
    # of the epoch, and each task's histogram holds whole buckets, which
    # keeps the merged bins exact integers. Without the exchange, bins of
    # one bucket id from different tasks merge into fractional centres
    # and ``bucket_counts`` raises.
    epoch = os.path.join(_data_dir(root), f"epoch={run_id}")
    observed = rows.repartition("bucket").observe(obs, *aggs).filter(is_span)
    observed.write.mode("overwrite").parquet(epoch)
    metrics = obs.get
    if not metrics.get("docs"):  # nothing was left to do: leave no epoch
        shutil.rmtree(epoch)
    doc_counts, spans, tables = (
        bucket_counts(metrics.get(f"{c}_hist"), metrics.get(f"{c}s", 0), num_buckets)
        for c in ("doc", "span", "table")
    )

    # Per-bucket lineage + metrics rows, built and appended on the driver
    wall_ms = int((time.time() - t0) * 1000)
    committed_at = datetime.now(timezone.utc)
    commit = [
        (run_id, k, "done", n, spans.get(k, 0), tables.get(k, 0), wall_ms, committed_at)
        for k, n in sorted(doc_counts.items())
        if fail_after_buckets is None or k < fail_after_buckets
    ]
    if commit:  # a rerun with nothing left to do commits nothing
        _append_manifest(root, run_id, commit)
    return {
        "run_id": run_id,
        "docs": sum(r[3] for r in commit),
        "spans": sum(r[4] for r in commit),
        "tables": sum(r[5] for r in commit),
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
    """Committed output only. Each epoch's files hold many buckets, some
    of which that run may not have committed: only the epochs that won a
    bucket are listed and opened, and of each only the rows of the
    buckets it won are kept."""
    won: dict[str, list[int]] = {}
    for k, run in sorted(committed_epochs(root).items()):
        won.setdefault(run, []).append(k)
    ddir = _data_dir(root)
    parts = [
        spark.read.schema(_EPOCH_DDL).parquet(path)
        .filter(F.col("bucket").isin(buckets)).select(*_EXPLODED_COLS)
        for run, buckets in won.items()
        if _visible_parts(path := os.path.join(ddir, f"epoch={run}"))
    ]
    if not parts:  # nothing committed, or no winning epoch holds a file
        return spark.createDataFrame([], EXPLODED_DDL)
    return functools.reduce(DataFrame.union, parts)
