"""SparkSession factory + package shipping for workers.

Scale stance (SURVEY.md §4.2): AQE on (coalesce + skew join), Arrow for
every pandas interchange, shuffle partitions sized to the core count (not
the 200 default), and the ``sparkextract`` package shipped to executors as
a zip via ``addPyFile`` — the same mechanism ``spark-submit --py-files``
uses on a real cluster, so local tests exercise the cluster packaging
path.

Batch geometry. The extraction UDF reads exploded spans, one row per
span, so ``spark.sql.execution.arrow.maxRecordsPerBatch`` counts spans.
Sessions keep Spark's default of 10,000 per batch, as plain sessions
built without ``get_spark`` and spark-submit sessions do: about 9 MB of
string payload on the mixed corpus (~0.9 KB a span), and a doc's run
that crosses a batch carries its items over (``spark/job.py``). A cap of 2,048 dated from one
row per document; over spans it cut an operation into many small
batches, each paying a fixed cost on both sides of the Arrow boundary.

Worker import path. PySpark starts its Python workers with
``$SPARK_HOME/python/lib/pyspark.zip`` and the spark-core jar on
``sys.path`` and calls ``importlib.invalidate_caches()`` at the start of
every task; on Python 3.11 that re-reads the central directory of every
zipimporter, ``pyspark.zip`` once per imported subpackage, about 0.2
CPU-s per task on a 4-vCPU box. When the workers can import this package,
``get_spark`` starts them through ``worker_daemon`` instead, which drops
the jar, swaps ``pyspark.zip`` for the identical directory it was built
from, and leaves the shipped ``sparkextract.zip`` as the only source of
``sparkextract``. Sessions the guard does not admit (spark-submit, a JVM
already running, non-local masters) keep PySpark's default daemon.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import tempfile
import time
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # .../src/sparkextract
_SRC_DIR = os.path.dirname(_PKG_DIR)                                    # .../src


REAP_AGE_S = 24 * 3600  # sibling temp dirs untouched this long are reaped


def reap_stale_siblings(keep: str, pattern: str) -> None:
    """Remove the dirs matching ``pattern``, other than ``keep``, that
    nobody touched for ``REAP_AGE_S``, and touch ``keep`` if it exists.
    Each session otherwise leaks its temp dirs forever; only day-old ones
    go, because a fresh sibling may belong to a session that is still
    running, and touching ``keep`` keeps it fresh while in use."""
    cutoff = time.time() - REAP_AGE_S
    for stale in glob.glob(pattern):
        try:
            old = stale != keep and os.path.getmtime(stale) < cutoff
        except OSError:  # reaped concurrently by another session
            continue
        if old:
            shutil.rmtree(stale, ignore_errors=True)
    if os.path.isdir(keep):
        os.utime(keep)


def _package_sources() -> list[tuple[str, bytes]]:
    """(archive name, bytes) of every .py file of the package, sorted."""
    out = []
    for root, dirs, files in os.walk(_PKG_DIR):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as f:
                    out.append((os.path.relpath(full, _SRC_DIR), f.read()))
    return sorted(out)


def _write_zip(path: str, sources: list[tuple[str, bytes]]) -> None:
    # fixed entry times: the same sources always give the same bytes
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in sources:
            zf.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), data,
                        compress_type=zipfile.ZIP_DEFLATED)


def build_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip the package for --py-files / addPyFile shipping.

    With ``dest_dir`` the zip is written there. Without it, there is one
    zip per sha256 of the shipped sources, at a stable path under the
    temp dir: the first call writes it under a temp name and renames it
    into place, so no reader sees half a zip, and later calls and
    sessions reuse it; day-old zips of other sources are reaped."""
    sources = _package_sources()
    if dest_dir:
        zip_path = os.path.join(dest_dir, "sparkextract.zip")
        _write_zip(zip_path, sources)
        return zip_path
    digest = hashlib.sha256()
    for name, data in sources:
        digest.update(f"{name}\0{len(data)}\0".encode())
        digest.update(data)
    cache_dir = os.path.join(
        tempfile.gettempdir(), f"sparkextract_pyfiles_{digest.hexdigest()[:16]}"
    )
    reap_stale_siblings(cache_dir, os.path.join(tempfile.gettempdir(), "sparkextract_pyfiles_*"))
    zip_path = os.path.join(cache_dir, "sparkextract.zip")
    if not os.path.exists(zip_path):
        os.makedirs(cache_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=cache_dir, suffix=".tmp")
        os.close(fd)
        try:
            _write_zip(tmp, sources)
            os.replace(tmp, zip_path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
    return zip_path


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the sparkextract zip to executors of an externally-created
    session (the driver contract hands us ITS session — worker Python
    processes won't have our src/ on sys.path). Idempotent per session;
    equivalent to `spark-submit --py-files sparkextract.zip`."""
    sc = spark.sparkContext
    if getattr(sc, "_sparkextract_pyfiles_added", False):
        return

    def _shipped() -> bool:
        # ground truth, not message matching: error strings like
        # "file ... does not exist" would false-positive a substring test
        # and permanently suppress the retry
        try:
            return any(
                f.rsplit("/", 1)[-1] == "sparkextract.zip" for f in sc.listFiles
            )
        except Exception:
            return False

    if not _shipped():
        try:
            sc.addPyFile(build_pyfiles_zip())
        except Exception:
            # any failure (temp-dir/IO error building the zip, a racing
            # duplicate add) must stay retryable unless the zip verifiably
            # made it aboard — otherwise every pandas-UDF stage hits
            # executor-side ModuleNotFoundError for the rest of the app
            if not _shipped():
                return
    sc._sparkextract_pyfiles_added = True


def _workers_import_src(master: str | None) -> bool:
    """Whether the Python workers of a session about to start on ``master``
    can import ``worker_daemon``: a local master, a JVM that this process
    launches (so it inherits this process's environment), and ``src/`` on
    the ``PYTHONPATH`` it inherits. spark-submit, an already running JVM
    and real clusters fail it."""
    pythonpath = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return (
        master is not None
        and re.fullmatch(r"local(\[[^\]]*\])?", master) is not None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
        and SparkContext._gateway is None
        and os.path.isdir(_SRC_DIR)
        and _SRC_DIR in (os.path.abspath(p) for p in pythonpath if p)
    )


def get_spark(
    app_name: str = "sparkextract",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session tuned for the extraction workload.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    or ``local[*]``; under spark-submit it defaults to spark-submit's
    ``--master``.
    """
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    ncores = os.cpu_count() or 8
    if master and master.startswith("local["):
        # local[N] or local[N,maxFailures]
        inner = master[6:-1].split(",")[0]
        if inner != "*":
            ncores = int(inner)

    # a JVM launched from here passes PYTHONPATH on to its Python workers,
    # which is how they find worker_daemon
    os.environ.setdefault("PYTHONPATH", _SRC_DIR)

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if _workers_import_src(master):
        builder = builder.config("spark.python.daemon.module", "sparkextract.spark.worker_daemon")
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(max(ncores * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARKEXTRACT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship via the same idempotent path the job modules use: a session
    # must only ever hold ONE sparkextract.zip — addPyFile registers by
    # basename, so adding a second (rebuilt) zip whose bytes differ
    # makes every executor fail its fetch-consistency check ("exists and
    # does not match contents") for the rest of the app's lifetime
    ensure_workers_can_import(spark)
    return spark
