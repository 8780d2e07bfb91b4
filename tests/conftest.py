"""Shared test setup: ``src/`` on the import path, the one Spark session
every test shares, the test corpus location, and the pure-Python helpers
that re-derive query results from that corpus."""

import hashlib
import os
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

SRC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "src")
if SRC not in sys.path:
    sys.path.insert(0, SRC)

# the generated sf0.001 test tables; override with SPARK_GRAFT_SF_DIR_TEST
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: starts a fresh JVM (deselect with -m 'not slow')"
    )


@pytest.fixture(scope="session")
def spark():
    from sparkextract.spark.session import get_spark

    s = get_spark("sparkextract-tests", master="local[4]")
    yield s
    s.stop()


def py_md5_bucket(s: str, n: int) -> int:
    """Python twin of ``queries.base.md5_bucket``: the first 8 hex digits
    of md5(s), mod n."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n


def read_docs(*cols):
    """``cols`` of every row of the corpus's documents table. Each row is a
    ``Row``, so it unpacks like a tuple and indexes by column name."""
    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=list(cols))
    return [Row(**r) for r in t.to_pylist()]


def write_docs(spark, rows, path, ddl="doc_id long, text string, n_chars long"):
    """Write ``rows`` as a one-file documents table under ``path``."""
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
