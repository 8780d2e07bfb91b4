"""Query registry plumbing for the driver contract.

Each query is a named pair: a Spark callable ``(spark, sf_dir) ->
DataFrame`` and (where SQL-expressible) a DuckDB oracle SQL string over
the same parquet tables. Numeric discipline, so value hashes match across
engines:

- double sums go through ``DECIMAL(18,4)`` per-element casts (exact,
  order-independent addition) and back to DOUBLE at the end;
- decimal PRODUCT sums (scale 8) are ``ROUND(..., 4)``-ed in decimal
  before the DOUBLE cast: at scale 8 a ~1e9 sum scales past 2^53, where
  DuckDB's hugeint→double→/10^scale cast double-rounds while Spark's
  BigDecimal.doubleValue rounds once — a 1-ulp divergence that bites at
  sf0.1 magnitudes; at scale 4 the scaled integer fits in 2^53 and the
  cast is exact in both engines;
- averages are exact decimal sums divided as DOUBLE (one IEEE division);
- timestamps are projected as epoch seconds or ISO date strings;
- every LIMIT carries a full tie-breaking ORDER BY.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a Spark query and its optional DuckDB twin."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def input_token(sf_dir: str) -> str:
    """Content token for memo keys: (name, size, mtime) of every parquet
    file under ``sf_dir``. A caller that rewrites the input in place under
    the same session then misses the memo instead of reading stale
    checkpointed data. Cost: one os.walk over a handful of files."""
    parts = []
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    st = os.stat(os.path.join(root, f))
                except OSError:
                    continue
                parts.append((os.path.join(root, f), st.st_size, st.st_mtime_ns))
    import hashlib

    return hashlib.md5(repr(sorted(parts)).encode()).hexdigest()[:16]


# (applicationId, input_token, sf_dir, tag)-keyed eager-localCheckpoint
# memo — the shared form of dedup's _Q68_SIGS_MEMO discipline: an intermediate frame referenced by
# several subtrees is materialized ONCE per (session, input) instead of
# recomputed per subtree (ReuseExchange does not fire across sibling
# subtrees under AQE, and lazy checkpoints still recompute lineage on
# both sides of a self-join — measured 16x slower on q68). The input
# token invalidates entries if the parquet under sf_dir is rewritten
# in-session. FIFO-bounded far above the live tag count (an evicted
# entry's localCheckpoint blocks are NOT reclaimable via unpersist();
# reclamation relies on ContextCleaner GC of the dropped reference, so
# a returned frame must be fully consumed before ~CAP later memo
# inserts — at CAP=256 that is never hit by the query surface).
_CKPT_MEMO: dict[tuple[str, str, str, str], DataFrame] = {}
_CKPT_MEMO_CAP = 256  # ~26 tags/sf_dir (round-5 end): covers many sf_dirs


def checkpoint_memo(spark: SparkSession, sf_dir: str, tag: str, build):
    """Return ``build()`` materialized via eager ``localCheckpoint()``,
    memoized per (session, input-content, tag). The build-time Spark job
    is the documented cost (PLANS.md notes it for q68); the memo
    keeps it to once per session+input."""
    key = (spark.sparkContext.applicationId, input_token(sf_dir), sf_dir, tag)
    df = _CKPT_MEMO.get(key)
    if df is None:
        df = build().localCheckpoint()
        while len(_CKPT_MEMO) >= _CKPT_MEMO_CAP:
            _CKPT_MEMO.pop(next(iter(_CKPT_MEMO)))
        _CKPT_MEMO[key] = df
    return df


def dsum(col_sql: str) -> str:
    """DuckDB-side decimal-exact sum rendered back to double."""
    return f"CAST(SUM(CAST({col_sql} AS DECIMAL(18,4))) AS DOUBLE)"


def md5_bucket(col, n: int):
    """Engine-portable pseudo-random bucket in [0, n): first 8 hex digits
    of md5 (stays far under 2^53, so the int is exact in every engine;
    NEVER engine hash()/rand(), which differ across engines and runs)."""
    from pyspark.sql import functions as F

    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long") % n
    )


def md5_bucket_sql(expr: str, n: int) -> str:
    """DuckDB twin of :func:`md5_bucket` — byte-identical values."""
    return (
        f"CAST(('0x' || SUBSTRING(md5(CAST({expr} AS VARCHAR)), 1, 8)) AS UBIGINT)"
        f" % {n}"
    )
