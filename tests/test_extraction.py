"""Tests for the extraction family's confidence metrics
(``metrics.py``) over the extraction output, and for the driver's
flagship ``entry`` against the gate's q40 oracle."""

import importlib.util
import os

from pyspark.sql import functions as F


def test_confidence_exprs(spark):
    from sparkextract.metrics import doc_summary, with_confidence
    from sparkextract.spark.datagen import corpus_df
    from sparkextract.spark.job import extract_exploded

    out = extract_exploded(corpus_df(spark, 60, seed=42, partitions=4))
    conf = with_confidence(out)
    stats = conf.agg(
        F.min("confidence").alias("lo"), F.max("confidence").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats["lo"] and stats["hi"] <= 1.0

    summary = doc_summary(out)
    row = summary.orderBy("doc_id").first()
    assert row["total_spans"] >= 1 and row["best_kind"] in (
        "text", "table", "form", "image_ocr",
    )
    assert summary.filter(F.col("overall_conf") < 0).count() == 0


def _load_by_path(name, *parts):
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), *parts)
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_rows_equal_the_q40_oracle(spark):
    """The driver's flagship extracts the corpus the gate checks: the rows
    of ``__spark_entry__.entry`` equal those of q40's DuckDB oracle over
    the same documents, compared order-insensitively the way
    ``tools/check_queries.py`` compares them."""
    import duckdb

    from sparkextract.queries.registry import ORACLE_SQL

    entry_mod = _load_by_path("spark_entry", "__spark_entry__.py")
    rows_to_set = _load_by_path("check_queries", "tools", "check_queries.py").rows_to_set
    out = entry_mod.entry(spark)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{entry_mod._ENTRY_SF_DIR}/documents.parquet')"
    )
    res = con.execute(ORACLE_SQL["q40_extract_passthrough"])
    d_cols = [d[0].lower() for d in res.description]
    s_cols = [c.lower() for c in out.columns]
    assert sorted(s_cols) == sorted(d_cols)
    expected = rows_to_set(d_cols, res.fetchall())
    assert expected and rows_to_set(s_cols, [tuple(r) for r in out.collect()]) == expected
