"""Tests for the extraction family's confidence metrics
(``metrics.py``) over the extraction output."""

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
