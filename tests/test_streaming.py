"""Structured Streaming operators: watermarked windowed aggregation,
applyInPandasWithState first-writer-wins dedup (streaming/stateful.py)
and the file-granular exactly-once resume of streaming/incremental.py.

Both tests drain bounded file streams with Trigger.AvailableNow so the
assertions are deterministic: the windowed agg is compared against the
identical batch plan (append mode must emit exactly the windows the
final watermark finalized), and the stateful dedup is driven through a
RESTART (new query, same checkpoint) to prove the keyed state survives
and suppresses duplicates across runs.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import SF_DIR


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    from sparkextract.streaming.stateful import windowed_event_counts

    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    src = str(tmp_path / "events_in")
    events.write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(src)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("win_counts").collect()
    }

    # append mode emits exactly the windows finalized by the last
    # watermark: window_end <= max(ts) - 2h
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    batch = windowed_event_counts(events)
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
        if r["window_start"].timestamp() + 3600 <= max_ts.timestamp() - 7200
    }
    assert len(expected) > 50  # a month of events -> many finalized windows
    assert got == expected


def _docs_df(spark, ids_and_texts):
    return spark.createDataFrame(
        [(str(i), t) for i, t in ids_and_texts], "doc_id string, text string"
    )


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    from sparkextract.streaming.stateful import streaming_dedup

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id string, text string").parquet(src)
        q = (
            streaming_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # batch 1: texts A (docs 0,1), B (doc 2) — keepers: A->0, B->2
    _docs_df(spark, [(0, "alpha text"), (1, "alpha text"), (2, "beta text")]).write.mode(
        "append"
    ).parquet(src)
    drain()
    got1 = {
        r["content_hash"]: r["doc_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert sorted(got1.values()) == ["0", "2"]

    # batch 2 (restart, same checkpoint): A again (doc 3, must be
    # suppressed by restored state), C new (docs 4,5 -> keeper 4)
    _docs_df(spark, [(3, "alpha text"), (4, "gamma text"), (5, "gamma text")]).write.mode(
        "append"
    ).parquet(src)
    drain()
    rows = spark.read.parquet(out).collect()
    got2 = {r["content_hash"]: r["doc_id"] for r in rows}
    assert len(rows) == 3  # no duplicate emissions across restarts
    assert sorted(got2.values()) == ["0", "2", "4"]
    # first_len carried from the keeper row
    assert all(r["first_len"] == len("alpha text") or r["doc_id"] in ("2", "4") for r in rows)


def test_incremental_extracts_mega_docs_in_stream(spark, tmp_path):
    """The stream runs the batch job's one extraction path, so a 9-span
    doc whose run crosses 3-row Arrow batches is extracted in the stream
    and equals ``extract_document``, next to a 1-span doc."""
    from pyspark.sql import Row

    from sparkextract.core.extract import extract_document
    from sparkextract.schema import DOC_SCHEMA
    from sparkextract.streaming.incremental import incremental_extract

    def span(i):
        return Row(kind="text", text=f"span {i} " + "content words here " * 10,
                   media_ref=None, offset=i)

    rows = [
        Row(doc_id="small-1", spans=[span(0)]),
        Row(doc_id="mega-1", spans=[span(i) for i in range(9)]),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(src)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        q = incremental_extract(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))
        q.awaitTermination(300)
    finally:
        spark.conf.set(key, old)

    got = {}
    for r in spark.read.parquet(str(tmp_path / "out")).orderBy("doc_id", "offset").collect():
        got.setdefault(r["doc_id"], []).append(
            {"kind": r["kind"], "text": r["text"], "media_ref": r["media_ref"],
             "offset": r["offset"]}
        )
    assert got == {r["doc_id"]: extract_document([s.asDict() for s in r["spans"]]) for r in rows}
    assert len(got["mega-1"]) > 1


def test_streaming_dedup_keeper_is_numeric_min(spark, tmp_path):
    # ADVICE r2: lexicographic sort picked '10' over '9'; the
    # (length, string) keeper order must match batch q11's numeric min
    from sparkextract.streaming.stateful import streaming_dedup

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    _docs_df(spark, [(10, "same text"), (9, "same text")]).write.mode("append").parquet(src)
    q = (
        streaming_dedup(spark.readStream.schema("doc_id string, text string").parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    assert [r["doc_id"] for r in rows] == ["9"]


def test_incremental_extract_resume(spark, tmp_path):
    """File-granular exactly-once: run AvailableNow twice, second batch of
    files is processed exactly once, first is never re-extracted."""
    from sparkextract.spark.datagen import corpus_df
    from sparkextract.streaming.incremental import incremental_extract

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus_df(spark, 30, seed=42, partitions=2).write.mode("append").parquet(inp)
    q = incremental_extract(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(outp).count()
    assert n1 > 0

    # new files arrive
    corpus_df(spark, 30, seed=43, partitions=2).write.mode("append").parquet(inp)
    q = incremental_extract(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(outp)
    n2 = out.count()
    assert n2 > n1
    # no doc extracted twice: (doc_id, offset) unique
    assert out.groupBy("doc_id", "offset").count().filter(F.col("count") > 1).count() == 0

    # third run with nothing new: output unchanged
    q = incremental_extract(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(outp).count() == n2
