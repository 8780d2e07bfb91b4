"""End-to-end Spark tests (SURVEY.md §5.2): span-sequence equality vs the
pure-pandas oracle, doc runs across Arrow batches, partitioning
invariance, plan shape, checkpoint/resume idempotency, the debug sinks
and span filters of ``spark/io.py``, the Excel summary sink, the
alternate document sources and the fail_after_buckets rule."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import functions as F

from sparkextract.core.extract import extract_document
from sparkextract.corpus import generate_corpus
from sparkextract.spark.datagen import corpus_df
from sparkextract.spark.job import (
    _EXPLODED_COLS,
    _extract_runs,
    assemble_spans,
    extract_documents,
    extract_exploded,
    extract_marked,
)
from sparkextract.schema import DOC_SCHEMA, EXPLODED_DDL, MANIFEST_SCHEMA
from sparkextract.spark.io import (
    filter_min_media_size,
    validate_spans,
    write_report,
    write_spans_csv,
    write_spans_json,
)
from sparkextract.spark.manifest import (
    _append_manifest,
    bucket_counts,
    bucket_expr,
    filter_todo,
    read_extracted,
    read_manifest,
    run_extraction_job,
)

N_DOCS = 180  # covers edge docs (i%101==3) and at least one mega doc (i%997==13)


@pytest.fixture(scope="module")
def docs(spark):
    return corpus_df(spark, N_DOCS, seed=42, partitions=6).cache()


def _oracle(n_docs=N_DOCS):
    return {d["doc_id"]: extract_document(d["spans"]) for d in generate_corpus(n_docs)}


def _oracle_rows():
    """The oracle's spans as sorted ``read_extracted`` rows."""
    return sorted(
        (d, s["kind"], s["text"], s["media_ref"], s["offset"])
        for d, spans in _oracle().items()
        for s in spans
    )


def _collect_spans(df):
    out = {}
    for row in df.collect():
        out[row["doc_id"]] = [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in (row["spans"] or [])
        ]
    return out


def test_corpus_df_matches_generator(spark, docs):
    """Distributed generation == single-process generation (determinism)."""
    local = {d["doc_id"]: d["spans"] for d in generate_corpus(N_DOCS)}
    dist = _collect_spans(docs)
    assert dist.keys() == local.keys()
    assert dist == {k: [dict(s) for s in v] for k, v in local.items()}


def test_extraction_matches_oracle(spark, docs):
    """THE correctness gate: span-sequence equality (kind, text, media_ref,
    order) per doc vs the oracle (BASELINE.json input_hint)."""
    golden = _oracle()
    got = _collect_spans(extract_documents(docs))
    assert got.keys() == golden.keys()
    mismatches = [k for k in golden if got[k] != golden[k]]
    assert mismatches == [], f"first mismatch: {mismatches[0] if mismatches else None}"


def test_mega_path_equals_whole_doc_path(spark, docs):
    """Arrow batches of 3 rows, so every multi-span doc's run crosses
    batches, give the same output as the default batch size, and both
    equal the oracle."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = _collect_spans(extract_documents(docs))
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        split = _collect_spans(extract_documents(docs))
    finally:
        spark.conf.set(key, old)
    assert default == split == _oracle()


def _batches(docs, sizes):
    """Exploded input rows of ``docs`` as pandas batches of ``sizes`` rows
    (the rest in one last batch), the way ``explode_outer`` and Arrow hand
    them to the UDF: a NULL element, and a NULL or empty array, is one
    all-NULL row."""
    rows = [
        (d["doc_id"], *((s["kind"], s["text"], s["media_ref"], s["offset"]) if s else (None,) * 4))
        for d in docs
        for s in d["spans"] or [None]
    ]
    out, pos = [], 0
    for n in [*sizes, len(rows)]:
        out.append(pd.DataFrame(rows[pos : pos + n], columns=_EXPLODED_COLS))
        pos += n
    return out


def test_extract_runs_carries_a_doc_across_batches():
    """A doc whose run straddles three batches (with an empty batch in
    between) is finalized once, equal to ``extract_document``, and every
    doc gets exactly one marker row (NULL kind)."""
    docs = list(generate_corpus(6))
    n0 = len(docs[0]["spans"])
    n1 = len(docs[1]["spans"])
    assert n1 >= 3
    batches = _batches(docs, [n0 + 1, 0, 1, n1 - 2])
    assert batches[1].empty
    out = pd.concat(list(_extract_runs(iter(batches))), ignore_index=True)
    got, markers = {}, []
    for r in out.itertuples(index=False):
        if r.kind is None:
            assert (r.text, r.media_ref) == (None, None) and pd.isna(r.offset)
            markers.append(r.doc_id)
            continue
        got.setdefault(r.doc_id, []).append(
            {"kind": r.kind, "text": r.text, "media_ref": r.media_ref, "offset": r.offset}
        )
    want = {d["doc_id"]: extract_document(d["spans"]) for d in docs}
    assert want[docs[1]["doc_id"]]
    assert got == {k: v for k, v in want.items() if v}
    assert sorted(markers) == sorted(want)
    assert list(out.columns) == _EXPLODED_COLS


def test_extract_runs_rejects_a_reopened_doc():
    a, b = generate_corpus(2)
    with pytest.raises(ValueError, match="reappears"):
        list(_extract_runs(iter(_batches([a, b, a], []))))


def _dup_pair():
    """Two corpus docs that share one ``doc_id``, and the output their
    merged span arrays give."""
    a, b = generate_corpus(2)
    b = {**b, "doc_id": a["doc_id"]}
    return a, b, extract_document(a["spans"] + b["spans"])


def _doc_spans(out):
    """(spans of each doc, marker count of each doc) from UDF output frames."""
    spans, markers = {}, {}
    for r in pd.concat(out, ignore_index=True).itertuples(index=False):
        if r.kind is None:
            markers[r.doc_id] = markers.get(r.doc_id, 0) + 1
        else:
            spans.setdefault(r.doc_id, []).append(
                {"kind": r.kind, "text": r.text, "media_ref": r.media_ref, "offset": r.offset}
            )
    return spans, markers


@pytest.mark.parametrize("split", [False, True], ids=["one_batch", "across_batches"])
def test_extract_runs_merges_adjacent_duplicate_doc_ids(split):
    """Adjacent rows with the same ``doc_id`` form one run, in one batch
    or across a batch boundary: one doc with dense offsets over the union
    of their spans, and one marker row."""
    a, b, want = _dup_pair()
    sizes = [len(a["spans"])] if split else []
    spans, markers = _doc_spans(list(_extract_runs(iter(_batches([a, b], sizes)))))
    assert spans == {a["doc_id"]: want}
    assert [s["offset"] for s in want] == list(range(len(want)))
    assert markers == {a["doc_id"]: 1}


@pytest.mark.parametrize("split", [False, True], ids=["one_batch", "across_batches"])
def test_extract_runs_rejects_a_duplicate_doc_id_after_another_doc(split):
    a, b, _ = _dup_pair()
    (c,) = generate_corpus(1, start=2)
    sizes = [len(a["spans"]) + len(c["spans"])] if split else []
    with pytest.raises(ValueError, match="reappears"):
        list(_extract_runs(iter(_batches([a, c, b], sizes))))


def test_extract_runs_empty_batch_yields_nothing():
    empty = pd.DataFrame(columns=_EXPLODED_COLS)
    assert list(_extract_runs(iter([empty]))) == []
    assert list(_extract_runs(iter([]))) == []


def test_extract_plan_is_one_scan_one_udf_no_exchange(spark, docs, tmp_path):
    """Over a parquet source extraction is map-only: one scan, one Python
    UDF node and no shuffle, both for the spans and for the marked rows a
    run writes."""
    docs.write.parquet(str(tmp_path / "in"))
    src = spark.read.parquet(str(tmp_path / "in"))
    for out in (extract_exploded(src), extract_marked(src)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        counts = tuple(plan.count(node) for node in ("FileScan", "Exchange", "MapInPandas"))
        assert counts == (1, 0, 1), plan


def test_partitioning_invariance(spark, docs):
    """Same output at different parallelism/partitioning (SURVEY §7.4.1)."""
    a = extract_exploded(docs.repartition(1))
    b = extract_exploded(docs.repartition(16))
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_resume_idempotent(spark, docs, tmp_path_factory):
    """FIXTURES.md F3: crash after partial manifest commit → rerun →
    output equals a single uninterrupted run, no doc processed twice."""
    root_a = str(tmp_path_factory.mktemp("job_single"))
    root_b = str(tmp_path_factory.mktemp("job_resumed"))
    nb = 8

    run_extraction_job(spark, docs, root_a, run_id="single", num_buckets=nb)
    full = sorted(map(tuple, read_extracted(spark, root_a).collect()))

    # crashed run: data written for all buckets, manifest only for 3
    run_extraction_job(spark, docs, root_b, run_id="crashed", num_buckets=nb,
                       fail_after_buckets=3)
    partial = read_extracted(spark, root_b)
    n_buckets_visible = partial.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(nb)).alias("b")).distinct().count()
    assert n_buckets_visible <= 3

    # resumed run: must only process the remaining buckets
    m2 = run_extraction_job(spark, docs, root_b, run_id="resume", num_buckets=nb)
    resumed = sorted(map(tuple, read_extracted(spark, root_b).collect()))
    assert resumed == full

    # no double-processing: every doc appears under exactly one epoch
    m = read_manifest(spark, root_b).filter(F.col("status") == "done")
    per_bucket = m.groupBy("doc_id_bucket").count().filter(F.col("count") > 1).count()
    assert per_bucket == 0
    assert m2["docs"] > 0


def test_empty_and_null_spans(spark):
    span = {"kind": "text", "text": "a paragraph kept after a null element " * 4,
            "media_ref": None, "offset": 0}
    rows = [("d-empty", []), ("d-null", None), ("d-null-elem", [None, span])]
    df = spark.createDataFrame(rows, schema=DOC_SCHEMA)
    oracle = {doc_id: extract_document(spans) for doc_id, spans in rows}
    assert oracle["d-null-elem"] == extract_document([span])
    assert oracle["d-null-elem"]
    got = _collect_spans(extract_documents(df))
    assert got == oracle
    assert got["d-empty"] == got["d-null"] == []


def test_docs_without_spans_are_counted_but_read_no_rows(spark, tmp_path):
    """Docs whose span array is NULL, empty or all-NULL reach the UDF as
    all-NULL rows: the run counts them in the manifest and writes no span
    for them."""
    rows = [("d-null", None), ("d-empty", []), ("d-null-elem", [None])]
    df = spark.createDataFrame(rows, schema=DOC_SCHEMA)
    root = str(tmp_path / "root")
    ret = run_extraction_job(spark, df, root, run_id="one", num_buckets=8)
    manifest = read_manifest(spark, root).collect()
    assert sum(r["doc_count"] for r in manifest) == ret["docs"] == 3
    assert sum(r["span_count"] for r in manifest) == ret["spans"] == 0
    assert read_extracted(spark, root).count() == 0


def test_debug_sinks_and_span_filters(spark, tmp_path):
    """S5/S6/S8 sinks and the P3/P6 filters over a seven-row exploded frame."""
    rows = [
        ("d1", "text", "a\nb", None, 0),
        ("d1", "table", "| x |", None, 1),
        ("d1", "image_ocr", "ocr", "m1", 2),
        ("d2", "bogus", "x", None, 0),  # unknown kind
        ("d2", "text", None, None, 1),  # text span without text
        ("d2", "image_ocr", "ocr", None, 2),  # image without a media ref
        ("d2", "text", "y", None, -1),  # negative offset
    ]
    exploded = spark.createDataFrame(rows, EXPLODED_DDL)

    write_spans_csv(exploded, str(tmp_path / "csv"))
    csv_lines = [
        line
        for f in sorted((tmp_path / "csv").glob("*.csv"))
        for line in f.read_text().splitlines()
        if not line.startswith("doc_id,")
    ]
    assert len(csv_lines) == 7  # the newline is escaped: one span, one row
    assert "d1,text,a\\nb,,0" in csv_lines

    write_spans_json(exploded, str(tmp_path / "json"))
    assert spark.read.json(str(tmp_path / "json")).count() == 7

    write_report(exploded, str(tmp_path / "report"))
    report = {r["doc_id"]: r.asDict() for r in spark.read.json(str(tmp_path / "report")).collect()}
    assert report["d1"] == {"doc_id": "d1", "image_ocr": 1, "table": 1, "text": 1, "form": 0}

    assert sorted(map(tuple, validate_spans(exploded).collect())) == sorted(rows[:3])

    media = spark.createDataFrame(
        [("ok", 50, 50), ("narrow", 49, 100), ("short", 100, 49)],
        "media_id string, width int, height int",
    )
    assert [r["media_id"] for r in filter_min_media_size(media).collect()] == ["ok"]


def test_assemble_roundtrip(spark, docs):
    exploded = extract_exploded(docs)
    assembled = assemble_spans(exploded)
    back = assembled.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, exploded.collect()))


def test_bucket_counts_exact_histogram():
    """Bins of one bucket id (split across partial aggregates) add up;
    a null histogram is an empty observation."""
    bins = [(0.0, 3.0), (5.0, 2.0), (0.0, 1.0), (7.0, 4.0)]
    assert bucket_counts(bins, 10, 8) == {0: 4, 5: 2, 7: 4}
    assert bucket_counts(None, 0, 8) == {}
    assert bucket_counts([], 0, 8) == {}


@pytest.mark.parametrize(
    "bins, total",
    [
        ([(2.5, 2.0)], 2),  # merged bin: centre between two bucket ids
        ([(8.0, 1.0)], 1),  # id out of [0, num_buckets)
        ([(-1.0, 1.0)], 1),
        ([(3.0, 1.5)], 1.5),  # fractional count
        ([(1.0, 2.0), (2.0, 2.0)], 5),  # bins do not cover count(*)
        (None, 3),  # rows observed but no histogram
    ],
)
def test_bucket_counts_rejects_inexact_histogram(bins, total):
    with pytest.raises(ValueError):
        bucket_counts(bins, total, 8)


def _check_commits(spark, docs, root, nb, runs):
    """Every committed (bucket, epoch) carries the span/table counts of
    that epoch's data files and the bucket's distinct input docs; each
    run's returned totals are the sums of its own manifest rows."""
    in_docs = dict(
        docs.groupBy(bucket_expr(nb)).agg(F.countDistinct("doc_id")).collect()
    )
    manifest = read_manifest(spark, root).collect()
    for run_id, ret in runs:
        rows = [r for r in manifest if r["job_run_id"] == run_id]
        assert ret == {
            "run_id": run_id,
            "docs": sum(r["doc_count"] for r in rows),
            "spans": sum(r["span_count"] for r in rows),
            "tables": sum(r["table_count"] for r in rows),
            "wall_s": ret["wall_s"],
        }
        data = spark.read.parquet(os.path.join(root, "data", f"epoch={run_id}"))
        per_bucket = {
            r["bucket"]: (r["n"], r["t"])
            for r in data.groupBy("bucket").agg(
                F.count("*").alias("n"), F.count_if(F.col("kind") == "table").alias("t")
            ).collect()
        }
        for r in rows:
            k = r["doc_id_bucket"]
            assert (r["span_count"], r["table_count"]) == per_bucket.get(k, (0, 0)), (run_id, k)
            assert r["doc_count"] == in_docs[k], (run_id, k)
    assert sorted(r["doc_id_bucket"] for r in manifest) == sorted(in_docs)


@pytest.mark.parametrize("nb", [8, 64])
@pytest.mark.parametrize("partitions", [1, 5])
def test_manifest_counts_equal_output(spark, docs, tmp_path, nb, partitions):
    """The observed per-bucket counts equal a groupBy of the written data,
    for a single run and for a crashed-then-resumed one."""
    edge = spark.createDataFrame(
        [("edge-empty-0", []), ("edge-null-0", None), ("edge-empty-1", [])], schema=DOC_SCHEMA
    )
    inp = docs.unionByName(edge).repartition(partitions)

    root = str(tmp_path / "single")
    one = run_extraction_job(spark, inp, root, run_id="one", num_buckets=nb)
    _check_commits(spark, inp, root, nb, [("one", one)])
    assert one["docs"] == N_DOCS + 3

    root = str(tmp_path / "resumed")
    crashed = run_extraction_job(
        spark, inp, root, run_id="crashed", num_buckets=nb, fail_after_buckets=3
    )
    resumed = run_extraction_job(spark, inp, root, run_id="resumed", num_buckets=nb)
    _check_commits(spark, inp, root, nb, [("crashed", crashed), ("resumed", resumed)])
    assert crashed["docs"] + resumed["docs"] == N_DOCS + 3


def test_rerun_over_committed_root_is_noop(spark, docs, tmp_path):
    """A rerun with nothing left to do commits no manifest row, returns
    zeros (its observation is an empty histogram), changes no output and
    leaves no epoch directory behind."""
    root = str(tmp_path / "root")
    run_extraction_job(spark, docs, root, run_id="first", num_buckets=8)
    before = sorted(map(tuple, read_extracted(spark, root).collect()))
    n_rows = read_manifest(spark, root).count()
    data = os.path.join(root, "data")
    listing = sorted(os.listdir(data))

    again = run_extraction_job(spark, docs, root, run_id="again", num_buckets=8)
    assert (again["docs"], again["spans"], again["tables"]) == (0, 0, 0)
    assert read_manifest(spark, root).count() == n_rows
    assert sorted(map(tuple, read_extracted(spark, root).collect())) == before
    assert sorted(os.listdir(data)) == listing  # no empty epoch=again/


def _jobs(spark, group, action) -> int:
    """Number of Spark jobs ``action()`` launches."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_launches_only_its_write_jobs(spark, docs, tmp_path):
    """The resume probe, the per-bucket counts and the manifest commit
    launch no Spark job: a run launches no more jobs than the bare
    extract+write action over the docs it has to do, on a fresh root and
    on a crashed-then-resumed one."""
    nb = 8
    docs.write.parquet(str(tmp_path / "in"))
    src = spark.read.parquet(str(tmp_path / "in"))

    def bare(todo, out):
        (
            extract_exploded(todo).withColumn("bucket", bucket_expr(nb))
            .repartition("bucket").write.mode("overwrite").parquet(str(tmp_path / out))
        )

    root = str(tmp_path / "fresh")
    fresh = _jobs(spark, "fresh_run", lambda: run_extraction_job(
        spark, src, root, run_id="fresh", num_buckets=nb))
    assert 0 < fresh <= _jobs(spark, "fresh_bare", lambda: bare(src, "bare_fresh"))

    root = str(tmp_path / "resumed")
    run_extraction_job(spark, src, root, run_id="crashed", num_buckets=nb, fail_after_buckets=3)
    resumed = _jobs(spark, "resumed_run", lambda: run_extraction_job(
        spark, src, root, run_id="resumed", num_buckets=nb))
    todo = src.filter(bucket_expr(nb) >= 3)
    assert 0 < resumed <= _jobs(spark, "resumed_bare", lambda: bare(todo, "bare_resumed"))


def test_mixed_layout_manifest(spark, docs, tmp_path):
    """A manifest that mixes a Spark-written part (INT96 timestamps,
    _SUCCESS, .crc files) with pyarrow-written parts: a bucket's earliest
    commit wins in both the resume probe and the read, and a file of an
    epoch that won no bucket is never opened."""
    nb = 8
    root = str(tmp_path / "root")
    mdir = os.path.join(root, "manifest")
    run_extraction_job(spark, docs, root, run_id="crashed", num_buckets=nb, fail_after_buckets=3)
    # a run that crashed before committing anything: its epoch wins no bucket
    run_extraction_job(spark, docs, root, run_id="lost", num_buckets=nb, fail_after_buckets=0)
    # the crashed run's commit, rewritten the way Spark wrote manifests
    rows = [tuple(r) for r in read_manifest(spark, root).collect()]
    assert sorted(r[1] for r in rows) == [0, 1, 2]
    for f in os.listdir(mdir):
        os.remove(os.path.join(mdir, f))
    spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(mdir)
    names = os.listdir(mdir)
    assert "_SUCCESS" in names and any(f.endswith(".crc") for f in names)
    (spark_part,) = [f for f in names if f.endswith(".parquet") and not f.startswith(".")]
    int96 = pq.read_schema(os.path.join(mdir, spark_part)).field("committed_at").type
    assert int96 == pa.timestamp("ns")
    # a later duplicate commit of bucket 1, in the pyarrow layout
    later = rows[0][-1].replace(year=rows[0][-1].year + 1)
    _append_manifest(root, "later", [("later", 1, "done", 0, 0, 0, 0, later)])
    # garbage in the epoch that won no bucket
    bad = os.path.join(root, "data", "epoch=lost")
    victim = next(f for f in sorted(os.listdir(bad)) if f.endswith(".parquet"))
    with open(os.path.join(bad, victim), "wb") as f:
        f.write(b"not a parquet file")

    todo = filter_todo(docs, spark, root, nb)
    assert {r[0] for r in todo.select("doc_id_bucket").distinct().collect()} == set(range(3, 8))

    in_bucket = dict(docs.select("doc_id", bucket_expr(nb)).collect())
    golden = _oracle_rows()
    got = sorted(map(tuple, read_extracted(spark, root).collect()))
    assert got == [r for r in golden if in_bucket[r[0]] < 3]

    run_extraction_job(spark, docs, root, run_id="resumed", num_buckets=nb)
    assert sorted(map(tuple, read_extracted(spark, root).collect())) == golden
    assert read_manifest(spark, root).count() == 3 + 1 + 5


def test_each_bucket_in_one_file_of_its_epoch(spark, docs, tmp_path):
    """An epoch is a few files that each hold whole buckets: every bucket's
    rows lie in exactly one file of its epoch, an epoch has no more files
    than shuffle partitions, and the read keeps none of the crashed
    epoch's rows in buckets it did not commit."""
    nb = 64
    root = str(tmp_path / "root")
    run_extraction_job(spark, docs, root, run_id="crashed", num_buckets=nb, fail_after_buckets=3)
    run_extraction_job(spark, docs, root, run_id="resumed", num_buckets=nb)
    max_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for run in ("crashed", "resumed"):
        epoch = os.path.join(root, "data", f"epoch={run}")
        files = [f for f in os.listdir(epoch) if f.endswith(".parquet") and f[0] not in "._"]
        assert 0 < len(files) <= max_files, (run, files)
        owner: dict[int, str] = {}
        for f in files:
            for k in set(pq.read_table(os.path.join(epoch, f), columns=["bucket"])["bucket"].to_pylist()):
                assert owner.setdefault(k, f) == f, (run, k)

    in_bucket = dict(docs.select("doc_id", bucket_expr(nb)).collect())
    golden = _oracle_rows()
    got = read_extracted(spark, root).withColumn("file", F.input_file_name()).collect()
    assert sorted(tuple(r)[:-1] for r in got) == golden
    from_crashed = [r["doc_id"] for r in got if "/epoch=crashed/" in r["file"]]
    assert from_crashed and all(in_bucket[d] < 3 for d in from_crashed)


@pytest.mark.skipif(
    not os.path.isfile(os.path.join(_find_spark_home(), "python", "pyspark", "__init__.py")),
    reason="no unzipped pyspark under $SPARK_HOME/python",
)
def test_workers_import_pyspark_unzipped(spark):
    """get_spark's workers import pyspark from a directory, hold no
    zipimporter over pyspark.zip or a jar (each one is re-read at the start
    of every task), and still load sparkextract from the shipped zip."""

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        import sparkextract.core.extract as ex

        for _ in batches:
            pass
        archives = [
            v.archive for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)
        ]
        yield pd.DataFrame({"pyspark": [pyspark.__file__], "extract": [ex.__file__], "archives": [archives]})

    rows = spark.range(0, 8, 1, 2).mapInPandas(probe, "pyspark string, extract string, archives array<string>").collect()
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r["pyspark"]), r["pyspark"]
        assert not [a for a in r["archives"] if a.endswith((".jar", "pyspark.zip"))], r["archives"]
        assert r["extract"].endswith(os.path.join("sparkextract.zip", "sparkextract", "core", "extract.py"))


def test_excel_summary_sink_roundtrip(spark, tmp_path):
    """S4: the stdlib xlsx writer produces a valid workbook whose sheets
    and cell values round-trip through stdlib zip+XML parsing (no Excel
    library exists in this environment, which is exactly why the writer
    is stdlib-only)."""
    import xml.etree.ElementTree as ET
    import zipfile

    from sparkextract.spark.excel import save_tables_to_excel

    t1 = spark.createDataFrame(
        [("text", 42, 0.5), ("table", 7, 1.25)], "kind string, n int, score double"
    )
    t2 = spark.createDataFrame([("a/b" * 20, None)], "name string, v string")
    path = str(tmp_path / "summary.xlsx")
    save_tables_to_excel([t1, t2], path, sheet_names=["kind stats", "weird/name" * 9])

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        names = [s.attrib["name"] for s in wb.findall(".//m:sheet", ns)]
        assert names[0] == "kind stats"
        assert len(names[1]) == 31 and "/" not in names[1]  # Excel limits

        sheet1 = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        rows = sheet1.findall(".//m:row", ns)
        assert len(rows) == 3  # header + 2 data rows

        def cellvals(row):
            out = []
            for c in row.findall("m:c", ns):
                t = c.find(".//m:t", ns)
                v = c.find("m:v", ns)
                out.append(t.text if t is not None else (v.text if v is not None else None))
            return out

        assert cellvals(rows[0]) == ["kind", "n", "score"]
        assert cellvals(rows[1]) == ["text", "42", "0.5"]
        assert cellvals(rows[2]) == ["table", "7", "1.25"]

    # the guard: data-scale frames are rejected
    import pytest as _pytest

    big = spark.range(0, 50).select("id")
    with _pytest.raises(ValueError):
        save_tables_to_excel([big], str(tmp_path / "big.xlsx"), max_rows=10)

    # review-found hardening: quotes in sheet names must stay well-formed,
    # NaN cells must not emit numeric <v>nan</v>, empty list is rejected,
    # duplicate (post-truncation) names are disambiguated
    nasty = str(tmp_path / "nasty.xlsx")
    nan_df = spark.createDataFrame([(float("nan"), 1.5)], "a double, b double")
    save_tables_to_excel(
        [nan_df, nan_df], nasty, sheet_names=['Q1 "draft" stats', 'Q1 "draft" stats']
    )
    with zipfile.ZipFile(nasty) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))  # parses -> well-formed
        names = [sh.attrib["name"] for sh in wb.findall(".//m:sheet", ns)]
        assert names[0] == 'Q1 "draft" stats' and names[0] != names[1]
        s1 = z.read("xl/worksheets/sheet1.xml").decode()
        assert "<v>nan</v>" not in s1 and "<v>1.5</v>" in s1
        ET.fromstring(s1)
    with _pytest.raises(ValueError):
        save_tables_to_excel([], str(tmp_path / "none.xlsx"))


def test_alternate_document_sources_roundtrip(spark, tmp_path):
    """S1 alternates: the same pinned-schema document table reads back
    identically from JSONL and ORC, and extraction over them matches the
    parquet path byte-for-byte."""
    from sparkextract.spark.io import read_documents, read_documents_jsonl, read_documents_orc
    from sparkextract.spark.job import extract_exploded
    from sparkextract.spark.datagen import corpus_df

    docs = corpus_df(spark, 40, seed=7)
    pq, jl, oc = (str(tmp_path / n) for n in ("pq", "jl", "oc"))
    docs.write.parquet(pq)
    docs.write.json(jl)
    docs.write.orc(oc)

    def spans(df):
        return sorted(
            tuple(r) for r in extract_exploded(df).collect()
        )

    base = spans(read_documents(spark, pq))
    assert len(base) > 50
    assert spans(read_documents_jsonl(spark, jl)) == base
    assert spans(read_documents_orc(spark, oc)) == base


def test_fail_after_buckets_is_bucket_id_rule(spark, tmp_path):
    """fail_after_buckets commits exactly the buckets with id < N —
    deterministic on the bucket ID, independent of which buckets happen
    to be populated (round-4 ADVICE: the oracle derives run_seq from
    this rule)."""
    from sparkextract.schema import DOC_SCHEMA
    from sparkextract.spark.manifest import read_manifest, run_extraction_job

    docs = spark.createDataFrame(
        [(f"d{i}", [{"kind": "text", "text": "x" * 120, "media_ref": None, "offset": 0}])
         for i in range(64)],
        schema=DOC_SCHEMA,
    )
    root = str(tmp_path / "failrule")
    run_extraction_job(spark, docs, root, run_id="r1", num_buckets=8,
                       fail_after_buckets=3)
    m = read_manifest(spark, root).filter(F.col("status") == "done")
    got = sorted(r["doc_id_bucket"] for r in m.collect())
    assert all(b < 3 for b in got)
