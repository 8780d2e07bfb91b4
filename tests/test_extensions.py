"""Tests for the extension modules: multimodal plumbing, streaming
incremental ingest, confidence metrics."""

import os

import pytest
from pyspark.sql import functions as F

from sparkextract.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-ext-tests", master="local[4]", shuffle_partitions=8)
    yield s


# ------------------------------------------------------------- multimodal
def test_multimodal_featurize_and_dedup(spark):
    from sparkextract.spark.multimodal import MEDIA_SCHEMA, featurize_media, media_dedup

    rows = [
        ("m1", "d1", "image", b"payload-a", 10, 10),
        ("m2", "d1", "image", b"payload-a", 10, 10),   # exact dup of m1
        ("m3", "d2", "audio", b"payload-b", None, None),
        ("m4", "d2", "pdf",   b"payload-c", None, None),  # no decoder
        ("m5", "d3", "video", b"", None, None),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = featurize_media(media).cache()
    got = {r["media_id"]: r for r in feats.collect()}

    assert got["m1"]["decode_ok"] and len(got["m1"]["feature"]) == 16
    # deterministic stub: same payload -> same feature vector
    assert got["m1"]["feature"] == got["m2"]["feature"]
    assert got["m1"]["content_hash"] == got["m2"]["content_hash"]
    # unknown media type -> decode_ok False, feature NULL (stubbed decoder)
    assert not got["m4"]["decode_ok"] and got["m4"]["feature"] is None
    assert got["m1"]["n_bytes"] == 9 and got["m5"]["n_bytes"] == 0

    kept = media_dedup(feats).select("media_id").rdd.map(lambda r: r[0]).collect()
    assert "m1" in kept and "m2" not in kept  # lowest media_id wins at equal size
    assert len(kept) == 4


# ------------------------------------------------------------- streaming
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


# ------------------------------------------------------------- metrics
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


# ------------------------------------------------ media and ANN queries
def test_wave3_registered_with_oracles():
    from sparkextract.queries.registry import ORACLE_SQL, SPARK_QUERIES

    for name in (
        "q44_media_featurize",
        "q45_media_dedup",
        "q46_ivf_topk",
        "q47_retrieval_filters",
    ):
        assert name in SPARK_QUERIES and name in ORACLE_SQL


def test_ivf_topk_probes_two_cells(spark):
    from sparkextract.queries.registry import SPARK_QUERIES

    rows = SPARK_QUERIES["q46_ivf_topk"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    # every hit comes from one of the <=2 probed coarse cells
    assert len({r["cell"] for r in rows}) <= 2
    # scores sorted descending with vec_id tiebreak
    cos = [r["cosine"] for r in rows]
    assert cos == sorted(cos, reverse=True)


def test_wave4_ann_recall_bounds(spark):
    from sparkextract.queries.registry import ORACLE_SQL, SPARK_QUERIES

    assert "q50_ann_recall" in ORACLE_SQL
    row = SPARK_QUERIES["q50_ann_recall"](spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= row["n_overlap"] <= 10
    assert row["recall_at_10"] == row["n_overlap"] / 10.0


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


def test_multimodal_frame_sample_and_resize(spark):
    """Frame sampling (1-to-many mapInPandas) and resize (payload
    replacement with metadata update) plumbing: row multiplicity, byte
    accounting, and hash agreement with hashlib on the driver."""
    import hashlib

    from sparkextract.spark.multimodal import resize_media, sample_frames

    payload = bytes(range(100))
    media = spark.createDataFrame(
        [("m1", "d1", "video", payload, 64, 64), ("m2", "d2", "video", b"abc", 64, 64)],
        "media_id string, doc_id string, media_type string, payload binary, width int, height int",
    )
    frames = sample_frames(media, n_frames=4).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id["m1"]) == 4
    assert [r["n_frame_bytes"] for r in sorted(by_id["m1"], key=lambda r: r["frame_idx"])] == [25, 25, 25, 25]
    assert by_id["m1"][0]["frame_hash"] == hashlib.md5(payload[:25]).hexdigest()
    assert len(by_id["m2"]) == 3  # payload shorter than n_frames*1? no: 3 bytes -> 3 frames
    resized = resize_media(media, width=4, height=4).collect()
    assert all(r["n_bytes"] == 16 and len(bytes(r["payload"])) == 16 for r in resized)
    m2 = [r for r in resized if r["media_id"] == "m2"][0]
    assert bytes(m2["payload"]) == b"abc" + b"\x00" * 13


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


def test_simhash_bigrams_spaceless_doc(spark):
    # ADVICE r2: a doc with no space used to hit sequence(1, 0) == [1, 0]
    # and abort on element_at(w, 0); now it simply has no bigrams and is
    # absent from the signature set (matching DuckDB's empty range(1,1))
    from sparkextract.queries.dedup import _simhash48_col

    docs = spark.createDataFrame(
        [(1, "spaceless"), (2, ""), (3, "two words here")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in _simhash48_col(docs).collect()}
    assert set(sigs) == {3}
    assert isinstance(sigs[3], int)


def test_driver_view_fits_cap_and_covers_registry():
    # the driver contract records at most 50 queries() entries: the
    # exported view must leave at least 12 free slots, keep 1:1 oracles,
    # and account for every fine-grained query directly or via a panel
    from sparkextract.queries.panels import PANEL_SPECS, PANELED
    from sparkextract.queries.registry import SPARK_QUERIES, driver_queries

    sq, osql = driver_queries()
    assert len(sq) <= 38
    assert set(osql) == set(sq)
    exported = set(sq)
    for name in SPARK_QUERIES:
        assert name in exported or name in PANELED, name
    for pname, (cols, parts) in PANEL_SPECS.items():
        tags = [t for t, _, _ in parts]
        assert len(set(tags)) == len(tags), pname
        colnames = {c for c, _ in cols}
        for _tag, fine, mapping in parts:
            assert fine in SPARK_QUERIES, fine
            assert set(mapping) <= colnames, (pname, fine)


# ------------------------------------------------------- q75 edge parity
def test_q75_zero_word_doc_matches_duckdb(spark, tmp_path):
    """A whitespace-only document divides by zero words: Spark doubles
    yield NaN while DuckDB yields NULL — q75 guards the division so both
    engines emit NULL metrics and keep=False/'too_short'."""
    import duckdb

    from sparkextract.queries.registry import ORACLE_SQL, SPARK_QUERIES

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    rows = [
        (0, "   \t  \n ", "en", "web", 8),
        (1, "plenty " * 60 + "of distinct words here " * 10, "en", "web", 700),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    sdf = SPARK_QUERIES["q75_quality_rules"](spark, sf).orderBy("doc_id")
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf, 'documents.parquet')}/*.parquet')"
    )
    d_rows = con.execute(
        ORACLE_SQL["q75_quality_rules"] + " ORDER BY doc_id"
    ).fetchall()

    assert s_rows == d_rows
    zero = s_rows[0]
    assert zero[3] is None and zero[4] is None  # diversity, mean_word_len
    assert zero[5] == "too_short" and zero[6] is False
