"""Multimodal binary-column queries (S7/D2): media featurization, media
dedup, frame sampling and the pseudo-OCR decode through
``spark/multimodal.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkextract.queries.base import load, register
from sparkextract.queries.extraction import ocr_sql


def _media_df(spark, sf_dir, prefix_len: int):
    """Deterministic media table from ``documents``: payload = UTF-8 bytes
    of the first ``prefix_len`` chars; media_type cycles image/audio/video/
    pdf ('pdf' has no decoder → decode_ok=false path exercised)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video"), F.lit("pdf")),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.substring("text", 1, prefix_len), "utf-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
    )


# --------------------------------------------------------------------------
# q44: binary payload → mapInPandas featurize (stub decoder = sha256 byte
# math). Driver-checks n_bytes, md5 content hash, decode_ok routing AND the
# 16-dim feature itself (as an order-fixed sum, float32-exact both sides).
_Q44_FEATURE_SUM = (
    "list_sum(list_transform(range(0, 16), i -> CAST(CAST(CAST(CONCAT('0x', "
    "substr(sha256(substr(text, 1, 200)), i*2+1, 2)) AS INT) / 255.0 AS FLOAT) AS DOUBLE)))"
)


@register(
    "q44_media_featurize",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           (['image','audio','video','pdf'])[(doc_id % 4) + 1] AS media_type,
           octet_length(encode(substr(text, 1, 200))) AS n_bytes,
           md5(substr(text, 1, 200)) AS content_hash,
           (doc_id % 4) < 3 AS decode_ok,
           CASE WHEN (doc_id % 4) < 3 THEN ROUND({_Q44_FEATURE_SUM}, 6) END AS feature_sum
    FROM documents
    """,
)
def q44_media_featurize(spark, sf_dir):
    from sparkextract.spark.multimodal import featurize_media

    feats = featurize_media(_media_df(spark, sf_dir, 200))
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        "content_hash",
        "decode_ok",
        F.round(
            F.aggregate(F.col("feature"), F.lit(0.0), lambda a, x: a + x.cast("double")), 6
        ).alias("feature_sum"),
    )


# --------------------------------------------------------------------------
# q45: media dedup by content hash (D2 window: keep largest payload, then
# lowest media_id). 8-char payload prefixes force real duplicate groups.
@register(
    "q45_media_dedup",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           md5(substr(text, 1, 8)) AS content_hash,
           octet_length(encode(substr(text, 1, 8))) AS n_bytes
    FROM documents
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY md5(substr(text, 1, 8))
        ORDER BY octet_length(encode(substr(text, 1, 8))) DESC,
                 CAST(doc_id AS VARCHAR) ASC
    ) = 1
    """,
)
def q45_media_dedup(spark, sf_dir):
    from sparkextract.spark.multimodal import featurize_media, media_dedup

    feats = featurize_media(_media_df(spark, sf_dir, 8))
    return media_dedup(feats).select("media_id", "content_hash", "n_bytes")


# --------------------------------------------------------------------------
# q59: video frame sampling through the REAL mapInPandas plumbing
# (spark/multimodal.py sample_frames — the 1-to-many multimodal shape:
# one input payload -> n frame rows). The stub sampler is equal-stride
# byte slicing, so the oracle derives every frame hash in SQL from the
# same byte ranges (documents text is pure ASCII at every SF, so char
# positions == byte positions; q44 established the payload convention).
_Q59_FRAMES = 4


_Q59_ORACLE = f"""
    WITH m AS (
      SELECT doc_id, substr(text, 1, 200) AS p,
             octet_length(encode(substr(text, 1, 200))) AS nb
      FROM documents WHERE doc_id % 4 = 2
    ),
    fr AS (
      -- mirror the stub exactly: n_eff = min(n_frames, nb) frames, zero
      -- frames for an empty payload (the WHERE also guards the // below)
      SELECT doc_id, p, nb, LEAST({_Q59_FRAMES}, nb) AS n_eff,
             nb // LEAST({_Q59_FRAMES}, nb) AS stride,
             CAST(UNNEST(range(LEAST({_Q59_FRAMES}, nb))) AS INT) AS frame_idx
      FROM m WHERE nb > 0
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id, frame_idx,
           CAST(CASE WHEN frame_idx < n_eff - 1 THEN stride
                     ELSE nb - (n_eff - 1) * stride END AS INT) AS n_frame_bytes,
           md5(substr(p, frame_idx * stride + 1,
                      CASE WHEN frame_idx < n_eff - 1 THEN stride
                           ELSE nb - (n_eff - 1) * stride END)) AS frame_hash
    FROM fr
"""


@register("q59_frame_sample", oracle=_Q59_ORACLE)
def q59_frame_sample(spark, sf_dir):
    from sparkextract.spark.multimodal import sample_frames

    video = _media_df(spark, sf_dir, 200).filter(F.col("media_type") == "video")
    return sample_frames(video, n_frames=_Q59_FRAMES).select(
        "media_id", "frame_idx", "n_frame_bytes", "frame_hash"
    )


# --------------------------------------------------------------------------
# q109: MEDIA OCR DECODE — binary payloads -> cleaned pseudo-OCR text
# rows via the Arrow-batched ``ocr_media`` surface. The OCR engine is
# the deterministic stub (core/ocr.py) so the DuckDB oracle reproduces
# the text byte-for-byte from the payload construction; the Spark
# plumbing (map-only over scan splits, payload bytes never leave the
# reading executor, only the short text moves on) is the real shape.
# Reference analog: tesseract/easyocr OCR + whitespace cleanup,
# reference src/image_extractor.py:337-549,533-549.
_Q109_ORACLE = f"""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           (['image','audio','video','pdf'])[(doc_id % 4) + 1] AS media_type,
           {ocr_sql("substr(text, 1, 200)")} AS ocr_text,
           CAST(29 AS INT) AS n_ocr_chars
    FROM documents
"""


@register("q109_media_ocr", oracle=_Q109_ORACLE)
def q109_media_ocr(spark, sf_dir):
    from sparkextract.spark.multimodal import ocr_media

    out = ocr_media(_media_df(spark, sf_dir, 200))
    return out.select("media_id", "media_type", "ocr_text", "n_ocr_chars")
