"""Multimodal (binary) column operators — Spark-side plumbing for image /
audio / video payloads carried as opaque ``binary`` columns with typed
metadata (the training-data-pipeline extension of the reference's
ExtractedImage model, /root/reference/src/image_extractor.py:56-70).

The sandbox has no image/audio codecs, so the decode step is STUBBED
(deterministic fake decoder, clearly marked); everything Spark-side —
schema, Arrow batch shape, ``mapInPandas`` signature, partition behavior —
is real and tested. Swap ``_decode_stub`` for a PIL/ffmpeg call on a real
cluster; nothing else changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

FEATURE_DDL = (
    "media_id string, doc_id string, media_type string, "
    "n_bytes bigint, content_hash string, feature array<float>, decode_ok boolean"
)

_FEATURE_DIM = 16


def _decode_stub(payload: bytes, media_type: str) -> list[float]:
    """STUB decoder: a deterministic 16-dim feature from the byte content.

    Real implementation would be e.g. PIL.Image.open + resize + channel
    means (image), or librosa mel-spectrogram stats (audio). Raises for
    unknown media types exactly as a real decoder would.
    """
    if media_type not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for media_type={media_type!r}")
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:_FEATURE_DIM]]


def _featurize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for mid, did, mtype, payload in zip(
            pdf["media_id"], pdf["doc_id"], pdf["media_type"], pdf["payload"]
        ):
            raw = bytes(payload) if payload is not None else b""
            try:
                feat = _decode_stub(raw, mtype if isinstance(mtype, str) else "")
                ok = True
            except NotImplementedError:
                feat, ok = None, False
            rows.append(
                (
                    mid,
                    did,
                    mtype,
                    len(raw),
                    hashlib.md5(raw).hexdigest(),
                    feat,
                    ok,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id",
                "doc_id",
                "media_type",
                "n_bytes",
                "content_hash",
                "feature",
                "decode_ok",
            ],
        )


def featurize_media(media: DataFrame) -> DataFrame:
    """binary payloads -> per-media features, Arrow-batched.

    Scale: map-only over the scan splits (no shuffle); payload bytes never
    leave the executor that read them — only the 16-float feature and the
    hash move downstream."""
    from sparkextract.spark.session import ensure_workers_can_import

    ensure_workers_can_import(media.sparkSession)
    return media.mapInPandas(_featurize_batches, schema=FEATURE_DDL)


OCR_DDL = (
    "media_id string, doc_id string, media_type string, "
    "ocr_text string, n_ocr_chars int"
)


def _ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # deterministic pseudo-OCR from the payload hash, routed through the
    # same P7 clean chain the extraction core uses, once per batch
    # (core/ocr.py; swap the raw synthesis for tesseract on a real
    # cluster) — zipimport-safe
    from sparkextract.core.ocr import pseudo_ocr_texts

    for pdf in batches:
        texts = pseudo_ocr_texts(
            [
                hashlib.md5(bytes(payload) if payload is not None else b"").hexdigest()
                for payload in pdf["payload"]
            ]
        )
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "ocr_text": texts,
                "n_ocr_chars": [len(t) for t in texts],
            }
        )


def ocr_media(media: DataFrame) -> DataFrame:
    """binary payloads -> per-media OCR text rows, Arrow-batched.

    The decode/OCR engine is the deterministic stub (core/ocr.py); the
    Spark plumbing — map-only over scan splits, payload bytes never leave
    the executor that read them, only the short OCR text moves on — is
    the real 100 TB shape (reference: image_extractor.py:337-549)."""
    from sparkextract.spark.session import ensure_workers_can_import

    ensure_workers_can_import(media.sparkSession)
    return media.mapInPandas(_ocr_batches, schema=OCR_DDL)


def media_dedup(features: DataFrame) -> DataFrame:
    """Exact media dedup by content hash (D2 analog with size priority:
    keep the largest payload, then lowest media_id)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("content_hash").orderBy(
        F.desc("n_bytes"), F.asc("media_id")
    )
    return (
        features.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# Frame sampling & resize — the remaining multimodal plumbing shapes: a
# 1-to-many mapInPandas (one row per sampled frame) and a payload
# transformation with metadata update. Decode/encode are STUBBED with
# deterministic byte math (equal-stride byte slices stand in for ffmpeg
# keyframe extraction; truncate-or-pad stands in for PIL resize) — swap
# the stub bodies on a real cluster, the Spark plumbing is unchanged.

FRAME_DDL = (
    "media_id string, media_type string, frame_idx int, "
    "n_frame_bytes int, frame_hash string"
)

RESIZED_DDL = (
    "media_id string, media_type string, payload binary, "
    "width int, height int, n_bytes bigint"
)


def _sample_frames_stub(raw: bytes, n_frames: int) -> list[bytes]:
    """STUB frame sampler: n equal-stride byte slices (last takes the
    remainder). Real implementation: ffmpeg keyframe/interval sampling."""
    n = min(n_frames, len(raw))
    if n == 0:
        return []
    stride = len(raw) // n
    return [
        raw[i * stride : (i + 1) * stride] if i < n - 1 else raw[(n - 1) * stride :]
        for i in range(n)
    ]


def _frame_batches(n_frames: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                raw = bytes(payload) if payload is not None else b""
                for i, chunk in enumerate(_sample_frames_stub(raw, n_frames)):
                    rows.append(
                        (mid, mtype, i, len(chunk), hashlib.md5(chunk).hexdigest())
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "media_type",
                    "frame_idx",
                    "n_frame_bytes",
                    "frame_hash",
                ],
            )

    return gen


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """1-to-many: each media payload -> up to ``n_frames`` frame rows.

    Scale: map-only over scan splits; payload bytes stay on the executor
    that read them — only per-frame hashes/sizes move downstream (the
    frame bytes themselves would be written to a frame store in a real
    pipeline; here only their stats flow on)."""
    from sparkextract.spark.session import ensure_workers_can_import

    ensure_workers_can_import(media.sparkSession)
    return media.mapInPandas(_frame_batches(n_frames), schema=FRAME_DDL)


def _resize_stub(raw: bytes, target_bytes: int) -> bytes:
    """STUB resize: truncate or zero-pad to ``target_bytes``. Real
    implementation: PIL open -> resize -> re-encode."""
    if len(raw) >= target_bytes:
        return raw[:target_bytes]
    return raw + b"\x00" * (target_bytes - len(raw))


def resize_media(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Payload transformation with metadata update: every payload resized
    to the (stub) byte size implied by width*height; the binary column is
    REPLACED, not appended, so downstream stages never see both copies."""
    from sparkextract.spark.session import ensure_workers_can_import

    target = width * height
    cols = ["media_id", "media_type", "payload"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mtype, payload in zip(*(pdf[c] for c in cols)):
                raw = bytes(payload) if payload is not None else b""
                out = _resize_stub(raw, target)
                rows.append((mid, mtype, out, width, height, len(out)))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "media_type", "payload", "width", "height", "n_bytes"],
            )

    ensure_workers_can_import(media.sparkSession)
    return media.mapInPandas(gen, schema=RESIZED_DDL)
