"""Per-layer probes for the traced run.

Each probe times a call into one module's public functions from outside,
inside a span of the run's tracer. Nothing here reaches into the program:
``core`` is timed by wrapping the module-level names ``core.extract`` and
``core.boilerplate`` look up at call time, ``spark.job`` by running its
public ``extract_exploded`` next to two boundary-only ``mapInPandas``
jobs, ``spark.manifest`` and ``spark.session`` by calling their functions.
"""

from __future__ import annotations

import time

# module-level names looked up at call time inside core.extract / core.boilerplate
CORE_EXTRACT_NAMES = (
    "normalize_text",
    "extract_html",
    "parse_pdf_layout",
    "render_table",
    "render_form",
    "chunk_text",
    "pseudo_ocr_text",
    "extract_input_span",
    "finalize",
)
CORE_BOILERPLATE_NAMES = ("collapse_ws",)
CORE_NAMES = CORE_EXTRACT_NAMES + CORE_BOILERPLATE_NAMES


def timed(tracer, name: str, action):
    """(seconds, result) of ``action()``, recorded as span ``name``."""
    with tracer.span(name):
        t0 = time.perf_counter()
        result = action()
        return time.perf_counter() - t0, result


def job_probes(tracer, docs) -> dict:
    """``spark.job`` split into scan, Arrow decode, decode + encode
    round trip, and extraction with and without the mega-doc split."""
    from pyspark.sql import functions as F
    from sparkextract.schema import EXPLODED_DDL
    from sparkextract.spark.job import extract_exploded

    # nested, so cloudpickle ships them by value to the Python workers
    def decode_only(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    def explode_identity(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                (doc_id, s["kind"], s["text"], s["media_ref"], s["offset"])
                for doc_id, spans in zip(pdf["doc_id"], pdf["spans"])
                if spans is not None
                for s in spans
                if s is not None
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "text", "media_ref", "offset"])

    scan_s, _ = timed(tracer, "job.scan", lambda: docs.select(F.sum(F.size("spans"))).collect())
    decode_s, _ = timed(
        tracer, "job.decode",
        lambda: docs.mapInPandas(decode_only, "n long").agg(F.sum("n")).collect(),
    )
    roundtrip_s, _ = timed(
        tracer, "job.roundtrip", lambda: docs.mapInPandas(explode_identity, EXPLODED_DDL).count()
    )
    extract_s, spans_out = timed(tracer, "job.extract", lambda: extract_exploded(docs).count())
    nosplit_s, _ = timed(
        tracer, "job.extract_nosplit",
        lambda: extract_exploded(docs, skew_threshold=None).count(),
    )
    return {
        "job.scan_s": scan_s,
        "job.decode_s": decode_s,
        "job.roundtrip_s": roundtrip_s,
        "job.extract_s": extract_s,
        "job.extract_nosplit_s": nosplit_s,
        "job.mega_split_s": extract_s - nosplit_s,
        "job.udf_body_s": extract_s - roundtrip_s,
        "job.spans_out": spans_out,
    }


def core_replay(tracer, docs: list[dict]) -> dict:
    """Single-process replay of ``docs``: untraced time per document, then
    a traced pass with every call to the ``CORE_NAMES`` functions a span."""
    from sparkextract.core import boilerplate, extract

    span_lists = [d["spans"] for d in docs]
    # the first pass warms regex and parser caches
    for _ in range(2):
        t0 = time.perf_counter()
        spans_out = sum(len(extract.extract_document(s)) for s in span_lists)
        replay_s = time.perf_counter() - t0

    patched = [(extract, n) for n in CORE_EXTRACT_NAMES] + [
        (boilerplate, n) for n in CORE_BOILERPLATE_NAMES
    ]
    originals = [getattr(m, n) for m, n in patched]
    for (module, name), fn in zip(patched, originals):
        setattr(module, name, tracer.wrap(f"core.{name}", fn))
    try:
        with tracer.span("core.replay"):
            for s in span_lists:
                with tracer.span("core.extract_document"):
                    extract.extract_document(s)
    finally:
        for (module, name), fn in zip(patched, originals):
            setattr(module, name, fn)

    self_times = tracer.self_times()
    out = {
        "core.extract_document.us_per_doc": replay_s / len(docs) * 1e6,
        "core.spans_out": spans_out,
    }
    for name in CORE_NAMES:
        self_s, calls = self_times.get(f"core.{name}", (0.0, 0))
        out[f"core.{name}.self_s"] = self_s
        out[f"core.{name}.calls"] = calls
    return out
