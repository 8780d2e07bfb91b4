import hashlib
import os

import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from sparkextract import config


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind", sorted(inputs.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_docs(tmp_path, kind):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert inputs.write_corpus(a, kind, 40, seed=5) == inputs.write_corpus(b, kind, 40, seed=5)
    assert _digest(a) == _digest(b)
    inputs.write_corpus(c, kind, 40, seed=6)
    spans = lambda p: [d["spans"] for d in pq.read_table(p).to_pylist()]  # noqa: E731
    assert spans(a) != spans(c)


@pytest.mark.parametrize("n_docs", [3, 40, 200])
def test_file_count_is_fixed(tmp_path, n_docs):
    path = str(tmp_path / "c")
    inputs.write_corpus(path, "media", n_docs, seed=1)
    assert len(os.listdir(path)) == inputs.NUM_FILES
    assert pq.read_table(path).num_rows == n_docs


def test_kept_docs_are_the_written_ones(tmp_path):
    path = str(tmp_path / "c")
    n_spans, kept = inputs.write_corpus(path, "mixed", 30, seed=2, keep={0, 7, 29})
    rows = pq.read_table(path).to_pylist()
    assert n_spans == sum(len(r["spans"]) for r in rows)
    assert kept == {i: inputs.mixed_document(i, 2) for i in (0, 7, 29)}
    assert [rows[i]["doc_id"] for i in (0, 7, 29)] == [kept[i]["doc_id"] for i in (0, 7, 29)]


def test_media_docs_stay_off_the_mega_path():
    for i in range(300):
        spans = inputs.media_document(i, seed=3)["spans"]
        media = [s for s in spans if s["kind"] == "media"]
        assert inputs.MEDIA_SPANS_MIN <= len(media) <= inputs.MEDIA_SPANS_MAX
        assert len(spans) <= config.MEGA_DOC_SPAN_THRESHOLD
        assert [s["offset"] for s in spans] == list(range(len(spans)))
