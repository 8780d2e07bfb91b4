import pytest

from perfbench import inputs, run
from sparkextract import config


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_check_sample_holds_mega_docs_the_operations_resume(seed):
    wl = run.WORKLOADS["mixed_resume"]
    sample = run.check_indices("mixed_resume", seed)
    resumed_mega = {i for i in run.mega_indices(wl.n_docs) if run.resumed(i)}
    assert resumed_mega and resumed_mega <= sample
    for i in resumed_mega:
        assert len(inputs.mixed_document(i, seed)["spans"]) > config.MEGA_DOC_SPAN_THRESHOLD


def test_check_sample_is_seeded():
    assert run.check_indices("media_heavy", 4) == run.check_indices("media_heavy", 4)
    assert run.check_indices("media_heavy", 4) != run.check_indices("media_heavy", 5)


def _op(timed, docs, cpu_s, ok=True):
    return {"timed": timed, "ok": ok, "docs": docs, "work_cpu_s": cpu_s, "out_bytes": docs * 10}


def test_end_to_end_reports_the_declared_metrics_from_timed_ops():
    bench = run.Bench("media_heavy", 1, 1.0, False, "unused")
    bench.ops = [_op(False, 100, 50.0), _op(True, 100, 10.0), _op(True, 100, 30.0)]
    bench.setup_cpu_s = 80.0
    m = bench.end_to_end(peak_rss_bytes=2**30)
    assert set(m) == set(run.declared_units()["end_to_end"])
    assert m["docs_per_cpu_s"] == 200 / 40.0  # the untimed warm-up op is left out
    assert m["setup_s"] == 80.0
    assert m["peak_rss_mb"] == 1024
    assert m["op_ok_ratio"] == 1.0


def test_a_failed_warmup_op_counts_against_op_ok_ratio():
    bench = run.Bench("media_heavy", 1, 1.0, False, "unused")
    bench.ops = [_op(False, 0, 50.0, ok=False), _op(True, 100, 10.0), _op(True, 100, 10.0)]
    bench.setup_cpu_s = 1.0
    assert bench.end_to_end(peak_rss_bytes=1)["op_ok_ratio"] == 2 / 3
