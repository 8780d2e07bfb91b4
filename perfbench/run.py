"""End-to-end benchmark of the resumable extraction job.

    python3 perfbench/run.py --workload mixed_resume --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process drives one Spark session at
``local[2]`` in a closed loop: each operation starts after the previous
one finished and was checked. With ``--trace 0`` the last stdout line
holds the end-to-end metrics; with ``--trace 1`` it holds the per-layer
metrics of a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

PROCESS_T0 = time.perf_counter()  # set-up time counts from here

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src")
WORK = os.path.join(ROOT, ".perfbench_work")

MASTER = "local[2]"
DRIVER_MEMORY = "1g"
CRASH_AFTER_BUCKETS = 32  # the crashed run commits buckets 0..31 of 64
CHECK_SAMPLE_DOCS = 24
CORE_SAMPLE_DOCS = 400


@dataclass(frozen=True)
class Workload:
    corpus: str  # key of inputs.GENERATORS
    n_docs: int
    # False: run the job into an empty root. True: finish a run that
    # crashed after committing half the buckets, then read the table back.
    resume: bool


WORKLOADS = {
    "media_heavy": Workload("media", 3_000, resume=False),
    "mixed_resume": Workload("mixed", 2_000, resume=True),
}


def declared_units() -> dict[str, dict[str, str]]:
    """Unit of every metric BENCHMARK.json declares, by section."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {sec: {m["name"]: m["unit"] for m in spec[sec]} for sec in ("end_to_end", "per_layer")}


def mega_indices(n_docs: int) -> set[int]:
    """Indices of the mixed corpus's mega docs (``sparkextract.corpus``:
    index % MEGA_DOC_MODULUS == 13)."""
    from sparkextract.corpus import MEGA_DOC_MODULUS

    return set(range(13, n_docs, MEGA_DOC_MODULUS))


def resumed(index: int) -> bool:
    """Whether the operations of mixed_resume, not the crashed run, commit
    the doc at ``index`` (its bucket is the index mod 64, see index_bucket)."""
    from sparkextract import config

    return index % config.MANIFEST_NUM_BUCKETS >= CRASH_AFTER_BUCKETS


def check_indices(name: str, seed: int) -> set[int]:
    """The seeded sample of docs whose read-back every operation compares
    with the oracle; on the mixed corpus also every mega doc, so the split
    and reassembly of the operation's own mega docs is checked."""
    wl = WORKLOADS[name]
    rng = random.Random(f"perfbench:{name}:{seed}")
    idx = set(rng.sample(range(wl.n_docs), CHECK_SAMPLE_DOCS))
    if wl.corpus == "mixed":
        idx |= mega_indices(wl.n_docs)
    return idx


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def index_bucket():
    """``pmod(doc index, 64)``, the index being a doc_id's last 9 digits."""
    from pyspark.sql import functions as F
    from sparkextract import config

    return F.pmod(F.substring("doc_id", -9, 9).cast("long"), F.lit(config.MANIFEST_NUM_BUCKETS))


def work_cpu_seconds(cpu_by_kind: dict[str, float]) -> float:
    """CPU seconds of the process tree without the JVM's JIT compiler
    threads. How much compiling lands inside a measured interval rather
    than before it depends on how busy the host is: over two timed
    operations of mixed_resume the compiler threads took 4.7-11.8 CPU
    seconds between runs, the rest of the tree 27.6-30.0."""
    return sum(v for k, v in cpu_by_kind.items() if k != "jvm_jit")


def docs_per_cpu_s(ops: list[dict]) -> float:
    """Docs committed per work CPU second (work_cpu_seconds) over ``ops``."""
    cpu = sum(o["work_cpu_s"] for o in ops)
    return sum(o["docs"] for o in ops) / cpu if cpu else 0.0


def read_table(spark, root: str) -> int:
    """Read the committed table back and aggregate every column; returns
    its row count."""
    from pyspark.sql import functions as F
    from sparkextract.spark.manifest import read_extracted

    row = (
        read_extracted(spark, root)
        .agg(
            F.count("*"),
            F.countDistinct("doc_id"),
            F.sum(F.length("kind")),
            F.sum(F.length("text")),
            F.sum(F.length("media_ref")),
            F.sum("offset"),
        )
        .collect()[0]
    )
    return int(row[0])


class Bench:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool, work: str):
        from perfbench.trace import Tracer

        self.name, self.wl = name, WORKLOADS[name]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = work
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.ops: list[dict] = []
        self.sampler_tid: int | None = None  # left out of the tree's CPU time

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from perfbench import inputs
        from perfbench.check import expected_spans
        from perfbench.procs import start_spark, tree_cpu_by_kind
        from sparkextract.spark.manifest import run_extraction_job

        wl, tr = self.wl, self.tracer
        check_idx = check_indices(self.name, self.seed)
        core_idx = random.Random(f"perfbench:core:{self.name}:{self.seed}").sample(
            range(wl.n_docs), CORE_SAMPLE_DOCS
        )

        corpus = os.path.join(self.work, "corpus")
        t0 = time.perf_counter()
        with tr.span("setup.input_gen"):
            self.in_spans, kept = inputs.write_corpus(
                corpus, wl.corpus, wl.n_docs, self.seed, keep=check_idx | set(core_idx)
            )
        self.input_gen_s = time.perf_counter() - t0
        self.expected = expected_spans({i: kept[i] for i in check_idx})
        self.core_docs = [kept[i] for i in core_idx]

        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            self.spark = start_spark(MASTER, self.work, DRIVER_MEMORY)
        self.get_spark_s = time.perf_counter() - t0
        self.docs = self.spark.read.parquet(corpus)
        # mixed_resume buckets docs by index, so the crashed run commits the
        # same half of the corpus on every seed: with xxhash64 buckets the
        # number of ~1,000-span mega docs left to resume varies with the
        # seed, and out_bytes_per_doc with it (17% between quartiles)
        self.bucket_col = index_bucket() if wl.resume else None

        # Warm-up, untimed: the first job in the fresh JVM costs about twice
        # a later one. On mixed_resume it is the crashed run whose root
        # every operation restores.
        self.start_root = os.path.join(self.work, "start")
        t0 = time.perf_counter()
        with tr.span("setup.warmup_op"):
            first = run_extraction_job(
                self.spark, self.docs, self.start_root, run_id="start",
                fail_after_buckets=CRASH_AFTER_BUCKETS if wl.resume else None,
                bucket_col=self.bucket_col,
            )
            if wl.resume:
                if not 0 < first["docs"] < wl.n_docs:
                    raise RuntimeError(f"crashed run committed {first['docs']} of {wl.n_docs} docs")
                self.todo_docs = wl.n_docs - first["docs"]
            else:
                shutil.rmtree(self.start_root)
                self.todo_docs = wl.n_docs
            # The JVM keeps compiling after the first job: the tree's CPU
            # per operation falls from ~25 to ~12 s over the first eight.
            # One more operation, checked like the timed ones but not
            # measured, moves the timed ones past the steepest part.
            self.ops.append(self.run_op(0, timed=False))
        self.warmup_op_s = time.perf_counter() - t0
        self.setup_s = time.perf_counter() - PROCESS_T0
        self.setup_cpu_s = work_cpu_seconds(tree_cpu_by_kind(self.sampler_tid))

    # -- timed operations --------------------------------------------------
    def op_root(self, i: int) -> str:
        return os.path.join(self.work, f"op{i}")

    def run_op(self, i: int, timed: bool = True) -> dict:
        from perfbench.check import failures, read_back
        from perfbench.procs import tree_cpu_by_kind
        from sparkextract.spark.manifest import run_extraction_job

        root, tr, run_id = self.op_root(i), self.tracer, f"op{i}"
        if self.wl.resume:
            shutil.copytree(self.start_root, root)
        tr.op_id = i
        rec = {"op": i, "timed": timed, "traced": tr.enabled, "ok": False, "docs": 0}
        cpu0 = tree_cpu_by_kind(self.sampler_tid)
        try:
            with tr.span("op"):
                t0 = time.perf_counter()
                with tr.span("manifest.run_extraction_job"):
                    res = run_extraction_job(
                        self.spark, self.docs, root, run_id=run_id, bucket_col=self.bucket_col
                    )
                rec["run_job_s"] = time.perf_counter() - t0
                read_rows = None
                if self.wl.resume:
                    t1 = time.perf_counter()
                    with tr.span("manifest.read_extracted"):
                        read_rows = read_table(self.spark, root)
                    rec["read_s"] = time.perf_counter() - t1
                rec["op_s"] = time.perf_counter() - t0
            cpu1 = tree_cpu_by_kind(self.sampler_tid)
            rec["cpu_by_kind"] = {k: cpu1[k] - cpu0.get(k, 0.0) for k in cpu1}
            rec["cpu_s"] = sum(rec["cpu_by_kind"].values())
            rec["work_cpu_s"] = work_cpu_seconds(rec["cpu_by_kind"])
            t2 = time.perf_counter()
            with tr.span("check"):
                seen = read_back(self.spark, root, self.expected, read_rows)
                rec["failures"] = failures(
                    todo_docs=self.todo_docs, committed_docs=res["docs"],
                    corpus_docs=self.wl.n_docs, seen=seen, expected=self.expected,
                )
            rec["check_s"] = time.perf_counter() - t2
        except Exception:
            rec["failures"] = [traceback.format_exc()]
            rec.setdefault("op_s", 0.0)
        else:
            rec["docs"], rec["spans"] = res["docs"], res["spans"]
            rec["read_rows"] = seen["read_rows"]
            rec["out_files"], rec["out_bytes"] = dir_bytes(
                os.path.join(root, "data", f"epoch={run_id}")
            )
        finally:
            tr.op_id = None
        rec["ok"] = not rec["failures"]
        for f in rec["failures"]:
            print(f"op {i} failed: {f}", file=sys.stderr)
        return rec

    def timed_ops(self) -> None:
        """Closed loop for ``seconds`` of operation time and at least two
        operations. A traced run traces every second operation and runs at
        least three, so its untraced operations come before and after a
        traced one on the JVM's warm-up curve."""
        from perfbench.procs import host_cpu

        cpu0 = host_cpu()
        measured, n_timed = 0.0, 0
        while measured < self.seconds or n_timed < (3 if self.trace else 2):
            i = len(self.ops)
            shutil.rmtree(self.op_root(i - 1), ignore_errors=True)
            self.tracer.enabled = self.trace and n_timed % 2 == 1
            self.ops.append(self.run_op(i))
            n_timed += 1
            measured += self.ops[-1]["op_s"] or self.seconds  # a failed op uses up the time
        self.tracer.enabled = self.trace
        busy, steal, total = (b - a for a, b in zip(cpu0, host_cpu()))
        self.host_cpu = {"busy_share": busy / total, "steal_share": steal / total}

    # -- results -----------------------------------------------------------
    def timed_ok(self) -> list[dict]:
        return [o for o in self.ops if o["timed"] and o["ok"]]

    def end_to_end(self, peak_rss_bytes: int) -> dict:
        ok = self.timed_ok()
        return {
            "docs_per_cpu_s": docs_per_cpu_s(ok),
            "setup_s": self.setup_cpu_s,
            "peak_rss_mb": peak_rss_bytes / 2**20,
            "out_bytes_per_doc": (
                statistics.median(o["out_bytes"] / o["docs"] for o in ok) if ok else 0.0
            ),
            "op_ok_ratio": sum(o["ok"] for o in self.ops) / len(self.ops),
        }

    def per_layer(self) -> dict:
        """The traced run's layer probes, on the last operation's root."""
        from perfbench.layers import core_replay, job_probes, timed
        from pyspark.sql import functions as F
        from sparkextract.spark.manifest import filter_todo, read_manifest
        from sparkextract.spark.session import build_pyfiles_zip

        ok = self.timed_ok()
        rate = {
            traced: docs_per_cpu_s([o for o in ok if o["traced"] == traced])
            for traced in (True, False)
        }
        if not all(o["ok"] for o in self.ops) or not all(rate.values()):
            raise RuntimeError("the layer probes need passing traced and untraced operations")
        spark, tr = self.spark, self.tracer
        last = self.ops[-1]
        last_root = self.op_root(last["op"])
        m: dict[str, float] = {}

        zip_dir = os.path.join(self.work, "pyfiles")
        os.makedirs(zip_dir)
        m["session.get_spark_s"] = self.get_spark_s
        m["session.build_pyfiles_zip_s"], _ = timed(
            tr, "session.build_pyfiles_zip", lambda: build_pyfiles_zip(zip_dir)
        )

        # the docs an operation has to do, materialized once for the job probes
        probe_root = os.path.join(self.work, "probe")
        if self.wl.resume:
            shutil.copytree(self.start_root, probe_root)
        todo = filter_todo(self.docs, spark, probe_root, bucket_col=self.bucket_col)
        m["manifest.filter_todo_s"], m["manifest.todo_docs"] = timed(
            tr, "manifest.filter_todo", todo.count
        )
        todo_path = os.path.join(self.work, "todo")
        todo.drop("doc_id_bucket").write.parquet(todo_path)
        m.update(job_probes(tr, spark.read.parquet(todo_path)))

        m["manifest.run_job_s"] = statistics.median(o["run_job_s"] for o in ok)
        m["manifest.write_commit_s"] = m["manifest.run_job_s"] - m["job.extract_s"]
        if self.wl.resume:
            m["manifest.read_extracted_s"] = statistics.median(o["read_s"] for o in ok)
        else:
            m["manifest.read_extracted_s"], _ = timed(
                tr, "manifest.read_extracted", lambda: read_table(spark, last_root)
            )
        m["manifest.read_spans"] = last["read_rows"]
        m["manifest.out_files"] = last["out_files"]
        m["manifest.out_bytes"] = last["out_bytes"]
        m["manifest.buckets_committed"] = (
            read_manifest(spark, last_root).filter(F.col("job_run_id") == f"op{last['op']}").count()
        )

        m.update(core_replay(tr, self.core_docs))
        # the share of an operation's CPU that core extraction of its docs
        # takes, i.e. how far a core/ change can move docs_per_cpu_s
        m["core.op_share"] = (
            m["core.extract_document.us_per_doc"] * self.todo_docs / 1e6
            / statistics.median(o["work_cpu_s"] for o in ok)
        )
        m["setup.input_gen_s"] = self.input_gen_s
        m["setup.warmup_op_s"] = self.warmup_op_s
        m["trace.overhead_ratio"] = rate[True] / rate[False]
        return m

    def describe(self, peak_rss_by_kind: dict[str, int]) -> dict:
        import pyarrow
        import pyspark

        commit = None
        if os.path.isdir(os.path.join(ROOT, ".git")):
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
            ).stdout.strip()
        ok = self.timed_ok()
        src_hash = hashlib.sha256()
        for dirpath, dirs, names in os.walk(os.path.join(SRC, "sparkextract")):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(dirpath, n), "rb") as f:
                        src_hash.update(f.read())
        return {
            "workload": self.name,
            "seed": self.seed,
            "trace": int(self.trace),
            "nproc": os.cpu_count(),
            "master": MASTER,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "git_commit": commit,
            "src_sha256": src_hash.hexdigest(),
            "input_docs": self.wl.n_docs,
            "input_spans": self.in_spans,
            "todo_docs": self.todo_docs,
            "output_spans": [o.get("spans") for o in self.ops],
            "ops": len(self.ops),
            "timed": [o["timed"] for o in self.ops],
            "op_s": [round(o["op_s"], 4) for o in self.ops],
            "run_job_s": [round(o.get("run_job_s", 0), 4) for o in self.ops],
            "read_s": [round(o.get("read_s", 0), 4) for o in self.ops],
            "check_s": [round(o.get("check_s", 0), 4) for o in self.ops],
            "cpu_s": [o.get("cpu_s") for o in self.ops],
            "work_cpu_s": [o.get("work_cpu_s") for o in self.ops],
            "cpu_s_by_kind": [
                {k: round(v, 2) for k, v in o.get("cpu_by_kind", {}).items()} for o in self.ops
            ],
            "host_cpu_during_ops": self.host_cpu,
            "docs_per_s_wall": (
                sum(o["docs"] for o in ok) / sum(o["op_s"] for o in ok) if ok else None
            ),
            "peak_rss_mb_by_process": {
                k: round(v / 2**20, 1) for k, v in peak_rss_by_kind.items()
            },
            "setup": {
                "setup_cpu_s": round(self.setup_cpu_s, 4),
                "setup_wall_s": round(self.setup_s, 4),
                "input_gen_s": round(self.input_gen_s, 4),
                "get_spark_s": round(self.get_spark_s, 4),
                "warmup_op_s": round(self.warmup_op_s, 4),
                "included": "process start, input generation, oracle sample, session start, "
                "warm-up job (mixed_resume: the crashed run), one untimed operation",
            },
        }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(SRC, "sparkextract", "__init__.py")):
        print(f"perfbench: no program source under {SRC}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, SRC]
    from perfbench.procs import RssSampler, stop_spark

    work = os.path.join(WORK, f"run-{os.getpid()}")
    results = os.path.join(WORK, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        with RssSampler() as rss:
            bench.sampler_tid = rss.tid
            try:
                bench.setup()
                bench.timed_ops()
                metrics = bench.per_layer() if bench.trace else bench.end_to_end(rss.peak_bytes)
            finally:
                if bench.spark is not None:
                    stop_spark(bench.spark)
        info = bench.describe(rss.peak_by_kind)
        info["rss_sampler_cpu_s"] = rss.cpu_s
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = declared_units()["per_layer" if bench.trace else "end_to_end"]
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} do not match "
              "BENCHMARK.json", file=sys.stderr)
        return 1
    failed = sum(not o["ok"] for o in bench.ops)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"info": info, "result": result}, f, indent=1)
    if bench.trace:
        bench.tracer.write(stem + "-spans.json")
    print(json.dumps({"info": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
