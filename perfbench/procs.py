"""Process-tree memory sampling and the Spark session's lifetime.

The benchmark owns one Spark session at a time. Stopping it also shuts the
py4j gateway down and waits until the JVM and every Python worker it
started have exited, so the next session (or the benchmark's exit) never
overlaps a dying one.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from collections import defaultdict

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children()
    tree = [root or os.getpid()]
    for pid in tree:
        tree.extend(kids.get(pid, ()))
    return tree


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _pss(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it. Summed over processes it counts the
    pages a forked Python worker shares with its parent once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _kind(pid: int) -> str:
    if pid == os.getpid():
        return "driver"
    return "jvm" if _comm(pid) == "java" else "python_workers"


def tree_memory_by_kind() -> dict[str, int]:
    """Resident bytes of this process tree by kind: the JVM's RSS (reading
    its PSS costs a third of a core at 10 samples a second), the PSS of
    every Python process. A child of the JVM that is not (yet) Python is
    left out: between spawn and exec it shares the JVM's memory, and
    counting it once added the JVM's 1.4 GiB a second time."""
    kids = _children()
    out: dict[str, int] = defaultdict(int)
    tree = [os.getpid()]
    for pid in tree:
        kind = _kind(pid)
        out[kind] += _rss(pid) if kind == "jvm" else _pss(pid)
        for child in kids.get(pid, ()):
            if kind != "jvm" or _comm(child).startswith("python"):
                tree.append(child)
    return out


class RssSampler:
    """Peak of the resident memory of this process tree, sampled every
    ``interval`` seconds on a daemon thread (see tree_memory_by_kind),
    and how the peak splits between this process, the JVM and the Python
    workers."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_kind: dict[str, int] = {}
        self.tid: int | None = None  # the sampling thread's, once it runs
        self._started = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        self.tid = threading.get_native_id()
        self._started.set()
        while not self._stop.is_set():
            by_kind = tree_memory_by_kind()
            total = sum(by_kind.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_by_kind = total, dict(by_kind)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s = _cpu_ticks(f"/proc/self/task/{self.tid}/stat", _OWN) / os.sysconf(
            "SC_CLK_TCK"
        )
        self._stop.set()
        self._thread.join()


def _cpu_ticks(stat_path: str, fields: slice) -> int:
    try:
        with open(stat_path) as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(map(int, stat[stat.rindex(")") + 2 :].split()[fields]))


# utime + stime, and with cutime + cstime (exited, waited-for children)
_OWN, _WITH_CHILDREN = slice(11, 13), slice(11, 15)


def _jvm_thread_kind(tid_dir: str) -> str | None:
    try:
        with open(os.path.join(tid_dir, "comm")) as f:
            comm = f.read()
    except OSError:
        return None
    if "CompilerThre" in comm:
        return "jvm_jit"
    if comm.startswith(("GC Thread", "G1 ")):
        return "jvm_gc"
    return None


def tree_cpu_by_kind(exclude_tid: int | None = None) -> dict[str, float]:
    """CPU seconds used by this process tree, exited children included,
    split into this process, the JVM's JIT compiler threads, its GC
    threads, the rest of the JVM, and the Python workers. ``exclude_tid``
    is a thread of this process whose CPU time is left out."""
    ticks: dict[str, int] = defaultdict(int)
    if exclude_tid is not None:
        ticks["driver"] -= _cpu_ticks(f"/proc/self/task/{exclude_tid}/stat", _OWN)
    for pid in process_tree():
        kind = _kind(pid)
        total = _cpu_ticks(f"/proc/{pid}/stat", _WITH_CHILDREN)
        if kind == "jvm":
            task = f"/proc/{pid}/task"
            try:
                tids = os.listdir(task)
            except OSError:
                tids = []
            for tid in tids:
                sub = _jvm_thread_kind(os.path.join(task, tid))
                if sub:
                    t = _cpu_ticks(os.path.join(task, tid, "stat"), _OWN)
                    ticks[sub] += t
                    total -= t
        ticks[kind] += total
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v / hz for k, v in ticks.items()}



def host_cpu() -> tuple[int, int, int]:
    """(busy, steal, total) clock ticks of the whole host since boot."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def start_spark(master: str, work_dir: str, driver_memory: str):
    """A session from the program's own factory, with every temporary file
    of the JVM, its workers and this process kept under ``work_dir``."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # spark-submit first runs a launcher JVM, which ignores the driver options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARKEXTRACT_DRIVER_MEM"] = driver_memory
    tempfile.tempdir = None  # re-read TMPDIR

    from sparkextract.spark.session import get_spark

    return get_spark(
        "perfbench",
        master=master,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                # a fixed heap and young generation: how far G1 grows them
                # depends on GC timing, and moved the JVM's peak RSS
                # between 1.5 and 2.1 GiB over runs with a 2 GiB heap
                f"-Xms{driver_memory} -Xmn256m "
                # compiler threads that never exit, so their CPU time stays
                # apart from the rest of the JVM's (tree_cpu_by_kind)
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, its JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    started = process_tree()[1:]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait(timeout)
        wait_gone(started, timeout)


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until ``pids`` have exited; kill what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)
