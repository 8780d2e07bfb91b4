"""get_spark's worker import path: the daemon's sys.path rewrite, the guard
that decides when workers can use it (no Spark), the core count it reads
from a local master (no Spark), the package zip it ships (no Spark), and
spark-submit's --master surviving get_spark (slow)."""

import os
import shutil
import subprocess
import tempfile
import types
import zipfile

import pytest
from pyspark import SparkContext

from sparkextract.spark import session
from sparkextract.spark.worker_daemon import worker_path

SRC = session._SRC_DIR


def _spark_python(root, pyspark_files, zip_version=b"__version__ = '4.1.2'\n"):
    """``root/python`` laid out as ``$SPARK_HOME/python``: lib/pyspark.zip
    and the pyspark/ directory holding ``pyspark_files``."""
    py = root / "python"
    (py / "lib").mkdir(parents=True)
    (py / "pyspark").mkdir()
    for name, body in pyspark_files.items():
        (py / "pyspark" / name).write_bytes(body)
    with zipfile.ZipFile(py / "lib" / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", zip_version)
    return py


def _jar(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for n in names:
            zf.writestr(n, "")
    return str(path)


DISTRO = {"__init__.py": b"", "version.py": b"__version__ = '4.1.2'\n"}


def test_worker_path_swaps_distro_zip_for_its_directory(tmp_path):
    py = _spark_python(tmp_path, DISTRO)
    assert worker_path([str(py / "lib" / "pyspark.zip")]) == [str(py)]


def test_worker_path_keeps_zip_of_pip_layout(tmp_path):
    py = _spark_python(tmp_path, {"shell.py": b""})
    zip_path = str(py / "lib" / "pyspark.zip")
    assert worker_path([zip_path]) == [zip_path]


def test_worker_path_keeps_zip_when_version_differs(tmp_path):
    py = _spark_python(tmp_path, DISTRO, zip_version=b"__version__ = '4.1.1'\n")
    zip_path = str(py / "lib" / "pyspark.zip")
    assert worker_path([zip_path]) == [zip_path]


def test_worker_path_drops_jars_without_python_and_keeps_order(tmp_path):
    py = _spark_python(tmp_path, DISTRO)
    bare = _jar(tmp_path / "spark-core.jar", ["org/apache/spark/SparkContext.class"])
    holding = _jar(tmp_path / "pyspark.jar", ["pyspark/__init__.py"])
    py4j = _jar(tmp_path / "py4j-src.zip", ["py4j/__init__.py"])
    path = [str(tmp_path), str(py / "lib" / "pyspark.zip"), py4j, bare, SRC, holding, "/usr/lib/python3.11"]
    assert worker_path(path) == [str(tmp_path), str(py), py4j, SRC, holding, "/usr/lib/python3.11"]


@pytest.fixture
def fresh_launch(monkeypatch):
    """The state get_spark sees before it launches a JVM itself."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/elsewhere", SRC]))
    return monkeypatch


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_guard_on_for_a_local_jvm_launched_here(fresh_launch, master):
    assert session._workers_import_src(master)


@pytest.mark.parametrize("master", ["yarn", "local-cluster[2,1,1024]", "spark://h:7077", None])
def test_guard_off_for_other_masters(fresh_launch, master):
    assert not session._workers_import_src(master)


def test_guard_off_under_spark_submit(fresh_launch):
    fresh_launch.setenv("PYSPARK_GATEWAY_PORT", "40000")
    assert not session._workers_import_src("local[4]")


def test_guard_off_on_a_live_gateway(fresh_launch):
    fresh_launch.setattr(SparkContext, "_gateway", object())
    assert not session._workers_import_src("local[4]")


def test_guard_off_when_pythonpath_lacks_src(fresh_launch):
    fresh_launch.setenv("PYTHONPATH", "/elsewhere")
    assert not session._workers_import_src("local[4]")


def test_pyfiles_zip_is_built_once_per_source_hash(monkeypatch, tmp_path):
    """With no dest_dir, a second call returns the same zip and makes no
    new directory, so sessions no longer leave one temp dir each."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = session.build_pyfiles_zip()
    made = sorted(os.listdir(tmp_path))
    assert session.build_pyfiles_zip() == first
    assert sorted(os.listdir(tmp_path)) == made and len(made) == 1
    assert os.listdir(os.path.dirname(first)) == ["sparkextract.zip"]
    with zipfile.ZipFile(first) as zf:
        assert "sparkextract/spark/session.py" in zf.namelist()
    # the zip in a given dest_dir holds the same bytes
    with open(first, "rb") as a, open(session.build_pyfiles_zip(str(tmp_path)), "rb") as b:
        assert a.read() == b.read()


def test_pyfiles_zip_reaps_only_day_old_hash_dirs(monkeypatch, tmp_path):
    """Building the zip removes another source hash's dir untouched for a
    day, keeps a fresh one (a session that may still be running) and
    touches its own dir when it reuses it."""
    import time

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    own = os.path.dirname(session.build_pyfiles_zip())
    fresh = tmp_path / "sparkextract_pyfiles_fresh"
    stale = tmp_path / "sparkextract_pyfiles_stale"
    for d in (fresh, stale):
        d.mkdir()
        (d / "sparkextract.zip").write_bytes(b"")
    old = time.time() - session.REAP_AGE_S - 60
    for d in (stale, own):
        os.utime(d, (old, old))
    assert os.path.dirname(session.build_pyfiles_zip()) == own
    assert not stale.exists()
    assert (fresh / "sparkextract.zip").is_file()
    assert os.path.getmtime(own) > old + 60


class _Built(Exception):
    pass


class _Builder:
    """Records what get_spark configures and stops before a JVM starts."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        raise _Built


# cores None: the machine's, for local[*,F]
@pytest.mark.parametrize("master, cores", [("local[6]", 6), ("local[6,2]", 6), ("local[*,3]", None)])
def test_get_spark_takes_cores_from_local_master(monkeypatch, master, cores):
    cores = cores or os.cpu_count()
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    monkeypatch.setenv("PYTHONPATH", SRC)
    with pytest.raises(_Built):
        session.get_spark(master=master)
    assert builder.conf["spark.sql.shuffle.partitions"] == str(max(cores * 2, 8))


@pytest.mark.slow
@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_get_spark_keeps_spark_submit_master(tmp_path):
    script = tmp_path / "master.py"
    script.write_text(
        f"import sys\nsys.path.insert(0, {SRC!r})\n"
        "from sparkextract.spark.session import get_spark\n"
        "sc = get_spark('m').sparkContext\n"
        "print('MASTER', sc.master, sc.getConf().get('spark.python.daemon.module', '-'))\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        ["spark-submit", "--master", "local[3]", "--conf", "spark.ui.enabled=false", str(script)],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("MASTER ")][-1]
    # spark-submit's master, and PySpark's own daemon: this JVM was not
    # launched with src/ on its PYTHONPATH
    assert line.split()[1:] == ["local[3]", "-"]
