"""Every query module imports on its own in a fresh interpreter, so no
import cycle hides behind the order in which another module loads them."""

import os
import pkgutil
import subprocess
import sys

import pytest

import sparkextract
import sparkextract.queries

SRC = os.path.dirname(os.path.dirname(os.path.abspath(sparkextract.__file__)))
MODULES = sorted(m.name for m in pkgutil.iter_modules(sparkextract.queries.__path__))


@pytest.mark.parametrize("name", MODULES)
def test_query_module_imports_alone(name):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [SRC, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", f"import sparkextract.queries.{name}"],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
