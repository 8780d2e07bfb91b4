"""Every query module imports on its own in a fresh interpreter, so no
import cycle hides behind the order in which another module loads them;
and every reference-file citation in the package names a file the
survey cites."""

import os
import pkgutil
import re
import subprocess
import sys

import pytest

import sparkextract
import sparkextract.queries

SRC = os.path.dirname(os.path.dirname(os.path.abspath(sparkextract.__file__)))
REPO = os.path.dirname(SRC)
MODULES = sorted(m.name for m in pkgutil.iter_modules(sparkextract.queries.__path__))


@pytest.mark.parametrize("name", MODULES)
def test_query_module_imports_alone(name):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [SRC, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", f"import sparkextract.queries.{name}"],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr


def _join_lines(text):
    # a citation may wrap inside a comment or docstring: fold each line
    # break (and a comment's leading '#') into one space, and re-join a
    # path split after '/'
    return re.sub(r"[ \t]*\n[ \t]*(?:#[ \t]*)?", " ", text).replace("/ ", "/")


def test_reference_citations_name_surveyed_files():
    cited = set()
    for doc in ("SURVEY.md", "PAPER.md"):
        with open(os.path.join(REPO, doc)) as f:
            cited |= set(re.findall(r"\bsrc/[\w/.-]*?\.py", _join_lines(f.read())))
    unknown = []
    for root, _dirs, files in os.walk(os.path.join(SRC, "sparkextract")):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                text = _join_lines(f.read())
            for m in re.finditer(r"\breference[ /](src/[\w/.-]*?\.py)", text):
                if m.group(1) not in cited:
                    unknown.append(f"{os.path.relpath(path, SRC)}: {m.group(1)}")
    assert not unknown, unknown
