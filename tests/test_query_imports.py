"""Every query module imports on its own in a fresh interpreter, so no
import cycle hides behind the order in which another module loads them;
every reference-file citation in the package names a file the survey
cites; no query module keeps a top-level name that nothing reaches; each
shared query kernel is spelled in one place; the registry and the driver
view stay within their caps; only ``base.py`` keys state on the Spark
session, and its memos miss on a rewritten input; and the tests share
one Spark fixture and one ``SF_DIR``."""

import ast
import os
import pkgutil
import re
import shutil
import subprocess
import sys

import pytest

import sparkextract
import sparkextract.queries
from conftest import write_docs

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


# --- reachability of query code ------------------------------------------
#
# Every top-level function, class or assigned name in queries/*.py must be
# reachable from a root: a registered query, anything in panels.py,
# base.py or registry.py, a module statement that is not a definition
# (``ORACLE_SQL["..."] = _ORACLE``), or a name used outside queries/. A
# name inside a string literal counts as a reference, because oracles are
# assembled from f-strings and ``.replace`` templates; docstrings do not.

QUERIES_DIR = os.path.join(SRC, "sparkextract", "queries")
_ROOT_MODULES = {"panels", "base", "registry"}
_IDENT = re.compile(r"[A-Za-z_]\w*")
# code outside queries/ whose names keep query code alive
_OUTSIDE = ("src/sparkextract", "tests", "tools", "scripts", "perfbench",
            "bench.py", "__spark_entry__.py")


def _docstrings(tree):
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                    and isinstance(first.value.value, str):
                out.add(id(first.value))
    return out


def _references(node, docstrings):
    """(bare names, names found by attribute, import or string) in a subtree."""
    names, loose = set(), set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            loose.add(sub.attr)
        elif isinstance(sub, ast.alias):
            loose.add(sub.name.rsplit(".", 1)[-1])
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str) \
                and id(sub) not in docstrings:
            loose.update(_IDENT.findall(sub.value))
    return names, loose


def _defined_names(stmt):
    """Names a top-level statement defines, or None if it is not a definition."""
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    elif isinstance(stmt, ast.Assign):
        targets = stmt.targets
    else:
        return None
    if all(isinstance(t, ast.Name) for t in targets):
        return [t.id for t in targets]
    return None


def _is_registered(stmt):
    return isinstance(stmt, ast.FunctionDef) and any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in stmt.decorator_list
    )


def _outside_names():
    used = set()
    for rel in _OUTSIDE:
        path = os.path.join(REPO, rel)
        paths = [path] if path.endswith(".py") else [
            os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs if f.endswith(".py")
        ]
        for p in paths:
            if not p.startswith(QUERIES_DIR + os.sep):
                with open(p) as f:
                    tree = ast.parse(f.read())
                used.update(*_references(tree, _docstrings(tree)))
    return used


def test_query_code_is_reachable():
    defs = {}  # (module, name) -> references of its definition
    imported = {}  # (module, local name) -> (module, name) it was imported from
    roots = set()
    root_refs = []  # (module, references) of non-definition statements
    for mod in MODULES:
        with open(os.path.join(QUERIES_DIR, mod + ".py")) as f:
            tree = ast.parse(f.read())
        docstrings = _docstrings(tree)
        for stmt in tree.body:
            if isinstance(stmt, ast.ImportFrom) and (stmt.module or "").startswith("sparkextract.queries."):
                for a in stmt.names:
                    imported[(mod, a.asname or a.name)] = (stmt.module.rsplit(".", 1)[-1], a.name)
            if isinstance(stmt, (ast.Import, ast.ImportFrom)) or (
                    isinstance(stmt, ast.Expr) and id(stmt.value) in docstrings):
                continue
            refs = _references(stmt, docstrings)
            names = _defined_names(stmt)
            if names is None:
                root_refs.append((mod, refs))
            for name in names or ():
                defs[(mod, name)] = refs
                if mod in _ROOT_MODULES or _is_registered(stmt):
                    roots.add((mod, name))

    by_name = {}
    for key in defs:
        by_name.setdefault(key[1], set()).add(key)

    def resolve(mod, refs):
        names, loose = refs
        out = set()
        for n in names | loose:
            if (mod, n) in defs:
                out.add((mod, n))
            elif (mod, n) in imported:
                out.add(imported[(mod, n)])
            elif n in loose:
                out |= by_name.get(n, set())
        return out

    for name in _outside_names():
        roots |= by_name.get(name, set())
    for mod, refs in root_refs:
        roots |= resolve(mod, refs)

    seen, todo = set(), list(roots)
    while todo:
        key = todo.pop()
        if key not in seen and key in defs:
            seen.add(key)
            todo.extend(resolve(key[0], defs[key]))
    dead = sorted(f"{m}.{n}" for m, n in set(defs) - seen)
    assert not dead, f"query code that no root reaches: {dead}"


# --- one home per shared kernel ------------------------------------------
#
# Each shared text or vector kernel has one Spark and one DuckDB
# implementation, and the queries that need it call those. A second
# spelling of a kernel body anywhere in queries/*.py is a copy that a fix
# to the home would miss, so each pattern below must occur exactly once,
# in its home. A pattern is matched against the code with all whitespace
# removed: a string literally, a compiled regex by ``findall``.
_KERNEL_HOMES = {
    "sqrt(list_sum(list_transform(": ("ann", "_norm_sql"),  # DuckDB cosine
    "/ (_norm(": ("ann", "_cos"),  # Spark cosine
    # word tokens: split on ' ', '' dropped
    re.compile(r'F\.filter\(F\.split\([^()]*,""\),lambda(\w+):\1!=F\.lit\(""\)\)'):
        ("text", "_words"),
    re.compile(r"list_filter\(string_split\([^()]*,''\),(\w+)->\1(?:<>|!=)''\)"):
        ("text", "_words_sql"),
    # word k-grams; each pattern also matches the forms that earlier
    # copies used (sequence(1, size - k + 1), concat_ws bigrams, and the
    # '|'-joined grams of q136 and q139 over sequence(k, size))
    re.compile(
        r"F\.greatest\(F\.size\(\w+\)-"
        r"|F\.sequence\(F\.lit\(\w+\),F\.size\("
        r'|lambda\w+,\w+:F\.concat_ws\("",\w+,F\.element_at\('
    ): ("text", "_kgrams"),
    re.compile(r"\[i:i\+|\[i(?:-1)?\]\|\|'[^']*'\|\|"): ("text", "_kgrams_sql"),
    # lowercase alphabetic terms and their per-doc counts
    "F.split(F.lower(": ("retrieval", "_term_tf"),
    "regexp_split_to_array(lower(": ("retrieval", "_TERM_TF_SQL"),
    # BM25 corpus statistics and query terms, then the term contribution
    '(F.sum("dl").cast("double") / F.count("*"))': ("retrieval", "_bm25_cand"),
    "CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl": ("retrieval", "_BM25_CAND_SQL"),
    "F.lit(0.75)": ("retrieval", "_bm25_contrib"),
    "CAST(0.75 AS DOUBLE)": ("retrieval", "_BM25_CONTRIB_SQL"),
    # keyword overlap against the fixed query words
    "F.split(F.lit(_QUERY_WORDS)": ("retrieval", "_overlap"),
    "string_split('{_QUERY_WORDS}'": ("retrieval", "_overlap_sql"),
    # SimHash sign-vote fold
    'F.shiftright("hv", b)': ("dedup", "_simhash"),
    "THEN 1 ELSE -1 END": ("dedup", "_simhash_sql"),
    # the FLOAT -> DOUBLE embedding cast
    'F.transform("embedding", lambda x: x.cast("double"))': ("ann", "_emb_double"),
    "list_transform(embedding, x -> CAST(x AS DOUBLE))": ("ann", "_EMB_DOUBLE_SQL"),
    # ROUND-6 nearest-centroid argmax over the 8 IVF centroids
    '(-F.col("cent_id")).alias("t")': ("ann", "_nearest_cell"),
    re.compile(r'ORDERBYROUND\(\{_cos_sql\([^)]*"ct\.cv"\)\},6\)DESC'):
        ("ann", "_nearest_cell_sql"),
    # the LSH band-bucket pair self-join
    '(F.col("x.band") == F.col("y.band"))': ("dedup", "_band_pairs"),
    "x.band = y.band": ("dedup", "_band_pairs_sql"),
    # the embeddings plus their +0.25 twins
    'x.cast("double") + 0.25': ("dedup", "_banded_corpus"),
    "AS DOUBLE) + 0.25": ("dedup", "_BANDED_CORPUS_SQL"),
    # the input span struct body, and the media_ref of the interleaved
    # wrap's media span in SQL
    re.compile(r'\.alias\("media_ref"\),[^,]*\.alias\("offset"\)'): ("extraction", "_span"),
    "'img://' || CAST(doc_id AS VARCHAR) || '/1'": ("extraction", "_MEDIA_REF_SQL"),
}


def _count(pattern, body):
    if isinstance(pattern, re.Pattern):
        return len(pattern.findall(body))
    return body.count(re.sub(r"\s+", "", pattern))


def test_each_shared_kernel_is_spelled_once():
    spelled = {pattern: [] for pattern in _KERNEL_HOMES}
    for mod in MODULES:
        with open(os.path.join(QUERIES_DIR, mod + ".py")) as f:
            text = f.read()
        lines = text.splitlines()
        for stmt in ast.parse(text).body:
            first = min([stmt.lineno] + [d.lineno for d in getattr(stmt, "decorator_list", [])])
            body = re.sub(r"\s+", "", "\n".join(lines[first - 1:stmt.end_lineno]))
            name = (_defined_names(stmt) or ["<statement>"])[0]
            for pattern, where in spelled.items():
                where += [(mod, name)] * _count(pattern, body)
    assert spelled == {pattern: [home] for pattern, home in _KERNEL_HOMES.items()}


def test_session_keyed_state_lives_in_base():
    """Every query that materializes or writes once per (session, input)
    goes through ``base.checkpoint_memo`` or ``base.run_once``, whose keys
    carry the input token: no other module keys state on the session."""
    spelled = []
    for mod in MODULES:
        with open(os.path.join(QUERIES_DIR, mod + ".py")) as f:
            if mod != "base" and "applicationId" in f.read():
                spelled.append(mod)
    assert not spelled


def test_one_spark_fixture_and_one_sf_dir():
    """Only conftest.py defines the ``spark`` fixture or assigns ``SF_DIR``,
    so every test file shares one session and one test corpus."""
    tests_dir = os.path.join(REPO, "tests")
    extra = []
    for name in sorted(os.listdir(tests_dir)):
        if not name.endswith(".py") or name == "conftest.py":
            continue
        with open(os.path.join(tests_dir, name)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "spark" and any(
                    "fixture" in ast.unparse(d) for d in node.decorator_list):
                extra.append(f"{name}: spark fixture")
            targets = node.targets if isinstance(node, ast.Assign) else (
                [node.target] if isinstance(node, (ast.AnnAssign, ast.AugAssign)) else [])
            if any(isinstance(t, ast.Name) and t.id == "SF_DIR" for t in targets):
                extra.append(f"{name}: SF_DIR")
    assert not extra, extra


def test_wave3_registered_with_oracles():
    from sparkextract.queries.registry import ORACLE_SQL, SPARK_QUERIES

    for name in (
        "q44_media_featurize",
        "q45_media_dedup",
        "q46_ivf_topk",
        "q47_retrieval_filters",
    ):
        assert name in SPARK_QUERIES and name in ORACLE_SQL


def test_driver_view_fits_cap_and_covers_registry():
    # the driver contract records at most 50 queries() entries: the
    # exported view must leave at least 12 free slots, keep 1:1 oracles,
    # and account for every fine-grained query directly or via a panel
    from sparkextract.queries.panels import PANEL_SPECS, PANELED
    from sparkextract.queries.registry import SPARK_QUERIES, driver_queries

    sq, osql = driver_queries()
    assert len(sq) <= 38
    # the catalogue only shrinks: each cut stage lowers this bound
    assert len(SPARK_QUERIES) <= 95
    assert set(osql) == set(sq)
    exported = set(sq)
    for name in SPARK_QUERIES:
        assert name in exported or name in PANELED, name
    for pname, (cols, parts) in PANEL_SPECS.items():
        tags = [t for t, _, _ in parts]
        assert len(set(tags)) == len(tags), pname
        colnames = {c for c, _ in cols}
        for _tag, fine, mapping in parts:
            assert fine in SPARK_QUERIES, fine
            assert set(mapping) <= colnames, (pname, fine)


def test_checkpoint_memo_invalidates_on_rewrite(spark, tmp_path):
    """Rewriting the parquet under the same dir in one session must MISS
    the memo (input_token keys on file size/mtime), not serve stale
    checkpointed data."""
    from sparkextract.queries.base import checkpoint_memo, load

    root = str(tmp_path / "memo")
    write_docs(spark, [(1, "alpha", 0)], root)
    build = lambda: load(spark, root, "documents").select("doc_id", "text")
    first = checkpoint_memo(spark, root, "t", build).collect()
    assert [r["text"] for r in first] == ["alpha"]
    shutil.rmtree(os.path.join(root, "documents.parquet"))
    write_docs(spark, [(1, "beta", 0)], root)
    second = checkpoint_memo(spark, root, "t", build).collect()
    assert [r["text"] for r in second] == ["beta"]


def test_run_once_queries_follow_a_rewritten_input(spark, tmp_path):
    """q68's signature memo and the run-once roots of q95, q108 and q145
    key on the input's content: after documents.parquet is rewritten in
    the same session, each returns rows of the new input. Docs 2 and 7
    copy the text of docs 1 and 6, so they are q68's near-dup pairs and
    share q145's content hashes; no id is a multiple of 11, so q68
    injects no pair of its own."""
    from sparkextract.queries.dedup import q68_simhash_near_dup
    from sparkextract.queries.incremental import (
        q95_manifest_resume_state,
        q108_streaming_incremental,
        q145_streaming_stateful_dedup,
    )

    root = str(tmp_path / "rewritten")

    def text(d):
        d = {2: 1, 7: 6}.get(d, d)
        return " ".join(f"w{d}x{i}" for i in range(30))

    for n, pairs in ((5, [(1, 2)]), (10, [(1, 2), (6, 7)])):
        write_docs(spark, [(d, text(d), len(text(d))) for d in range(1, n + 1)], root)
        resumed = q95_manifest_resume_state(spark, root).collect()
        assert sum(r["doc_count"] for r in resumed) == n
        streamed = q108_streaming_incremental(spark, root).collect()
        assert {r["doc_id"] for r in streamed} == {str(d) for d in range(1, n + 1)}
        assert q145_streaming_stateful_dedup(spark, root).count() == len({text(d) for d in range(1, n + 1)})
        near = q68_simhash_near_dup(spark, root).collect()
        assert sorted((r["left_id"], r["right_id"]) for r in near) == pairs
