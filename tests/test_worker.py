"""``worker.settle_worker``: the per-process set-up every Python stage
of the package runs first.

A reused pyspark worker calls ``importlib.invalidate_caches()`` at the
start of every task; before CPython 3.13 each zipimporter then re-reads
its archive's central directory.  The helper makes that re-read
conditional on the archive changing, and freezes the imported heap so
the daemon's per-task ``gc.collect()`` skips it."""

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

import pytest

from pdfextract_spark import worker

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pdfextract_spark"

_STAGES = ("mapInArrow", "mapInPandas", "applyInPandasWithState")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


# -- every Python stage settles its worker first ----------------------


def _owners(tree: ast.AST) -> dict:
    """node -> innermost enclosing function (or the module)."""
    owner: dict = {}

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            owner[child] = scope
            visit(child, child if isinstance(child, _DEFS + (ast.Lambda,)) else scope)

    visit(tree, tree)
    return owner


def _resolve(name: str, scope, owner: dict, tree):
    """What ``name`` refers to from inside ``scope``, innermost first:
    a def, or ``(value, index, scope)`` for an assignment from
    ``value`` — ``index`` None for ``name = value``, the position of
    ``name`` for ``a, name = value``."""
    while True:
        for node, s in owner.items():
            if s is not scope:
                continue
            if isinstance(node, _DEFS) and node.name == name:
                return node
            if isinstance(node, ast.Assign):
                for target in node.targets:
                    if isinstance(target, ast.Name) and target.id == name:
                        return node.value, None, scope
                    if isinstance(target, ast.Tuple):
                        for i, elt in enumerate(target.elts):
                            if isinstance(elt, ast.Name) and elt.id == name:
                                return node.value, i, scope
        if scope is tree:
            return None
        scope = owner[scope]


def _returned(call, index, scope, owner, tree) -> list:
    """The defs a named factory ``call`` returns: each return's value,
    or its element ``index`` when the factory returns a tuple."""
    if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Name)):
        return [None]
    factory = _resolve(call.func.id, scope, owner, tree)
    if not isinstance(factory, _DEFS):
        return [None]
    found = []
    for n, s in owner.items():
        if s is not factory or not isinstance(n, ast.Return):
            continue
        value = n.value
        if index is not None:
            elts = value.elts if isinstance(value, ast.Tuple) else []
            value = elts[index] if index < len(elts) else None
        found.append(
            _resolve(value.id, factory, owner, tree)
            if isinstance(value, ast.Name) else None
        )
    return [d if isinstance(d, _DEFS) else None for d in found] or [None]


def _stage_defs(fn, scope, owner, tree) -> list:
    """The defs a stage argument runs: a named function, what a named
    factory call returns, or a name assigned from such a call — the
    whole result or one element of a returned tuple.  None marks an
    argument this cannot resolve (a lambda, an attribute, ...)."""
    if isinstance(fn, ast.Name):
        d = _resolve(fn.id, scope, owner, tree)
        if isinstance(d, tuple):
            return _returned(*d, owner, tree)
        return [d]
    return _returned(fn, None, scope, owner, tree)


def _settles_first(fn) -> bool:
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    return bool(body) and ast.dump(body[0]) == ast.dump(
        ast.parse("settle_worker()").body[0]
    )


def _stages(tree: ast.AST) -> list[tuple[int, bool]]:
    """(line, settles first) for every function passed to a Python stage."""
    owner = _owners(tree)
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _STAGES
        ):
            fns = node.args[:1] + [k.value for k in node.keywords if k.arg == "func"]
            for fn in fns:
                for d in _stage_defs(fn, owner[node], owner, tree):
                    found.append((node.lineno, d is not None and _settles_first(d)))
    return found


def test_every_python_stage_settles_its_worker_first():
    stages = {
        str(p.relative_to(PACKAGE.parent)): _stages(ast.parse(p.read_text(), str(p)))
        for p in sorted(PACKAGE.rglob("*.py"))
    }
    missing = {f: [ln for ln, ok in s if not ok] for f, s in stages.items()}
    assert {f: ln for f, ln in missing.items() if ln} == {}, (
        "call settle_worker() first in these stage functions"
    )
    # extract, the job's bucket writer, masks, svm, multimodal x3,
    # transcripts, __main__ x2, stateful: the detector must keep
    # seeing all of them
    assert sum(len(s) for s in stages.values()) >= 11
    # extract's stage comes out of the shared factory's tuple; the
    # bucket writer is its own function around it
    assert len(stages["pdfextract_spark/plans/extract.py"]) == 1
    assert len(stages["pdfextract_spark/sinks.py"]) == 1


def test_detector_resolves_names_factories_and_docstrings():
    src = '''
def good(batches):
    """doc"""
    settle_worker()
    yield from batches

def bad(batches):
    yield from batches

def factory():
    def fn(key, pdfs, state):
        settle_worker()
        yield 1
    return fn

def stage():
    def run(batches):
        settle_worker()
        yield from batches
    def raw(batches):
        yield from batches
    return "a int", run, raw

def plan(df):
    def good(batches):
        x = 1
        settle_worker()
    df.mapInArrow(good, schema="a int")
    df.mapInPandas(bad, "a int")
    df.groupBy("k").applyInPandasWithState(factory(), "a int")
    df.mapInPandas(lambda it: it, "a int")
    schema, run, raw = stage()
    df.mapInArrow(run, schema=schema)
    df.mapInArrow(raw, schema=schema)
    fn = factory()
    df.mapInArrow(fn, "a int")
    whole = stage()
    df.mapInArrow(whole, "a int")
    return df.mapInArrow(func=unknown, schema="a int")
'''
    assert _stages(ast.parse(src)) == [
        (28, False),  # the nested good (shadows the module-level one)
        (29, False),
        (30, True),
        (31, False),
        (33, True),  # one element of a returned tuple
        (34, False),
        (36, True),  # a name bound to a factory call
        (38, False),  # the whole tuple is no function
        (39, False),
    ]


# -- stat-checked zip invalidation -------------------------------------


@pytest.fixture
def zipped_module(tmp_path, monkeypatch):
    """A zip holding module ``_settle_probe`` (V = 1) on sys.path,
    imported, with ``zipimport._read_directory`` counted and the
    zipimporter class restored afterwards."""
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_settle_probe.py", "V = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "_settle_probe", raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    import _settle_probe

    assert _settle_probe.V == 1
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield archive, reads
    sys.modules.pop("_settle_probe", None)
    sys.path_importer_cache.pop(str(archive), None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates lazily")
def test_unchanged_archive_is_not_reread(zipped_module):
    archive, reads = zipped_module
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1  # stock zipimport: every call
    worker.install_zip_stat_check()
    importlib.invalidate_caches()  # no recorded key yet: reads once
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates lazily")
def test_rewritten_archive_is_reread_and_imports_new_code(zipped_module):
    archive, reads = zipped_module
    worker.install_zip_stat_check()
    importlib.invalidate_caches()
    size = archive.stat().st_size
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_settle_probe.py", "V = 2  # a longer v2\n")
    assert archive.stat().st_size != size
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    del sys.modules["_settle_probe"]
    import _settle_probe

    assert _settle_probe.V == 2


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates lazily")
def test_second_install_is_a_noop(zipped_module):
    worker.install_zip_stat_check()
    installed = zipimport.zipimporter.invalidate_caches
    assert installed._stat_checked
    worker.install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is installed


@pytest.mark.skipif(sys.version_info < (3, 13), reason="only 3.13+ is left as is")
def test_zipimporter_untouched_on_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    worker.install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_settle_worker_runs_once_per_process(monkeypatch):
    freezes = []
    installs = []
    monkeypatch.setattr(worker, "_settled", False)
    monkeypatch.setattr(worker.gc, "freeze", lambda: freezes.append(1))
    monkeypatch.setattr(
        worker, "install_zip_stat_check", lambda: installs.append(1)
    )
    worker.settle_worker()
    worker.settle_worker()
    assert (len(installs), len(freezes)) == (1, 1)
