"""Engine Python bodies drop the zipimport finders before they work.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task, and each cached ``zipimporter`` then re-reads its whole
archive directory (pyspark.zip, the spark-core jar, py4j). The engine's
answer is ``kernels.forget_zip_finders``, called first in every
``pandas_udf``/``udf``/``mapInPandas``/``applyInPandasWithState`` body.
This file tests the helper on a real zip archive and guards, with one
AST pass over the package, that no engine Python body skips it.
"""

from __future__ import annotations

import ast
import importlib
import os
import sys
import zipfile
import zipimport

from interop_spark.operators.kernels import forget_zip_finders

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO_ROOT, "interop_spark")

HELPER = "forget_zip_finders"
# the call that wraps a Python function into an engine Python body
# (decorator or call with the function as first argument)
UDF_WRAPPERS = {"pandas_udf", "udf"}
GROUP_APPLIERS = {"mapInPandas", "applyInPandasWithState"}


def test_forget_zip_finders_drops_zip_entries_and_imports_still_work(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zf_probe_mod.py", "VALUE = 41 + 1\n")
    plain_dir = str(tmp_path)
    # the import scans the plain directory first, then finds the module
    # in the archive: both get a cached finder
    monkeypatch.syspath_prepend(archive)
    monkeypatch.syspath_prepend(plain_dir)
    monkeypatch.delitem(sys.modules, "zf_probe_mod", raising=False)
    try:
        assert importlib.import_module("zf_probe_mod").VALUE == 42
        cache = sys.path_importer_cache
        assert isinstance(cache[archive], zipimport.zipimporter)
        assert plain_dir in cache

        # with the finder cached, invalidation re-reads the archive
        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        forget_zip_finders()
        assert archive not in cache
        assert not any(
            isinstance(f, zipimport.zipimporter) for f in cache.values()
        )
        # the directory finder stays: only zip finders are dropped
        assert plain_dir in cache

        # ... and without it, invalidation reads nothing
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads

        # a fresh import from the archive rebuilds the finder from
        # zipimport's directory cache, without reading the archive
        del sys.modules["zf_probe_mod"]
        assert importlib.import_module("zf_probe_mod").VALUE == 42
        assert isinstance(cache[archive], zipimport.zipimporter)
        assert archive not in reads
    finally:
        sys.modules.pop("zf_probe_mod", None)
        sys.path_importer_cache.pop(archive, None)


def _callee_name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls_helper_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    if not body or not isinstance(body[0], ast.Expr):
        return False
    call = body[0].value
    return (
        isinstance(call, ast.Call)
        and isinstance(call.func, ast.Name)
        and call.func.id == HELPER
        and not call.args
        and not call.keywords
    )


def _python_bodies(tree: ast.Module, where: str):
    """Yield (location, FunctionDef or None) for every function the
    module wraps as a Python body; None when the wrapped callable is a
    lambda or a name with no function definition in scope, neither of
    which can be checked to call the helper first. A wrapper call whose
    first argument is any other expression applies an existing UDF to
    a Column (``enc_udf(F.col(...))``) and wraps nothing."""
    scopes: list[ast.AST] = [tree]
    decorators: set[int] = set()

    def resolve(name: str):
        for scope in reversed(scopes):
            for node in ast.walk(scope):
                if isinstance(node, ast.FunctionDef) and node.name == name:
                    return node
        return None

    def visit(node: ast.AST):
        if isinstance(node, ast.FunctionDef):
            for dec in node.decorator_list:
                decorators.add(id(dec))
                target = dec.func if isinstance(dec, ast.Call) else dec
                if _callee_name(target) in UDF_WRAPPERS:
                    yield f"{where}:{node.lineno} {node.name}", node
        if isinstance(node, ast.Call) and id(node) not in decorators:
            name = _callee_name(node.func)
            if (name in UDF_WRAPPERS | GROUP_APPLIERS) and node.args:
                arg = node.args[0]
                loc = f"{where}:{node.lineno} {name}"
                if isinstance(arg, ast.Name):
                    yield f"{loc}({arg.id})", resolve(arg.id)
                elif isinstance(arg, ast.Lambda):
                    yield f"{loc}(lambda)", None
        is_scope = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        if is_scope:
            scopes.append(node)
        for child in ast.iter_child_nodes(node):
            yield from visit(child)
        if is_scope:
            scopes.pop()

    yield from visit(tree)


def test_every_engine_python_body_forgets_zip_finders_first():
    found, missing = [], []
    for dirpath, _, files in os.walk(PACKAGE):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            rel = os.path.relpath(path, REPO_ROOT)
            for loc, fn in _python_bodies(tree, rel):
                found.append(loc)
                if fn is None or not _calls_helper_first(fn):
                    missing.append(loc)
    # the guard must see the engine's bodies: 4 similarity scorers, the
    # PQ coder, the BPE encoder, 4 multimodal extractors, the Gram pass,
    # the NFC normalizer, the FHIR override encoder, 2 stateful streams
    assert len(found) >= 15, found
    assert not missing, (
        f"these Python bodies must call {HELPER}() as their first "
        f"statement: {missing}"
    )
