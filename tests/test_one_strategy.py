"""Source guards: one execution strategy per operator.

Each materialization in `functions/analysis.py` is unconditional: no
operator takes a `persist_*` or `checkpoint*` switch, every persist goes
through `_pin` (one storage level), and `StorageLevel` is imported once.
The extraction path (`extractor.py`, `tokenize.py`, `lexicon.py`) has one
configuration: it reads no environment variable.
"""

import ast

import pytest

from contentextractor_spark import extractor
from contentextractor_spark.functions import analysis as A
from contentextractor_spark.functions import lexicon, tokenize


def _tree(mod) -> ast.Module:
    with open(mod.__file__, encoding="utf-8") as f:
        return ast.parse(f.read())


def _functions(tree: ast.Module) -> list:
    return [
        fn
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def test_no_materialization_switches_in_analysis():
    switches = [
        f"{fn.name}({a.arg})"
        for fn in _functions(_tree(A))
        for a in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
        if a.arg.startswith(("persist_", "checkpoint"))
    ]
    assert switches == [], switches


def test_every_persist_goes_through_pin():
    tree = _tree(A)
    owner: dict = {}
    for fn in _functions(tree):
        for node in ast.walk(fn):
            owner[node] = fn.name  # inner functions overwrite outer
    persists = [
        owner.get(node, "<module>")
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "persist"
    ]
    assert persists == ["_pin"], persists
    imports = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and any(a.name == "StorageLevel" for a in node.names)
    ]
    assert len(imports) == 1, imports


@pytest.mark.parametrize("mod", [extractor, tokenize, lexicon])
def test_extraction_reads_no_environment(mod):
    reads = [
        node.lineno
        for node in ast.walk(_tree(mod))
        if (isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"))
        or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(a.name in ("environ", "getenv") for a in node.names)
        )
    ]
    assert reads == [], reads
