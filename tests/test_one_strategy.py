"""Source guards: one execution strategy per operator.

Each materialization in `functions/analysis.py` is unconditional: no
operator takes a `persist_*` or `checkpoint*` switch, every persist goes
through `_pin` (one storage level), and `StorageLevel` is imported once.
The extraction path (`extractor.py`, `tokenize.py`, `lexicon.py`) has one
configuration: it reads no environment variable.  Connected components
have one solver: every `dedup_components*` composition hands a lazy edge
frame to `_lss_components`, which owns the edge checkpoint and the
release of the caller's pins.  Independent plan builds overlap through
one thread pool, `overlap`.
"""

import ast
import os

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


def _calls(node, name: str) -> list:
    """Line numbers of every `name(...)` or `x.name(...)` call under node."""
    return [
        c.lineno
        for c in ast.walk(node)
        if isinstance(c, ast.Call)
        and getattr(c.func, "attr", getattr(c.func, "id", None)) == name
    ]


def _dedup_compositions() -> list:
    fns = [f for f in _functions(_tree(A)) if f.name.startswith("dedup_components")]
    assert len(fns) >= 7, [f.name for f in fns]
    return fns


def test_analysis_has_no_cache_call():
    assert _calls(_tree(A), "cache") == []


def test_dedup_compositions_leave_materialization_to_the_solver():
    owned = [
        fn.name
        for fn in _dedup_compositions()
        if _calls(fn, "localCheckpoint") or _calls(fn, "unpersist")
    ]
    assert owned == [], owned


def test_every_dedup_composition_calls_lss_components():
    fns = _dedup_compositions()
    missing = [f.name for f in fns if not _calls(f, "_lss_components")]
    assert missing == [], missing


def test_one_thread_pool_for_overlapped_builds():
    entry = os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    with open(entry, encoding="utf-8") as f:
        assert "ThreadPoolExecutor" not in f.read()
    tree = _tree(A)
    (overlap,) = [f for f in _functions(tree) if f.name == "overlap"]
    pools = _calls(tree, "ThreadPoolExecutor")
    assert len(pools) == 1 and pools == _calls(overlap, "ThreadPoolExecutor")
