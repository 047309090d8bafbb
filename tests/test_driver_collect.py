"""The bounded driver-collect primitive of the graph operators.

Every graph driver replay reaches the driver through
`_collect_within(df, bound)` (a cached `_fits_within` limit-probe, then
`toPandas`) and takes its node codes from `_factorize`.  These tests pin
the helpers, the components replay against the dict union-find it
replaced, the seed-set bound that the primitive adds to PPR, bfs_levels
and katz, and a source guard against hand-written probes growing back
in `functions/analysis.py`.
"""

import ast

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from contentextractor_spark.functions import analysis as A


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _count_probes(monkeypatch, df) -> list:
    """Record the bound of every DataFrame.limit call (the probe) from now on."""
    calls: list = []
    cls = type(df)
    orig = cls.limit

    def limit(self, n):
        calls.append(n)
        return orig(self, n)

    monkeypatch.setattr(cls, "limit", limit)
    return calls


# ------------------------------------------------- _min_root_labels
def _replay(hi, lo) -> dict:
    nodes, component = A._min_root_labels(hi, lo)
    assert nodes.dtype == component.dtype == np.int64
    return dict(zip(nodes.tolist(), component.tolist()))


@pytest.mark.parametrize("seed", range(6))
def test_min_root_labels_match_unionfind_on_random_graphs(
    seed, unionfind_labels
):
    """Sparse to dense random graphs over scattered int64 ids, duplicate
    edges and (hi, lo) in either order included."""
    rng = np.random.default_rng(seed)
    n_nodes = int(rng.integers(2, 3000))
    n_edges = int(rng.integers(1, 2 * n_nodes))
    ids = rng.choice(10**12, size=n_nodes, replace=False).astype(np.int64)
    a = ids[rng.integers(0, n_nodes, n_edges)]
    b = ids[rng.integers(0, n_nodes, n_edges)]
    keep = a != b
    hi, lo = np.maximum(a, b)[keep], np.minimum(a, b)[keep]
    want = unionfind_labels(zip(hi.tolist(), lo.tolist()))
    assert _replay(hi, lo) == want
    assert _replay(lo, hi) == want


def test_min_root_labels_match_unionfind_on_permuted_chain(unionfind_labels):
    """A 100k-node path whose ids are a random permutation: diameter
    100k, so neither hooking nor compression may stop early."""
    ids = np.random.default_rng(7).permutation(100_000).astype(np.int64) + 5
    a, b = ids[:-1], ids[1:]
    hi, lo = np.maximum(a, b), np.minimum(a, b)
    labels = _replay(hi, lo)
    assert labels == unionfind_labels(zip(hi.tolist(), lo.tolist()))
    assert set(labels.values()) == {5}


# ------------------------------------------------------ _collect_within
def test_collect_within_is_inclusive_at_the_bound(spark):
    pdf = A._collect_within(spark.range(7), 7)
    assert pdf is not None
    assert sorted(pdf["id"].tolist()) == list(range(7))
    assert A._collect_within(spark.range(8), 7) is None


def test_collect_within_reuses_cached_proofs(spark, monkeypatch):
    fit = spark.range(5)
    guarded = spark.range(5)
    assert A._fits_within(fit, 5)
    A._refuse_above(guarded, 5, "t", "hint")
    calls = _count_probes(monkeypatch, fit)
    assert len(A._collect_within(fit, 5)) == 5
    assert len(A._collect_within(fit, 9)) == 5  # a looser bound: same proof
    assert len(A._collect_within(guarded, 5)) == 5
    assert calls == []
    assert A._collect_within(fit, 4) is None  # a stricter bound re-probes
    assert calls == [5]


# ----------------------------------------------------------- _factorize
def test_factorize_matches_dict_mapping_on_int64_ids():
    rng = np.random.RandomState(11)
    src = rng.randint(-(2**40), 2**40, 3000).astype(np.int64)
    dst = rng.choice(src, 3000)
    seeds = np.array([src[0], 7, -1, 7], dtype=np.int64)
    nodes, si, di, sc = A._factorize(src, dst, seeds)
    old = np.unique(np.concatenate([src, dst, seeds]))
    lookup = {int(v): i for i, v in enumerate(old)}
    assert np.array_equal(nodes, old)
    for arr, codes in ((src, si), (dst, di), (seeds, sc)):
        assert codes.dtype == np.int64
        assert codes.tolist() == [lookup[int(v)] for v in arr]


def test_factorize_matches_dict_mapping_on_string_ids(spark):
    """String word graphs as _pagerank_driver receives them for textrank:
    object columns from toPandas, factorized against the sorted domain."""
    words = ["猫", "dog", "Zebra", "ねこ", "apple", "dog", "", "apple pie"]
    ep = spark.createDataFrame(
        list(zip(words, words[3:] + words[:3])), ["src", "dst"]
    ).toPandas()
    nodes, si, di = A._factorize(ep["src"].to_numpy(), ep["dst"].to_numpy())
    both = pd.concat([ep["src"], ep["dst"]], ignore_index=True)
    old_nodes = np.sort(both.unique())
    codes = pd.Series(both).map(
        {v: i for i, v in enumerate(old_nodes)}
    ).to_numpy(dtype=np.int64)
    assert nodes.tolist() == old_nodes.tolist()
    assert si.tolist() == codes[: len(ep)].tolist()
    assert di.tolist() == codes[len(ep):].tolist()


# ------------------------------------------------ bounded seed sets
_SEEDED = {
    "personalized_pagerank": (
        lambda e, s: A.personalized_pagerank(e, s, iters=2),
        ("node", "rank_micro"),
    ),
    "bfs_levels": (
        lambda e, s: A.bfs_levels(e, s, max_depth=3),
        ("node", "dist"),
    ),
    "katz_centrality": (
        lambda e, s: A.katz_centrality(e, s, max_len=3),
        ("node", "katz_milli", "n_walks_total"),
    ),
}


@pytest.mark.parametrize("name", sorted(_SEEDED))
def test_seed_set_over_bound_takes_distributed_path(spark, monkeypatch, name):
    """Six edges fit a bound of 10, twenty seeds do not: the operator must
    not collect the seeds, so it runs the distributed loop.  Seeds come
    from spark.range, so only the driver replay plans a LocalTableScan."""
    op, cols = _SEEDED[name]
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (2, 5), (7, 8)], ["src", "dst"]
    )
    seeds = spark.range(20).select(F.col("id").alias("node"))

    def run():
        df = op(edges, seeds)
        return _physical(df), {tuple(r[c] for c in cols) for r in df.collect()}

    fast_plan, fast = run()
    assert "LocalTableScan" in fast_plan, fast_plan
    monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 10)
    slow_plan, slow = run()
    assert "LocalTableScan" not in slow_plan, slow_plan
    assert slow == fast


# ------------------------------------------------------- source guard
def _analysis_tree() -> ast.Module:
    with open(A.__file__, encoding="utf-8") as f:
        return ast.parse(f.read())


def _enclosing_functions(tree: ast.Module) -> dict:
    owner: dict = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                owner[node] = fn.name  # inner functions overwrite outer
    return owner


def test_only_fits_within_probes_with_limit_count():
    """One `.limit(n).count()` probe in analysis.py, inside _fits_within:
    every other bound check goes through it."""
    tree = _analysis_tree()
    owner = _enclosing_functions(tree)
    probes = [
        owner.get(node, "<module>")
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "count"
        and isinstance(node.func.value, ast.Call)
        and isinstance(node.func.value.func, ast.Attribute)
        and node.func.value.func.attr == "limit"
    ]
    assert probes == ["_fits_within"], probes


def test_no_dict_factorization_of_nodes():
    """Node codes come from _factorize, not `enumerate(nodes)` dicts."""
    tree = _analysis_tree()
    owner = _enclosing_functions(tree)
    sites = [
        owner.get(node, "<module>")
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "enumerate"
        and node.args
        and isinstance(node.args[0], ast.Name)
        and node.args[0].id == "nodes"
    ]
    assert sites == [], sites
