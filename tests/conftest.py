import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from contentextractor_spark.plans.pipeline import build_spark

    spark = build_spark(app="cx-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


def _unionfind_labels(edges, nodes=()) -> dict:
    """Reference components: node -> min id of its connected component,
    by a dict union-find that always hooks the LARGER root under the
    smaller, so the root IS the component's min.  Every endpoint of the
    (a, b) `edges` and every id in `nodes` is labelled; an id on no edge
    labels itself."""
    parent: dict = {}

    def _find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    edges = list(edges)
    for a, b in edges:
        ra, rb = _find(a), _find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: _find(v) for v in {*nodes, *(v for e in edges for v in e)}}


@pytest.fixture(scope="session")
def unionfind_labels():
    """The dict union-find the components driver replay used before
    vectorized root hooking; every components differential checks
    against it."""
    return _unionfind_labels
