"""Exact edit-distance similarity join (ED-Join q-gram prefix filter):
zero false negatives vs brute-force levenshtein, planted edit types, the
short-string refusal, and the prefix-df cap + loud overflow companion."""

import random

import pytest

from contentextractor_spark.functions import analysis as A


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.fixture(scope="module")
def planted(spark):
    return _docs(
        spark,
        [
            (0, "abcdef"),
            (1, "abXdef"),   # 1 substitution
            (2, "abcdeff"),  # 1 insertion
            (3, "abcde"),    # 1 deletion
            (4, "abXdeff"),  # 2 edits from 0 (1 from each of 1/2)
            (5, "zzzzzz"),   # far from everything
            (6, "abcdef"),   # identical to 0 (dist 0)
        ],
    )


def test_planted_edit_types(planted):
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in A.editdist_pairs(planted, max_d=1, q=2).collect()
    }
    assert got == {
        (0, 1): 1,
        (0, 2): 1,
        (0, 3): 1,
        (0, 6): 0,
        (1, 4): 1,
        (1, 6): 1,
        (2, 4): 1,
        (2, 6): 1,
        (3, 6): 1,
    }


@pytest.mark.parametrize("max_d,q", [(1, 2), (2, 2), (1, 3), (2, 3)])
def test_brute_force_parity(spark, max_d, q):
    # small-alphabet random strings: dist-<=d pairs abound, and the
    # prefix filter must lose NOTHING vs the all-pairs levenshtein truth
    rnd = random.Random(11)
    rows = [
        (i, "".join(rnd.choice("abcd") for _ in range(rnd.randrange(5, 9))))
        for i in range(70)
    ]
    docs = _docs(spark, rows)
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in A.editdist_pairs(docs, max_d=max_d, q=q).collect()
    }
    want = {}
    for a, ta in rows:
        for b, tb in rows:
            if a < b:
                d = _lev(ta, tb)
                if d <= max_d:
                    want[(a, b)] = d
    assert got == want
    assert want  # non-vacuous


def test_repetitive_string_gram_disjoint_pair(spark):
    # THE case that broke the pure prefix filter: 'aaaaa' has ONE distinct
    # 3-gram, 'aabaa' three, and the sets are DISJOINT — yet ed = 1.  The
    # short side path must recover the pair at q=3 where the prefix
    # guarantee (glen >= q*d+1) does not hold
    docs = _docs(spark, [(0, "aaaaa"), (1, "aabaa"), (2, "ccccc")])
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in A.editdist_pairs(docs, max_d=2, q=3).collect()
    }
    assert got == {(0, 1): 1}


def test_short_side_refusal(spark):
    # every string is repetitive (glen < L) — the limit probe must refuse
    rows = [(i, "ababab") for i in range(8)]
    docs = _docs(spark, rows)
    with pytest.raises(ValueError, match="short/repetitive"):
        A.editdist_pairs(docs, max_d=1, q=2, max_short=3)
    # force=True overrides and still returns the exact answer
    got = {
        (r.doc_a, r.doc_b)
        for r in A.editdist_pairs(docs, max_d=1, q=2, max_short=3, force=True).collect()
    }
    assert len(got) == 8 * 7 // 2  # all identical -> every pair at dist 0


def test_short_string_refusal(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    # the refusal fires inside the max_short probe's shuffle stage; Spark
    # surfaces it either as the job abort (Py4JJavaError) or, when AQE
    # rethrows the failed stage's own error, as the converted
    # SparkRuntimeException — both carry the raise_error message
    docs = _docs(spark, [(0, "abcdef"), (1, "ab")])
    with pytest.raises(
        (Py4JJavaError, SparkRuntimeException), match="shorter than q"
    ):
        A.editdist_pairs(docs, max_d=1, q=3).collect()


def test_prefix_df_cap_discloses_loss(spark):
    # every string shares the same dense gram universe ('ababab...'), so
    # a tiny cap drops prefix grams; the companion must list them and the
    # capped output must be a subset of the uncapped truth
    rows = [(i, "ababab" + "abcd"[i % 4]) for i in range(12)]
    docs = _docs(spark, rows)
    full = {
        (r.doc_a, r.doc_b)
        for r in A.editdist_pairs(docs, max_d=1, q=2).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in A.editdist_pairs(docs, max_d=1, q=2, max_prefix_df=3).collect()
    }
    overflow = {
        r.gram for r in A.editdist_overflow(docs, max_d=1, q=2, max_prefix_df=3).collect()
    }
    assert capped <= full
    assert full  # same-suffix-class strings are identical (dist 0)
    assert overflow  # the shared grams exceed df=3 and sit in prefixes
    assert capped != full  # the cap really dropped pairs here


def test_max_d_validation(planted):
    with pytest.raises(ValueError, match="max_d"):
        A.editdist_pairs(planted, max_d=0)


def test_plan_no_cartesian_and_broadcast_weights(spark):
    # editdist: candidate generation must be equality joins on gram /
    # length — never a cartesian; hashed_linear_score: the O(n_buckets)
    # weight table must ride a broadcast join, the corpus never shuffles
    # for the lookup
    rnd_rows = [(i, f"str{i:04d}x") for i in range(30)]
    docs = _docs(spark, rnd_rows)
    plan = (
        A.editdist_pairs(docs, max_d=1, q=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    lin = A.hashed_linear_score(docs)
    lplan = lin._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in lplan, lplan
    assert "CartesianProduct" not in lplan, lplan


def test_editdist_components_match_unionfind(spark):
    """Differential: dedup_components_editdist must equal a driver-side
    union-find over the exact pair set (min-id labels, isolated strings
    label themselves)."""
    from contentextractor_spark.functions.analysis import (
        dedup_components_editdist,
        editdist_pairs,
    )

    rows = [
        (0, "abcde"), (1, "abcdx"), (2, "abcdy"),   # chain via 0-1, 0-2, 1-2
        (3, "qqqqq"),                                # isolated
        (4, "zzzz"), (5, "zzz"),                     # deletion pair
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = editdist_pairs(docs, max_d=1, q=2).collect()
    parent = {d: d for d, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in parent}
    got = {
        r.doc_id: r.component
        for r in dedup_components_editdist(docs, max_d=1, q=2).collect()
    }
    assert got == want
    assert want[3] == 3 and want[5] == 4
