"""Session-14 operators: cdc_apply (MERGE INTO / CDC compaction) —
latest-wins semantics, delete absence, packed-argmax tie rule, and the
loud refusal paths (out-of-bounds pack, null ts, unknown op)."""

import pytest
from pyspark.sql import functions as F
from pyspark.errors import PySparkRuntimeError
from py4j.protocol import Py4JJavaError

from contentextractor_spark.functions import events as E


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "key long, op string, value string, ts long, id long"
    )


def test_cdc_apply_latest_delete_absent(spark):
    df = _changes(
        spark,
        [
            (1, "U", "a", 10, 1),
            (1, "D", None, 20, 2),   # key 1: latest is delete -> absent
            (2, "U", "b", 10, 3),
            (2, "D", None, 20, 4),
            (2, "U", "c", 30, 5),    # key 2: resurrected after delete
        ],
    )
    out = {r["key"]: r.asDict() for r in E.cdc_apply(df).collect()}
    assert set(out) == {2}
    assert out[2]["value"] == "c"
    assert out[2]["last_ts"] == 30 and out[2]["last_id"] == 5
    assert out[2]["n_changes"] == 3 and out[2]["n_deletes"] == 1


def test_cdc_apply_tie_max_id_wins(spark):
    # tie-heavy ts: the (ts, id) pack makes max() the argmax, so the
    # larger id wins at an exact-ts tie (the latest_snapshot family)
    df = _changes(
        spark,
        [(7, "U", "first", 100, 10), (7, "U", "second", 100, 11)],
    )
    rows = E.cdc_apply(df).collect()
    assert len(rows) == 1
    assert rows[0]["value"] == "second" and rows[0]["last_id"] == 11


def test_cdc_apply_python_replica(spark):
    rows = [
        (k, "D" if (k * 7 + i) % 5 == 0 else "U", f"v{k}-{i}",
         1000 + (i * 13) % 9, k * 100 + i)
        for k in range(6)
        for i in range(8)
    ]
    df = _changes(spark, rows)
    got = {r["key"]: r.asDict() for r in E.cdc_apply(df).collect()}

    expect = {}
    for k in range(6):
        recs = [r for r in rows if r[0] == k]
        win = max(recs, key=lambda r: r[3] * 2**20 + r[4])
        if win[1] == "U":
            expect[k] = {
                "value": win[2],
                "last_ts": win[3],
                "last_id": win[4],
                "n_changes": len(recs),
                "n_deletes": sum(1 for r in recs if r[1] == "D"),
            }
    assert set(got) == set(expect)
    for k, e in expect.items():
        for c, v in e.items():
            assert got[k][c] == v, (k, c, got[k][c], v)


def _assert_raises(df):
    with pytest.raises((PySparkRuntimeError, Py4JJavaError, Exception)):
        df.collect()


def test_cdc_apply_oob_ts_raises(spark):
    df = _changes(spark, [(1, "U", "a", 2**42, 1)])
    _assert_raises(E.cdc_apply(df))


def test_cdc_apply_null_ts_raises(spark):
    # max() ignores nulls — a null ts must refuse loudly, never vanish
    # from the argmax (the latest_snapshot null-flag lesson)
    df = _changes(spark, [(1, "U", "a", None, 1), (1, "U", "b", 5, 2)])
    _assert_raises(E.cdc_apply(df))


def test_cdc_apply_unknown_op_raises(spark):
    df = _changes(spark, [(1, "X", "a", 10, 1)])
    _assert_raises(E.cdc_apply(df))


# ------------------------------------------------------- centroid_summary
from contentextractor_spark.functions import analysis as A


def _cs_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_centroid_rare_terms_win(spark):
    # 'zyx' appears in one doc only (max idf); the sentence holding it
    # must win over the boilerplate sentence shared by every doc
    rows = [(i, "common words here. zyx unique marker."
             if i == 0 else "common words here. filler words too.")
            for i in range(4)]
    out = {r["doc_id"]: r.asDict()
           for r in A.centroid_summary(_cs_docs(spark, rows)).collect()}
    assert out[0]["sent_pos"] == 1
    assert "zyx" in out[0]["sentence"]
    assert out[0]["n_sents"] == 2


def test_centroid_tie_lead_bias(spark):
    # two sentences with identical distinct-token idf sums: the EARLIER
    # sentence must win (pos-complement packing)
    rows = [(0, "alpha beta. gamma delta."), (1, "other stuff entirely.")]
    out = {r["doc_id"]: r.asDict()
           for r in A.centroid_summary(_cs_docs(spark, rows)).collect()}
    assert out[0]["sent_pos"] == 0
    assert out[0]["sentence"] == "alpha beta."


def test_centroid_distinct_not_tf(spark):
    # a token repeated inside one sentence counts ONCE — the stuffed
    # sentence (one rare token x4) must lose to two distinct rare tokens
    rows = [
        (0, "qqq qqq qqq qqq. rrr sss here."),
        (1, "common filler text. common filler text."),
    ]
    out = {r["doc_id"]: r.asDict()
           for r in A.centroid_summary(_cs_docs(spark, rows)).collect()}
    assert out[0]["sent_pos"] == 1


def test_centroid_python_replica(spark):
    import math

    rows = [
        (i, ". ".join(
            " ".join(f"w{(i * 3 + j + k) % 11}" for k in range(4))
            for j in range(3)
        ) + ".")
        for i in range(8)
    ]
    out = {r["doc_id"]: r.asDict()
           for r in A.centroid_summary(_cs_docs(spark, rows)).collect()}

    # replica: same split rule, distinct tokens, floor(ln(n/df)*1000)
    sents = {}
    for d, t in rows:
        parts = []
        import re
        marked = re.sub(r"([.!?])[ \t\n\r]+", "\\1\x01", t)
        for p, raw in enumerate(marked.split("\x01")):
            sv = raw.strip()
            if sv:
                parts.append((p, sv))
        sents[d] = parts
    n = len(rows)
    df = {}
    for d, parts in sents.items():
        for tok in {tk for _, sv in parts for tk in sv.split(" ") if tk}:
            df.setdefault(tok, set()).add(d)
    idf = {t: math.floor(math.log(n / len(ds)) * 1000)
           for t, ds in df.items()}
    for d, parts in sents.items():
        scored = [
            (sum(idf[tk] for tk in {t for t in sv.split(" ") if t}), -p, p, sv)
            for p, sv in parts
        ]
        score, _, pos, sv = max(scored)
        assert out[d]["sent_pos"] == pos, d
        assert out[d]["sentence"] == sv
        assert out[d]["score_milli"] == score
        assert out[d]["n_sents"] == len(parts)


# ----------------------------------------------------------- kaplan_meier
def _ev(spark, rows):
    # (user_id, day) pairs -> events rows on the 2024-01-01 anchor
    import datetime
    data = [
        (u, 1, "click", datetime.datetime(2024, 1, 1) +
         datetime.timedelta(days=d))
        for u, d in rows
    ]
    return spark.createDataFrame(
        data, "user_id long, event_id long, event_type string, ts timestamp"
    )


def test_km_python_replica(spark):
    import math

    # user u: first day 0, last day = u % 9 (lifetimes 0..8); gmax = 8,
    # censor window 3 -> lifetimes >= 6 censored
    pairs = [(u, 0) for u in range(30)] + [(u, u % 9) for u in range(30)]
    out = {r["t_days"]: r.asDict()
           for r in E.kaplan_meier(_ev(spark, pairs), censor_days=3).collect()}

    lives = [(u % 9, 1 if u % 9 >= 6 else 0) for u in range(30)]
    grid = sorted({t for t, _ in lives})
    logsum, zero = 0, False
    for t in grid:
        n = sum(1 for lt, _ in lives if lt >= t)
        d = sum(1 for lt, c in lives if lt == t and c == 0)
        cz = sum(1 for lt, c in lives if lt == t and c == 1)
        if d >= n:
            zero = True
        elif d > 0:
            logsum += math.floor(math.log((n - d) / n) * 1e6)
        assert out[t]["n_risk"] == n, t
        assert out[t]["n_events"] == d
        assert out[t]["n_censored"] == cz
        if zero:
            assert out[t]["log_surv_micro"] is None
        else:
            assert out[t]["log_surv_micro"] == logsum, t


def test_km_censor_boundary(spark):
    # gmax=10, censor_days=3: last day in {8,9,10} censored, 7 is not
    pairs = [(1, 0), (1, 7), (2, 0), (2, 8), (3, 0), (3, 10)]
    out = {r["t_days"]: r.asDict()
           for r in E.kaplan_meier(_ev(spark, pairs), censor_days=3).collect()}
    assert out[7]["n_events"] == 1 and out[7]["n_censored"] == 0
    assert out[8]["n_events"] == 0 and out[8]["n_censored"] == 1
    assert out[10]["n_events"] == 0 and out[10]["n_censored"] == 1


def test_km_zero_curve_null_tail(spark):
    # extinction: users 1-3 live days 0..2 (lifetime 2, uncensored);
    # user 9 lives days 19..20 (lifetime 1, censored — it defines
    # gmax, and the gmax-definer is always inside the censor window).
    # At t=2 every at-risk user dies (d == n == 3) -> NULL log from
    # there on, never a sentinel number.
    pairs = [(u, 0) for u in (1, 2, 3)] + [(u, 2) for u in (1, 2, 3)]
    pairs += [(9, 19), (9, 20)]
    rows = {r["t_days"]: r.asDict()
            for r in E.kaplan_meier(_ev(spark, pairs),
                                    censor_days=1).collect()}
    assert rows[1]["n_censored"] == 1 and rows[1]["n_events"] == 0
    assert rows[1]["log_surv_micro"] == 0
    assert rows[2]["n_events"] == 3 and rows[2]["n_risk"] == 3
    assert rows[2]["log_surv_micro"] is None


# -------------------------------------------------------- bipartite_check
def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seed(spark, node=0):
    return spark.createDataFrame([(node,)], "node long")


def test_bipartite_even_cycle(spark):
    r = A.bipartite_check(
        _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)]), _seed(spark)
    ).collect()[0]
    assert r["is_bipartite"] == 1 and r["n_conflicts"] == 0
    assert r["n_reached"] == 4 and r["n_edges_reached"] == 4


def test_bipartite_triangle_conflict(spark):
    r = A.bipartite_check(
        _edges(spark, [(0, 1), (1, 2), (2, 0)]), _seed(spark)
    ).collect()[0]
    # d(0)=0, d(1)=d(2)=1 -> edge (1,2) is the same-parity conflict
    assert r["is_bipartite"] == 0 and r["n_conflicts"] == 1


def test_bipartite_unreached_excluded(spark):
    # disconnected component (10-11) must not enter any count
    r = A.bipartite_check(
        _edges(spark, [(0, 1), (10, 11)]), _seed(spark)
    ).collect()[0]
    assert r["n_reached"] == 2 and r["n_edges_reached"] == 1
    assert r["is_bipartite"] == 1


def test_bipartite_direction_irrelevant(spark):
    # edges given in mixed directions; symmetrization must make the odd
    # 5-cycle non-bipartite regardless of orientation
    cyc = [(0, 1), (2, 1), (2, 3), (4, 3), (0, 4)]
    r = A.bipartite_check(_edges(spark, cyc), _seed(spark)).collect()[0]
    assert r["is_bipartite"] == 0 and r["n_reached"] == 5


# -------------------------------------------------------- embedding_drift
def _emb_halves(spark, rows, ndim):
    # rows: (vec_id, [floats], half)
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, half long"
    )


def test_edrift_identical_halves(spark):
    rows = [(i, [0.5, -0.25, 0.125, 0.0], i % 2) for i in range(8)]
    r = A.embedding_drift(_emb_halves(spark, rows, 4), ndim=4).collect()[0]
    assert r["cos_micro"] == 1_000_000
    assert r["top_delta_micro"] == 0
    assert r["n_a"] == 4 and r["n_b"] == 4


def test_edrift_planted_shift_dim(spark):
    # half 1 shifted +0.25 on dim 2 only
    rows = [
        (i, [0.5, 0.5, 0.5 + (0.25 if i % 2 else 0.0), 0.5], i % 2)
        for i in range(8)
    ]
    r = A.embedding_drift(_emb_halves(spark, rows, 4), ndim=4).collect()[0]
    assert r["top_dim"] == 2
    assert abs(r["top_delta_micro"] - 250_000) <= 20
    assert 0 < r["cos_micro"] < 1_000_000


def test_edrift_opposite_means(spark):
    rows = [(i, [1.0, 0.0] if i % 2 == 0 else [-1.0, 0.0], i % 2)
            for i in range(6)]
    r = A.embedding_drift(_emb_halves(spark, rows, 2), ndim=2).collect()[0]
    assert r["cos_micro"] == -1_000_000


def test_edrift_orthogonal_means(spark):
    rows = [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0], i % 2)
            for i in range(6)]
    r = A.embedding_drift(_emb_halves(spark, rows, 2), ndim=2).collect()[0]
    assert r["cos_micro"] == 0 and r["top_delta_micro"] == 1_000_000


def test_edrift_empty_half_raises(spark):
    rows = [(i, [0.5, 0.5], 0) for i in range(4)]
    with pytest.raises(Exception):
        A.embedding_drift(_emb_halves(spark, rows, 2), ndim=2).collect()


# ----------------------------------------------------- mixed_script_spoof
def test_spoof_confusable_flags(spark):
    docs = spark.createDataFrame(
        [(0, "visit pаypal now"),       # Cyrillic а inside latin
         (1, "clean ascii text"),
         (2, "lοgin ок")],    # Greek ο mix + pure-cyr ok
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in A.mixed_script_spoof(docs).collect()}
    assert out[0]["n_mixed"] == 1
    assert out[0]["top_suspect"] == "pаypal"
    assert out[1]["n_mixed"] == 0 and out[1]["top_suspect"] is None
    # the pure-cyrillic token must NOT flag; the greek mix must
    assert out[2]["n_mixed"] == 1
    assert out[2]["top_suspect"] == "lοgin"
    assert out[2]["spoof_milli"] == 500


def test_spoof_pure_foreign_clean(spark):
    docs = spark.createDataFrame(
        [(0, "привет мир")],
        "doc_id long, text string",
    )  # two pure-cyrillic words
    r = A.mixed_script_spoof(docs).collect()[0]
    assert r["n_mixed"] == 0 and r["n_tokens"] == 2


# ----------------------------------------------------- betweenness_approx
_BW_EDGES = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (1, 4), (4, 5), (2, 5)]


def _bw_replica(E, seeds, D):
    from collections import defaultdict

    exp = defaultdict(lambda: [0, 0])
    for s in seeds:
        dist, sig = {s: 0}, {s: 1}
        for r in range(1, D + 1):
            cand = defaultdict(int)
            for (u, w) in E:
                if dist.get(u) == r - 1:
                    cand[w] += sig[u]
            for w, c in cand.items():
                if w not in dist:
                    dist[w], sig[w] = r, c
        delta = {v: 0 for v in dist if dist[v] == D}
        for L in range(D, 0, -1):
            nxt = {}
            for v in dist:
                if dist[v] == L - 1:
                    t = 0
                    for (u, w) in E:
                        if u == v and dist.get(w) == L:
                            t += (sig[v] * (10**6 + delta[w])) // sig[w]
                    nxt[v] = t
            for v, dv in nxt.items():
                if v != s:
                    exp[v][0] += dv
            delta = nxt
        for v in dist:
            if v != s:
                exp[v][1] += 1
    return {k: (v[0], v[1]) for k, v in exp.items()}


def test_betweenness_matches_replica(spark):
    edges = _edges(spark, _BW_EDGES)
    seeds = spark.createDataFrame([(0,), (2,)], "node long")
    got = {r["node"]: (r["bc_micro"], r["n_seeds"])
           for r in A.betweenness_approx(edges, seeds, max_depth=4).collect()}
    assert got == _bw_replica(_BW_EDGES, [0, 2], 4)


def test_betweenness_multi_edge_sigma(spark):
    # diamond with the (0,1) edge doubled: sigma(3) = 3 (two parallel
    # shortest paths via 1, one via 2) — node 1 carries 2/3 of the
    # dependency, node 2 carries 1/3 (per-term truncated micro)
    E2 = [(0, 1), (0, 1), (0, 2), (1, 3), (2, 3)]
    s = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["bc_micro"]
           for r in A.betweenness_approx(_edges(spark, E2), s,
                                         max_depth=3).collect()}
    assert got[1] == 666_666 and got[2] == 333_333
    assert got == {k: v[0] for k, v in _bw_replica(E2, [0], 3).items()}


def test_betweenness_sigma_guard(spark):
    e = _edges(spark, [(0, 1), (0, 1), (1, 2)])
    s = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(Exception):
        A.betweenness_approx(e, s, max_depth=3, sigma_bound=2).collect()


def test_betweenness_delta_guard(spark):
    e = _edges(spark, [(0, 1), (1, 2)])
    s = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(Exception):
        A.betweenness_approx(e, s, max_depth=3, delta_bound=1).collect()


# ------------------------------------------------- distance_distribution
def test_distdist_path_graph(spark):
    # path 0->1->2->3 from seed 0: one pair at each dist 1..3
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    out = {r["dist"]: r.asDict()
           for r in A.distance_distribution(
               e, _seed(spark), max_depth=4).collect()}
    assert {d: out[d]["n_pairs"] for d in out} == {1: 1, 2: 1, 3: 1}
    assert out[3]["cum_milli"] == 1000
    # 90% of 3 pairs -> covered first at dist 3
    assert [d for d in out if out[d]["is_eff_diameter"] == 1] == [3]


def test_distdist_star(spark):
    # star 0->{1..9}: all pairs at dist 1; eff diameter 1
    e = _edges(spark, [(0, i) for i in range(1, 10)])
    out = A.distance_distribution(e, _seed(spark), max_depth=3).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["dist"] == 1 and r["n_pairs"] == 9
    assert r["is_eff_diameter"] == 1 and r["cum_milli"] == 1000


# ------------------------------------------------------- katz_centrality
def test_katz_walk_counts(spark):
    # cycle 0->1->2->0 from seed 0: walks revisit — at L=3 the walk
    # returns to 0.  beta=1/2 for round milli values.
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    s = _seed(spark, 0)
    out = {r["node"]: r.asDict()
           for r in A.katz_centrality(e, s, max_len=3,
                                      beta_den=2).collect()}
    # node1: walk at L=1 (w=1) -> 500; node2: L=2 -> 250; node0: L=3 -> 125
    assert out[1]["katz_milli"] == 500 and out[1]["n_walks_total"] == 1
    assert out[2]["katz_milli"] == 250
    assert out[0]["katz_milli"] == 125  # the revisit — Katz counts it


def test_katz_parallel_paths_add(spark):
    # diamond 0->{1,2}->3: two length-2 walks into 3
    e = _edges(spark, [(0, 1), (0, 2), (1, 3), (2, 3)])
    out = {r["node"]: r.asDict()
           for r in A.katz_centrality(e, _seed(spark, 0), max_len=2,
                                      beta_den=4).collect()}
    assert out[3]["n_walks_total"] == 2
    assert out[3]["katz_milli"] == (2 * 1000) // 16


def test_katz_walk_bound_raises(spark):
    e = _edges(spark, [(0, 1), (0, 1), (1, 0), (1, 0)])
    with pytest.raises(Exception):
        A.katz_centrality(e, _seed(spark, 0), max_len=8,
                          walk_bound=4).collect()


# ------------------------------------------------------- mutual_nn_pairs
def _embv(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_mutual_nn_basic(spark):
    # 0 and 1 nearly identical (mutual); 2 points at 0 one-sidedly but
    # 0's top-1 is 1 -> (0,2) must NOT appear
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),
        (2, [0.7, 0.7, 0.0]),
        (3, [0.0, 0.0, 1.0]),   # far from everyone; its NN is one-sided
    ]
    out = {(r["vec_id_a"], r["vec_id_b"]): r["cos_milli"]
           for r in A.mutual_nn_pairs(_embv(spark, rows)).collect()}
    assert (0, 1) in out
    assert all(p in {(0, 1), (2, 3)} or p == (0, 1) for p in out)
    assert (0, 2) not in out and (1, 2) not in out
    assert out[(0, 1)] >= 990


def test_mutual_nn_negative_cos(spark):
    # two antipodal vectors alone: each is the other's (only) neighbor
    # with cosine -1 — mutual with a NEGATIVE cos_milli (sign-peel path)
    rows = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    out = A.mutual_nn_pairs(_embv(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["cos_milli"] == -1000


def test_mutual_nn_refusal(spark):
    big = spark.range(A.MAX_EXACT_PAIR_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(Exception):
        A.mutual_nn_pairs(big)


# ------------------------------------------------------------ dp_release
def _dp_replica(source, salt="dp0", eps_milli=1000):
    import hashlib, math

    h = int(hashlib.md5(f"{salt}:{source}".encode()).hexdigest()[:8], 16)
    s = 2 * h + 1 - 2**32
    mag = math.floor(
        1000.0 / float(eps_milli)
        * -math.log((2**32 - abs(s)) / float(2**32))
        * 1_000_000.0
    )
    return (-1 if s < 0 else 1) * mag


def test_dp_release_replica(spark):
    docs = spark.createDataFrame(
        [(i, "t", f"s{i % 7}") for i in range(70)],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r.asDict() for r in A.dp_release(docs).collect()}
    assert len(out) == 7
    for src_name, r in out.items():
        assert r["n_true"] == 10
        assert r["noise_micro"] == _dp_replica(src_name), src_name
        assert r["noisy_micro"] == 10_000_000 + r["noise_micro"]


def test_dp_release_salt_and_epsilon(spark):
    docs = spark.createDataFrame(
        [(0, "t", "alpha")], "doc_id long, text string, source string"
    )
    a = A.dp_release(docs, salt="dp0").collect()[0]["noise_micro"]
    b = A.dp_release(docs, salt="dp1").collect()[0]["noise_micro"]
    assert a != b                       # salted redraw
    c = A.dp_release(docs, epsilon_milli=500).collect()[0]["noise_micro"]
    assert c == _dp_replica("alpha", eps_milli=500)
    assert abs(c) > abs(a)              # smaller eps -> more noise


# ------------------------------------------------------ seasonal_strength
def test_seasonal_pure_pattern(spark):
    # y depends ONLY on the weekday slot -> strength 1000 exactly
    pairs = [(1, d) for d in range(28) for _ in range((d % 7) + 1)]
    ev = _ev(spark, [(u, d) for (u, d) in
                     [(i, d) for i, (_, d) in enumerate(pairs)]])
    r = E.seasonal_strength(ev).collect()[0]
    assert r["strength_milli"] == 1000
    assert r["peak_slot"] == 6          # slot 6 has 7 events/day
    assert r["n_days"] == 28


def test_seasonal_flat_is_zero(spark):
    # identical daily volume -> zero variance on both sides -> 0
    ev = _ev(spark, [(i, d) for d in range(14) for i in range(3)])
    r = E.seasonal_strength(ev).collect()[0]
    assert r["strength_milli"] == 0


def test_seasonal_replica(spark):
    import math
    rows = [(i, d) for d in range(21)
            for i in range((d * 3 + d % 5) % 4 + 1)]
    r = E.seasonal_strength(_ev(spark, rows)).collect()[0]
    daily = {}
    for _, d in rows:
        daily[d] = daily.get(d, 0) + 1
    slots = {}
    for d, y in daily.items():
        w = d % 7
        n, s = slots.get(w, (0, 0))
        slots[w] = (n + 1, s + y)
    b_sum = sum((s * s * 1000) // n for n, s in slots.values())
    n_days = len(daily)
    S = sum(daily.values())
    Q = sum(y * y for y in daily.values())
    ssb = max(b_sum - (S * S * 1000) // n_days, 0)
    sst = max(Q * 1000 - (S * S * 1000) // n_days, 1)
    assert r["strength_milli"] == (ssb * 1000) // sst
    means = {w: (s * 1000) // n for w, (n, s) in slots.items()}
    peak = max(means.items(), key=lambda kv: (kv[1], -kv[0]))
    assert (r["peak_slot"], r["peak_mean_milli"]) == peak


# ------------------------------------------------------ snapshot_line_diff
def _snaps(spark, rows):
    return spark.createDataFrame(
        rows, "url string, ts long, doc_id long, text string"
    )


def test_linediff_basic(spark):
    rows = [
        ("u", 1, 1, "a\nb"),
        ("u", 2, 2, "b\nc\nd"),
        ("u", 3, 3, "b\nc\nd"),   # identical to prev
    ]
    out = {(r["key"], r["pair_idx"]): r.asDict()
           for r in A.snapshot_line_diff(_snaps(spark, rows)).collect()}
    p1 = out[("u", 1)]
    assert (p1["n_added"], p1["n_removed"], p1["n_kept"]) == (2, 1, 1)
    p2 = out[("u", 2)]
    assert (p2["n_added"], p2["n_removed"], p2["n_kept"]) == (0, 0, 3)
    assert ("u", 3) not in out  # no pair beyond the newest snapshot


def test_linediff_ts_tie_id_order(spark):
    # exact-ts tie: id breaks the order (id 2 is the LATER snapshot)
    rows = [("u", 5, 1, "a"), ("u", 5, 2, "b")]
    out = {r["pair_idx"]: r.asDict()
           for r in A.snapshot_line_diff(_snaps(spark, rows)).collect()}
    assert out[1]["n_added"] == 1 and out[1]["n_removed"] == 1


def test_linediff_repeated_line_once(spark):
    # 'a' repeated in one snapshot counts once (set diff, documented)
    rows = [("u", 1, 1, "a\na\nb"), ("u", 2, 2, "a")]
    r = A.snapshot_line_diff(_snaps(spark, rows)).collect()[0]
    assert (r["n_added"], r["n_removed"], r["n_kept"]) == (0, 1, 1)


def test_linediff_null_ts_raises(spark):
    rows = [("u", None, 1, "a"), ("u", 2, 2, "b")]
    with pytest.raises(Exception):
        A.snapshot_line_diff(_snaps(spark, rows)).collect()


# ------------------------------------------------------- crawl_value_rank
def test_crawl_value_rank_plan_and_shape(spark):
    # the composed scheduler must keep the top-k as
    # TakeOrderedAndProject (never a global sort) and derive rank over
    # the k survivors only
    import io, contextlib
    import __spark_entry__ as entry

    df = entry.queries()["crawl_value_rank"](
        spark, "/root/testdata/sf0.001"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()
    rows = df.collect()
    assert len(rows) == 20
    assert [r["rank"] for r in rows] == list(range(1, 21))
    vals = [r["value_micro"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    for r in rows:
        assert r["value_micro"] == r["rank_micro"] * r["change_milli"] // 1000


# ----------------------------------------------------- hub_removal_impact
def test_hub_removal_disconnects_star(spark):
    # hub 0 fans out to 1..8; removing the single top hub (k=1) leaves
    # the seed (node 9 -> 0) nothing to reach
    e = _edges(spark, [(9, 0)] + [(0, i) for i in range(1, 9)])
    seeds = spark.createDataFrame([(9,)], "node long")
    out = {r["variant"]: r.asDict()
           for r in A.hub_removal_impact(e, seeds, k=1,
                                         max_depth=4).collect()}
    full = out["full"]
    assert full["n_reached"] == 10 and full["n_edges"] == 9
    cut = out["hubs_removed"]
    assert cut["n_edges"] == 0 and cut["n_reached"] == 1  # the seed alone


def test_hub_removal_tie_smaller_id(spark):
    # two degree-2 nodes (3 and 5): the k=1 cut must remove node 3
    # (degree tie -> smaller src id)
    e = _edges(spark, [(5, 1), (5, 2), (3, 1), (3, 2), (7, 3)])
    seeds = spark.createDataFrame([(7,)], "node long")
    out = {r["variant"]: r.asDict()
           for r in A.hub_removal_impact(e, seeds, k=1,
                                         max_depth=3).collect()}
    # node 3 removed: edge (7,3) and 3's out-edges drop; 5's edges stay
    assert out["hubs_removed"]["n_edges"] == 2
    assert out["hubs_removed"]["n_reached"] == 1


def test_hub_removal_seed_is_hub(spark):
    # the seed itself is the top hub: the cut variant has no seeds at
    # all -> zero reach, not a crash
    e = _edges(spark, [(0, i) for i in range(1, 5)])
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r["variant"]: r.asDict()
           for r in A.hub_removal_impact(e, seeds, k=1,
                                         max_depth=3).collect()}
    assert out["full"]["n_reached"] == 5
    assert out["hubs_removed"]["n_reached"] == 0


def test_hub_removal_thread_jobs_keep_caller_job_group(spark):
    # the two BFS chains run on pool threads: every job the call starts,
    # on either thread, must carry the caller's job group — job ids are
    # sequential, so the ids between two marker jobs are exactly the
    # call's jobs
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return max(tracker.getJobIdsForGroup(group))

    e = _edges(spark, [(9, 0)] + [(0, i) for i in range(1, 9)])
    seeds = spark.createDataFrame([(9,)], "node long")
    try:
        first = marker("hub_thread_before")
        sc.setJobGroup("hub_thread_call", "hub_thread_call")
        A.hub_removal_impact(e, seeds, k=1, max_depth=4)
        last = marker("hub_thread_after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    call_jobs = set(tracker.getJobIdsForGroup("hub_thread_call"))
    assert call_jobs == set(range(first + 1, last))


# ------------------------------------------- quality_percentile_by_source
def test_qpct_fair_per_source(spark):
    # source A scores {100,200,300}-ish, source B much lower — the TOP
    # doc of each source must both land at pct 1000
    docs = spark.createDataFrame(
        [(0, "aaaa", "A"), (1, "aa11", "A"), (2, "a111", "A"),
         (3, "1111", "B"), (4, "a111", "B")],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in A.quality_percentile_by_source(docs).collect()}
    assert out[0]["pct_milli"] == 1000      # best of A
    assert out[4]["pct_milli"] == 1000      # best of B despite low qa
    assert out[3]["pct_milli"] == 0
    assert out[2]["pct_milli"] == 0


def test_qpct_tie_and_singleton(spark):
    docs = spark.createDataFrame(
        [(5, "ab", "C"), (6, "ab", "C"), (9, "xy", "D")],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in A.quality_percentile_by_source(docs).collect()}
    # tied qa: smaller doc_id ranks lower (deterministic)
    assert out[5]["pct_milli"] == 0 and out[6]["pct_milli"] == 1000
    assert out[9]["pct_milli"] == 0         # singleton source


# --------------------------------------------------- label_centroid_profile
def _emb_lab(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_label_centroid_aligned_and_opposed(spark):
    # label 0 = +x (aligned with the global mean), label 1 = +x too but
    # label 2 = -x pulls the global mean; cluster 2 must show negative
    # cosine vs the (net positive) global mean
    rows = ([(i, [1.0, 0.0], 0) for i in range(4)]
            + [(10 + i, [1.0, 0.0], 1) for i in range(4)]
            + [(20 + i, [-1.0, 0.0], 2) for i in range(2)])
    out = {r["label"]: r.asDict()
           for r in A.label_centroid_profile(
               _emb_lab(spark, rows), ndim=2).collect()}
    assert out[0]["cos_micro"] == 1_000_000
    assert out[1]["cos_micro"] == 1_000_000
    assert out[2]["cos_micro"] == -1_000_000
    assert out[0]["n"] == 4 and out[2]["n"] == 2
    # the deviating axis is dim 0 for cluster 2
    assert out[2]["top_dim"] == 0


def test_label_centroid_single_label_is_global(spark):
    rows = [(i, [0.5, -0.5, 0.25], 7) for i in range(5)]
    r = A.label_centroid_profile(_emb_lab(spark, rows), ndim=3).collect()
    assert len(r) == 1
    assert r[0]["cos_micro"] == 1_000_000
    assert r[0]["top_delta_micro"] == 0


# ------------------------------------------------- weighted_median_by_group
def _wm_rows(spark, rows):
    return spark.createDataFrame(
        rows, "source string, doc_id long, value long, w long"
    )


def test_weighted_median_basic(spark):
    # values 10(w1), 20(w1), 30(w10): half of W=12 is 6 -> the first
    # cum>=6 row is value 30 (the heavy row IS the median byte)
    rows = [("s", 1, 10, 1), ("s", 2, 20, 1), ("s", 3, 30, 10)]
    r = A.weighted_median_by_group(_wm_rows(spark, rows)).collect()[0]
    assert r["median_value"] == 30 and r["w_total"] == 12


def test_weighted_median_vs_unweighted(spark):
    # equal weights degrade to the lower median: {10,20,30,40} -> 20
    rows = [("s", i, 10 * i, 1) for i in range(1, 5)]
    r = A.weighted_median_by_group(_wm_rows(spark, rows)).collect()[0]
    assert r["median_value"] == 20


def test_weighted_median_python_replica(spark):
    rows = [("g%d" % (i % 3), i, (i * 7) % 50, (i % 5) + 1)
            for i in range(40)]
    got = {r["source"]: r["median_value"]
           for r in A.weighted_median_by_group(_wm_rows(spark, rows)).collect()}
    for g in ("g0", "g1", "g2"):
        grp = sorted([(v, i, w) for (s, i, v, w) in rows if s == g])
        W = sum(w for _, _, w in grp)
        cw = 0
        for v, _, w in grp:
            cw += w
            if 2 * cw >= W:
                assert got[g] == v, g
                break


def test_weighted_median_oob_value_raises(spark):
    rows = [("s", 1, 2**40, 1)]
    with pytest.raises(Exception):
        A.weighted_median_by_group(_wm_rows(spark, rows)).collect()


# ------------------------------------------------------ host_path_entropy
def test_hpe_trap_vs_diverse(spark):
    import math
    # trap.example: 100 urls, ONE template; mix.example: 4 urls over
    # 4 distinct templates (max entropy ln(4))
    urls = ([(f"https://trap.example/p/{i}",) for i in range(100)]
            + [("https://mix.example/a/1",), ("https://mix.example/b/x2y",),
               ("https://mix.example/c",), ("https://mix.example/d?q=z",)])
    df = spark.createDataFrame(urls, "url string")
    out = {r["host"]: r.asDict()
           for r in A.host_path_entropy(df).collect()}
    trap = out["trap.example"]
    assert trap["n_templates"] == 1 and trap["top_share_milli"] == 1000
    # H = ln(100) - 100*ln(100)/100 = 0 (up to the floor staging)
    assert abs(trap["entropy_micro"]) <= 1
    mix = out["mix.example"]
    assert mix["n_templates"] == 4
    assert abs(mix["entropy_micro"] - math.floor(math.log(4) * 1e6)) <= 1
    assert mix["top_share_milli"] == 250


def test_hpe_schemeless_excluded(spark):
    df = spark.createDataFrame(
        [("example.org/p/1",), ("https://a.example/p/2",)], "url string"
    )
    out = A.host_path_entropy(df).collect()
    assert {r["host"] for r in out} == {"a.example"}
