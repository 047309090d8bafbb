"""Unit tests for the r5 session-8 operators: clustering_coefficients
(Watts-Strogatz local cc in milli-units), link_reciprocity (per-source
mutual-edge fraction), degree_assortativity (Newman r as the exact
symmetric-orientation integer OLS slope), markov_transitions
(per-user first-order event transition matrix), and lexical_diversity
(per-doc TTR/hapax card)."""

import datetime

from contentextractor_spark.functions import analysis as A
from contentextractor_spark.functions import events as E


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


# --------------------------------------------- clustering_coefficients


def test_cc_complete_graph_is_1000(spark):
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    rows = A.clustering_coefficients(_edges(spark, k4)).collect()
    assert len(rows) == 4
    for r in rows:
        assert (r.deg, r.triangles, r.cc_milli) == (3, 3, 1000)


def test_cc_path_graph_middle_node_zero(spark):
    rows = A.clustering_coefficients(_edges(spark, [(1, 2), (2, 3)])).collect()
    # only node 2 has deg >= 2; no triangles anywhere
    assert [(r.node, r.deg, r.triangles, r.cc_milli) for r in rows] == [
        (2, 2, 0, 0)
    ]


def test_cc_triangle_plus_pendant(spark):
    # triangle 1-2-3 plus pendant 3-4: node 3 has deg 3, one triangle
    # -> cc = 2*1/(3*2) = 333 milli; nodes 1,2 -> 1000; node 4 excluded
    g = [(1, 2), (2, 3), (1, 3), (3, 4)]
    rows = {r.node: r for r in A.clustering_coefficients(_edges(spark, g)).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].cc_milli == 1000 and rows[2].cc_milli == 1000
    assert (rows[3].deg, rows[3].triangles, rows[3].cc_milli) == (3, 1, 333)


def test_cc_direction_and_duplicates_ignored(spark):
    # both orientations + duplicates of the same triangle collapse
    g = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (1, 3), (1, 1)]
    rows = A.clustering_coefficients(_edges(spark, g)).collect()
    assert all((r.deg, r.triangles, r.cc_milli) == (2, 1, 1000) for r in rows)
    assert len(rows) == 3


# -------------------------------------------------- link_reciprocity


def test_reciprocity_hand_graph(spark):
    # 1->2, 2->1 mutual; 1->3 one-way; 4->4 self-loop dropped
    g = [(1, 2), (2, 1), (1, 3), (4, 4)]
    rows = {r.node: r for r in A.link_reciprocity(_edges(spark, g)).collect()}
    assert set(rows) == {1, 2}
    assert (rows[1].outdeg, rows[1].mutual, rows[1].recip_milli) == (2, 1, 500)
    assert (rows[2].outdeg, rows[2].mutual, rows[2].recip_milli) == (1, 1, 1000)


def test_reciprocity_duplicate_edges_count_once(spark):
    g = [(1, 2), (1, 2), (2, 1)]
    rows = {r.node: r for r in A.link_reciprocity(_edges(spark, g)).collect()}
    assert (rows[1].outdeg, rows[1].mutual, rows[1].recip_milli) == (1, 1, 1000)


def test_reciprocity_no_mutual_edges(spark):
    g = [(1, 2), (2, 3), (3, 1)]  # directed 3-cycle: zero reciprocity
    rows = A.link_reciprocity(_edges(spark, g)).collect()
    assert all(r.mutual == 0 and r.recip_milli == 0 for r in rows)


# --------------------------------------------- degree_assortativity


def test_assortativity_star_is_exactly_minus_one(spark):
    # K_{1,100}: num = -den exactly (integer identity), full-precision
    # branch -> -1000000 with zero truncation error
    g = [(0, i) for i in range(1, 101)]
    row = A.degree_assortativity(_edges(spark, g)).collect()[0]
    assert row.n_endpoints == 200
    assert row.assort_micro == -1000000


def test_assortativity_regular_ring_is_zero(spark):
    # 2-regular ring: zero degree variance -> num = den = 0 -> 0
    n = 12
    g = [(i, (i + 1) % n) for i in range(n)]
    row = A.degree_assortativity(_edges(spark, g)).collect()[0]
    assert row.assort_micro == 0


def test_assortativity_two_cliques_bridged_positive(spark):
    # two K4s joined by one bridge: like-degrees attach -> r > 0 is NOT
    # guaranteed (bridge endpoints have higher degree than clique mates)
    # — assert the exact integer instead of a sign heuristic
    k = [(a, b) for a in range(4) for b in range(4) if a < b]
    g = k + [(a + 4, b + 4) for a, b in k] + [(0, 4)]
    row = A.degree_assortativity(_edges(spark, g)).collect()[0]
    # hand check: 13 und edges, degrees: nodes 0,4 -> 4; others -> 3
    # pairs (x,y) over both orientations; verified against numpy pearson
    import numpy as np

    deg = {n: 0 for n in range(8)}
    for a, b in k + [(a + 4, b + 4) for a, b in k] + [(0, 4)]:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in k + [(a + 4, b + 4) for a, b in k] + [(0, 4)]:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    r = np.corrcoef(xs, ys)[0, 1]
    assert abs(row.assort_micro - int(r * 1_000_000)) <= 1

# ------------------------------------------------- markov_transitions


def _ev(spark, rows):
    # rows: (event_id, ts_second, user_id, event_type)
    t0 = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (i, t0 + datetime.timedelta(seconds=s), u, ty)
            for i, s, u, ty in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )


def test_markov_hand_stream(spark):
    # user 1: a -> b -> a ; user 2: a -> b — pairs: (a,b)x2, (b,a)x1
    rows = [
        (0, 0, 1, "a"),
        (1, 1, 1, "b"),
        (2, 2, 1, "a"),
        (3, 0, 2, "a"),
        (4, 1, 2, "b"),
    ]
    out = {
        (r.from_type, r.to_type): r
        for r in E.markov_transitions(_ev(spark, rows)).collect()
    }
    assert set(out) == {("a", "b"), ("b", "a")}
    ab, ba = out[("a", "b")], out[("b", "a")]
    assert (ab.n_pairs, ab.n_from, ab.prob_milli) == (2, 2, 1000)
    assert (ba.n_pairs, ba.n_from, ba.prob_milli) == (1, 1, 1000)


def test_markov_tie_uses_event_id_order(spark):
    # two events at the SAME ts: event_id breaks the tie — order is
    # a(id0) -> b(id1) -> c(id2), never a -> c
    rows = [(0, 0, 1, "a"), (1, 0, 1, "b"), (2, 0, 1, "c")]
    out = {
        (r.from_type, r.to_type)
        for r in E.markov_transitions(_ev(spark, rows)).collect()
    }
    assert out == {("a", "b"), ("b", "c")}


def test_markov_single_event_user_emits_nothing(spark):
    rows = [(0, 0, 1, "a")]
    assert E.markov_transitions(_ev(spark, rows)).count() == 0


def test_markov_prob_milli_splits(spark):
    # from 'a': 1x to b, 2x to c -> 333 / 666 milli (truncating div)
    rows = [
        (0, 0, 1, "a"),
        (1, 1, 1, "b"),
        (2, 0, 2, "a"),
        (3, 1, 2, "c"),
        (4, 0, 3, "a"),
        (5, 1, 3, "c"),
    ]
    out = {
        (r.from_type, r.to_type): r.prob_milli
        for r in E.markov_transitions(_ev(spark, rows)).collect()
    }
    assert out == {("a", "b"): 333, ("a", "c"): 666}


# ------------------------------------------------- lexical_diversity


def test_lexical_diversity_hand_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a c"),   # 4 tokens, 3 types, hapax {b, c} = 2
            (2, "x x x x"),   # 4 tokens, 1 type, 0 hapax
            (3, ""),          # split('') -> [''] : 1 token, 1 type, 1 hapax
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in A.lexical_diversity(docs).collect()}
    r1 = out[1]
    assert (r1.n_tokens, r1.n_types, r1.n_hapax) == (4, 3, 2)
    assert (r1.ttr_milli, r1.hapax_milli) == (750, 500)
    r2 = out[2]
    assert (r2.n_tokens, r2.n_types, r2.n_hapax) == (4, 1, 0)
    assert (r2.ttr_milli, r2.hapax_milli) == (250, 0)
    r3 = out[3]
    assert (r3.n_tokens, r3.n_types, r3.n_hapax) == (1, 1, 1)
    assert (r3.ttr_milli, r3.hapax_milli) == (1000, 1000)

# --------------------------------------------------------------- kcore


def _kcore_ref(pairs, k):
    # reference peel to fixpoint
    import collections

    adj = collections.defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    live = {v: set(s) for v, s in adj.items()}
    while True:
        drop = [v for v, s in live.items() if len(s) < k]
        if not drop:
            break
        for v in drop:
            for m in live[v]:
                live[m].discard(v)
            del live[v]
    return sorted((v, len(s)) for v, s in live.items())


def test_kcore_triangle_with_tail(spark):
    g = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    out = sorted(
        (r.node, r.core_deg)
        for r in A.kcore(_edges(spark, g), k=2, rounds=5).collect()
    )
    assert out == [(1, 2), (2, 2), (3, 2)] == _kcore_ref(g, 2)


def test_kcore_path_graph_empties(spark):
    g = [(1, 2), (2, 3), (3, 4)]
    assert A.kcore(_edges(spark, g), k=2, rounds=4).count() == 0


def test_kcore_random_parity(spark):
    # seeded random graph vs the reference peel, two k values
    import random

    rnd = random.Random(8)
    g = [(rnd.randrange(30), rnd.randrange(30)) for _ in range(70)]
    for k in (2, 3):
        out = sorted(
            (r.node, r.core_deg)
            for r in A.kcore(_edges(spark, g), k=k, rounds=30).collect()
        )
        assert out == _kcore_ref(g, k), k


def test_kcore_partial_peel_matches_fixed_rounds(spark):
    # chain peels one layer per round from each end: rounds=1 on a
    # 5-path is exactly ONE synchronous peel (ends dropped) plus the
    # final core_deg >= k output filter — NOT the fixpoint (empty).
    # After peeling 1 and 5, degrees are 2->1, 3->2, 4->1; only node 3
    # passes the output filter (the oracle applies the same filter).
    g = [(1, 2), (2, 3), (3, 4), (4, 5)]
    out = sorted(
        (r.node, r.core_deg)
        for r in A.kcore(_edges(spark, g), k=2, rounds=1).collect()
    )
    assert out == [(3, 2)] != _kcore_ref(g, 2)


# --------------------------------------------------- label_propagation


def _lpa_ref(pairs, rounds):
    import collections

    adj = collections.defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            cnt = collections.Counter(lbl[u] for u in adj[v])
            m = max(cnt.values())
            new[v] = min(l for l, c in cnt.items() if c == m)
        lbl = new
    return sorted(lbl.items())


def test_lpa_two_triangles_bridged(spark):
    g = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    out = sorted(
        (r.node, r.label)
        for r in A.label_propagation(_edges(spark, g), rounds=2).collect()
    )
    assert out == _lpa_ref(g, 2)


def test_lpa_random_parity(spark):
    import random

    rnd = random.Random(11)
    g = [(rnd.randrange(25), rnd.randrange(25)) for _ in range(60)]
    for rounds in (1, 3):
        out = sorted(
            (r.node, r.label)
            for r in A.label_propagation(
                _edges(spark, g), rounds=rounds
            ).collect()
        )
        assert out == _lpa_ref(g, rounds), rounds

# ----------------------------------------------------- temperature_mix


def test_isqrt_exact_on_boundaries(spark):
    import math

    vals = [0, 1, 2, 3, 4, 8, 9, 15, 16, 24, 25,
            10**12, 10**12 + 1, (1 << 26) ** 2, (1 << 26) ** 2 - 1,
            (1 << 52) - 1]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    from contentextractor_spark.functions.analysis import _isqrt
    from pyspark.sql import functions as F

    out = {r.n: r.y for r in df.select("n", _isqrt(F.col("n")).alias("y")).collect()}
    for v in vals:
        assert out[v] == math.isqrt(v), v


def test_temperature_mix_flattens(spark):
    # sources 90/9/1 docs -> weights isqrt: 9/3/1, total 13
    rows = [(i, "s_big") for i in range(90)]
    rows += [(100 + i, "s_mid") for i in range(9)]
    rows += [(200, "s_small")]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r.source: r for r in A.temperature_mix(docs, budget=1300).collect()}
    assert (out["s_big"].w, out["s_mid"].w, out["s_small"].w) == (9, 3, 1)
    assert out["s_big"].target_docs == 900
    assert out["s_mid"].target_docs == 300
    assert out["s_small"].target_docs == 100
    # flattening: raw share 90% -> weight share 9/13 = 692307 micro
    assert out["s_big"].share_micro == 692307


# ------------------------------------------------------- table_profile


def test_table_profile_counts(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 1.0), (3, None, 2.0), (3, "b", None)],
        "id long, s string, v double",
    )
    out = {r.column: r for r in A.table_profile(df, ["id", "s", "v"]).collect()}
    assert set(out) == {"id", "s", "v"}
    assert all(r.n_rows == 4 for r in out.values())
    assert (out["id"].n_null, out["id"].n_distinct) == (0, 3)
    assert (out["s"].n_null, out["s"].n_distinct) == (1, 2)
    assert (out["v"].n_null, out["v"].n_distinct) == (2, 2)
    assert out["v"].null_milli == 500


def test_table_profile_empty_cols_raises(spark):
    import pytest

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        A.table_profile(df, [])

# -------------------------------------------------- tfidf_cosine_pairs


def _tfidf_ref(texts, max_df, threshold):
    # quantization-faithful reference: milli-nat idf, integer weights,
    # isqrt norms, truncating milli cosine
    import collections
    import math

    tf = {d: collections.Counter(t.split(" ")) for d, t in texts.items()}
    df = collections.Counter()
    for c in tf.values():
        for term in c:
            df[term] += 1
    n = len(texts)
    idf = {
        t: math.floor(math.log(n / d) * 1000)
        for t, d in df.items()
        if d <= max_df
    }
    w = {
        d: {t: c * idf[t] for t, c in cnt.items() if t in idf}
        for d, cnt in tf.items()
    }
    sq = {d: sum(v * v for v in ws.values()) for d, ws in w.items()}
    out = {}
    docs = sorted(texts)
    for i, a in enumerate(docs):
        for b in docs[i + 1:]:
            dot = sum(w[a][t] * w[b][t] for t in w[a] if t in w[b])
            if dot == 0:
                continue
            den = max(math.isqrt(sq[a]) * math.isqrt(sq[b]), 1)
            cm = (dot * 1000) // den
            if cm >= threshold:
                out[(a, b)] = cm
    return out


def test_tfidf_pairs_identical_docs_near_1000(spark):
    texts = {
        1: "alpha beta gamma delta",
        2: "alpha beta gamma delta",
        3: "omega psi chi phi",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {
        (r.doc_a, r.doc_b): r.cos_milli
        for r in A.tfidf_cosine_pairs(
            docs, max_df=10, threshold_milli=300
        ).collect()
    }
    assert set(out) == {(1, 2)}
    # identical weight vectors: dot == sq, cos_milli within isqrt
    # truncation of 1000
    assert 995 <= out[(1, 2)] <= 1000
    assert out == _tfidf_ref(texts, 10, 300)


def test_tfidf_pairs_random_parity(spark):
    import random

    rnd = random.Random(17)
    vocab = [f"w{i}" for i in range(12)]
    texts = {
        d: " ".join(rnd.choice(vocab) for _ in range(15)) for d in range(14)
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    for max_df, thr in ((14, 100), (8, 300)):
        out = {
            (r.doc_a, r.doc_b): r.cos_milli
            for r in A.tfidf_cosine_pairs(
                docs,
                max_df=max_df,
                threshold_milli=thr,
            ).collect()
        }
        assert out == _tfidf_ref(texts, max_df, thr), (max_df, thr)


def test_tfidf_stop_terms_listed(spark):
    docs = spark.createDataFrame(
        [(i, "common rare%d" % i) for i in range(5)],
        "doc_id long, text string",
    )
    out = [(r.term, r.df) for r in A.tfidf_stop_terms(docs, max_df=3).collect()]
    assert out == [("common", 5)]

# --------------------------------------------------- harmonic_centrality


def test_harmonic_centrality_path(spark):
    # directed path 1->2->3->4, seed {1}: H(2)=1000, H(3)=500, H(4)=333
    g = [(1, 2), (2, 3), (3, 4)]
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r.node: (r.h_milli, r.n_seeds_reached)
        for r in A.harmonic_centrality(
            _edges(spark, g), seeds, max_depth=4
        ).collect()
    }
    assert out == {2: (1000, 1), 3: (500, 1), 4: (333, 1)}


def test_harmonic_centrality_two_seeds_sum(spark):
    # seeds {1, 3} on the same path, depth 4: node 4 gets 333 (dist 3
    # from seed 1) + 1000 (dist 1 from seed 3) and counts both seeds
    g = [(1, 2), (2, 3), (3, 4)]
    seeds = spark.createDataFrame([(1,), (3,)], "node long")
    out = {
        r.node: (r.h_milli, r.n_seeds_reached)
        for r in A.harmonic_centrality(
            _edges(spark, g), seeds, max_depth=4
        ).collect()
    }
    assert out[4] == (1333, 2)
    assert out[2] == (1000, 1)
    # node 3: dist 2 from seed 1 -> 500, seed 3 itself excluded
    assert out[3] == (500, 1)


def test_harmonic_centrality_depth_cap(spark):
    g = [(1, 2), (2, 3), (3, 4)]
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r.node: r.h_milli
        for r in A.harmonic_centrality(
            _edges(spark, g), seeds, max_depth=2
        ).collect()
    }
    assert 4 not in out and out == {2: 1000, 3: 500}


# ----------------------------------------------- interarrival_histogram


def test_interarrival_buckets(spark):
    # gaps within type 'a': 1s (bucket 20: bitlen(1e6)), 0us (bucket 1)
    rows = [
        (0, 0, 1, "a"),
        (1, 1, 1, "a"),      # gap 1_000_000 us -> bitlen 20
        (2, 1, 2, "a"),      # tied ts -> gap 0 -> bucket 1
        (3, 5, 1, "b"),      # first of type b: no gap
    ]
    out = {
        (r.event_type, r.bucket): r.n_gaps
        for r in E.interarrival_histogram(_ev(spark, rows)).collect()
    }
    assert out == {("a", 20): 1, ("a", 1): 1}
    assert (1_000_000).bit_length() == 20


# --------------------------------------------------- negative_samples


def test_negative_samples_range_and_no_self(spark):
    docs = spark.createDataFrame(
        [(i, "t") for i in range(37)], "doc_id long, text string"
    )
    rows = A.negative_samples(docs, k=4).collect()
    assert len(rows) == 37 * 4
    for r in rows:
        assert 0 <= r.neg_id < 37 and r.neg_id != r.doc_id


def test_negative_samples_deterministic_and_salted(spark):
    docs = spark.createDataFrame(
        [(i, "t") for i in range(20)], "doc_id long, text string"
    )
    a1 = sorted(
        (r.doc_id, r.j, r.neg_id)
        for r in A.negative_samples(docs, k=2, salt="ns0").collect()
    )
    a2 = sorted(
        (r.doc_id, r.j, r.neg_id)
        for r in A.negative_samples(docs, k=2, salt="ns0").collect()
    )
    b = sorted(
        (r.doc_id, r.j, r.neg_id)
        for r in A.negative_samples(docs, k=2, salt="ns1").collect()
    )
    assert a1 == a2 and a1 != b


# --------------------------------------------------------- pii_report


def test_pii_report_hand_corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "s1", "mail bob@example.com and 10.1.2.3"),
            (2, "s1", "clean text only"),
            (3, "s2", "call 090-1234-5678 or 03-1111-2222"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in A.pii_report(docs).collect()}
    s1 = out["s1"]
    assert (s1.n_docs, s1.n_emails, s1.n_ips, s1.n_phones) == (2, 1, 1, 0)
    assert s1.docs_with_pii == 1
    s2 = out["s2"]
    assert (s2.n_docs, s2.n_emails, s2.n_ips, s2.n_phones) == (1, 0, 0, 2)
    assert s2.docs_with_pii == 1

# --------------------------------------------- dedup_components_tfidf


def test_dedup_components_tfidf_clusters_copies(spark):
    # 3 identical docs + 1 distinct: the copies contract to min id,
    # the loner labels itself
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (5, "alpha beta gamma delta"),
            (9, "omega psi chi phi"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.component
        for r in A.dedup_components_tfidf(docs, max_df=10).collect()
    }
    assert out == {1: 1, 2: 1, 5: 1, 9: 9}


# ------------------------------------------------------ session_paths


def test_session_paths_hand_stream(spark):
    # user 1: one session a,b,c,d -> path a>b>c (k=3 slots);
    # user 2: two sessions split by a 40-min gap -> 'a>b' and 'c'
    rows = [
        (0, 0, 1, "a"),
        (1, 60, 1, "b"),
        (2, 120, 1, "c"),
        (3, 180, 1, "d"),
        (4, 0, 2, "a"),
        (5, 60, 2, "b"),
        (6, 60 + 40 * 60, 2, "c"),
    ]
    out = {
        r.path: r.n_sessions
        for r in E.session_paths(_ev(spark, rows), k=3).collect()
    }
    assert out == {"a>b>c": 1, "a>b": 1, "c": 1}


def test_session_paths_tie_uses_event_id(spark):
    rows = [(0, 0, 1, "b"), (1, 0, 1, "a")]  # same ts: id order b, a
    out = {
        r.path
        for r in E.session_paths(_ev(spark, rows), k=2).collect()
    }
    assert out == {"b>a"}


# ----------------------------------------------------- quality_by_dup


def test_quality_by_dup_hand_corpus(spark):
    # two long-enough quality docs (one duplicated) + junk-short docs
    good = " ".join(f"tok{i%25}word" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good),          # dup of 1
            (3, good + " tail"),
            (4, "x"),           # fails quality, unique
            (5, "y"),           # fails quality, unique
        ],
        "doc_id long, text string",
    )
    out = {r.qf_pass: r for r in A.quality_by_dup(docs).collect()}
    assert set(out) == {0, 1}
    passing = out[1]
    assert (passing.n_docs, passing.n_dup_docs) == (3, 2)
    assert passing.dup_milli == 666
    failing = out[0]
    assert (failing.n_docs, failing.n_dup_docs, failing.dup_milli) == (2, 0, 0)

# ------------------------------------------------ TPC-H Q4/Q13 shapes


def test_order_priority_semi_join_no_duplication(spark):
    from contentextractor_spark.functions import relational as R

    t0 = datetime.datetime(1996, 2, 1)
    orders = spark.createDataFrame(
        [
            (1, t0, "1-URGENT"),   # two late lines -> counted ONCE
            (2, t0, "1-URGENT"),   # no late line -> not counted
            (3, datetime.datetime(1995, 1, 1), "2-HIGH"),  # outside window
        ],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [
            (1, t0 + datetime.timedelta(days=5)),
            (1, t0 + datetime.timedelta(days=9)),
            (2, t0 - datetime.timedelta(days=1)),
            (3, datetime.datetime(1995, 6, 1)),
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    out = {
        r.o_orderpriority: r.order_count
        for r in R.order_priority_counts(orders, li).collect()
    }
    assert out == {"1-URGENT": 1}


def test_customer_distribution_keeps_zero_order_customers(spark):
    from contentextractor_spark.functions import relational as R

    cust = spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "c_custkey long"
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "o_orderkey long, o_custkey long"
    )
    out = {
        r.c_count: r.custdist
        for r in R.customer_order_histogram(cust, orders).collect()
    }
    assert out == {0: 2, 1: 1, 2: 1}

# ---------------------------------------------------------- tfidf_eval


def test_tfidf_eval_uncapped_is_identity(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),
            (3, "omega psi chi"),
        ],
        "doc_id long, text string",
    )
    row = A.tfidf_eval(docs, max_df=10, threshold_milli=300).collect()[0]
    # cap above every df: cand == truth
    assert (row.n_true, row.n_cand, row.n_hit) == (1, 1, 1)
    assert (row.recall_milli, row.precision_milli) == (1000, 1000)


def test_tfidf_eval_tight_cap_drops_everything(spark):
    # the only shared terms have df 2; cap 1 excludes them -> no cand
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),
            (3, "omega psi chi"),
        ],
        "doc_id long, text string",
    )
    row = A.tfidf_eval(docs, max_df=1, threshold_milli=300).collect()[0]
    assert (row.n_true, row.n_cand, row.n_hit) == (1, 0, 0)
    assert (row.recall_milli, row.precision_milli) == (0, 0)


def test_tfidf_eval_refusal_guard(spark):
    import pytest

    docs = spark.createDataFrame(
        [(i, "t") for i in range(30)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="tfidf_eval refused"):
        A.tfidf_eval(docs, max_docs=10)
