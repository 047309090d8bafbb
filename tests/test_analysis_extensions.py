"""SimHash near-dup pair producer: pigeonhole recall guarantee, exact
rescore precision, and the bucket-size skew guard.

The banding scheme is Manku et al. WWW'07: two 48-bit fingerprints at
hamming distance <= n_bands-1 agree exactly on at least one of the
n_bands disjoint 12-bit slices, so candidate recall at the default
max_hamming = n_bands-1 is deterministic (1.0), unlike MinHash banding.
"""

import pytest
from pyspark.sql import functions as F

from contentextractor_spark.functions import analysis as A


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    # templated docs: a shared base vocabulary with per-doc mutations, so
    # simhash distances spread across the 0..48 range with a cluster of
    # true near-dups (single-token edits of the same page)
    base = " ".join(f"w{i}" for i in range(60))
    rows = []
    for d in range(40):
        words = base.split()
        # mutate d%7 tokens deterministically
        for j in range(d % 7):
            words[(d * 5 + j * 11) % len(words)] = f"m{d}_{j}"
        rows.append((d, " ".join(words)))
    # plus 10 unrelated docs
    for d in range(40, 50):
        rows.append((d, " ".join(f"z{d}_{i}" for i in range(30))))
    return rows


def _exact_pairs(spark, rows, max_hamming):
    """Brute-force all-pairs hamming over the same simhash fingerprints."""
    sims = A.simhash(_docs(spark, rows), bits=48)
    a = sims.select(F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("s1"))
    b = sims.select(F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("s2"))
    return {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .collect()
    }


def test_recall_and_precision_vs_bruteforce(spark, corpus):
    # pigeonhole: EVERY pair at hamming <= 3 must be found (recall 1.0);
    # exact rescore: NOTHING above 3 survives (precision 1.0)
    got = {
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in A.simhash_neardup_pairs(
            _docs(spark, corpus), bits=48, n_bands=4
        ).collect()
    }
    want = _exact_pairs(spark, corpus, max_hamming=3)
    assert want, "fixture produced no near-dup pairs — weakened test"
    assert got == want


def test_wider_hamming_needs_more_bands(spark, corpus):
    # max_hamming=5 with 6 bands (8 bits each): the guarantee extends
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in A.simhash_neardup_pairs(
            _docs(spark, corpus), bits=48, n_bands=6, max_hamming=5
        ).collect()
    }
    want = {(a, b) for a, b, _ in _exact_pairs(spark, corpus, max_hamming=5)}
    assert got == want


def test_bucket_cap_drops_degenerate_bucket_loudly(spark):
    # pathological corpus: 30 identical docs -> one bucket of 30 in every
    # band; cap 10 must produce ZERO pairs and a non-empty overflow audit
    rows = [(d, "same text for every document here") for d in range(30)]
    docs = _docs(spark, rows)
    capped = A.simhash_neardup_pairs(docs, bits=48, n_bands=4, max_bucket_size=10)
    assert capped.count() == 0
    over = A.simhash_lsh_overflow(docs, bits=48, n_bands=4, max_bucket_size=10)
    overflow = over.collect()
    assert len(overflow) == 4  # one saturated bucket per band
    assert all(r.n_docs == 30 for r in overflow)
    # and with the cap off, the quadratic volume is really there
    assert (
        A.simhash_neardup_pairs(docs, bits=48, n_bands=4).count() == 30 * 29 // 2
    )


def test_shared_sims_frame_not_recomputed(spark, corpus):
    # passing a precomputed sims frame yields identical output (the shared
    # aggregation contract the producer/overflow pair relies on)
    docs = _docs(spark, corpus)
    sims = A.simhash(docs, bits=48)
    direct = A.simhash_neardup_pairs(docs, bits=48, n_bands=4).collect()
    shared = A.simhash_neardup_pairs(docs, bits=48, n_bands=4, sims=sims).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, shared))


def test_ragged_bands_raise(spark, corpus):
    with pytest.raises(ValueError):
        A.simhash_neardup_pairs(_docs(spark, corpus), bits=48, n_bands=5)
    # the overflow audit enforces the same scheme validation as its twin
    with pytest.raises(ValueError):
        A.simhash_lsh_overflow(
            _docs(spark, corpus), bits=50, n_bands=4, max_bucket_size=10
        )
    # max_hamming beyond the pigeonhole guarantee fails loudly, never a
    # silently-incomplete pair set
    with pytest.raises(ValueError):
        A.simhash_neardup_pairs(
            _docs(spark, corpus), bits=48, n_bands=4, max_hamming=6
        )


def test_components_match_unionfind_over_pairs(
    spark, corpus, unionfind_labels
):
    # differential: the LSS composition must equal a driver-side union-find
    # over the exact same pair set (min-id labeling)
    docs = _docs(spark, corpus)
    pairs = A.simhash_neardup_pairs(docs, bits=48, n_bands=4).collect()
    want = unionfind_labels(
        [(r.doc_id_a, r.doc_id_b) for r in pairs], [d for d, _ in corpus]
    )
    got = {
        r.doc_id: r.component
        for r in A.dedup_components_simhash(docs, bits=48, n_bands=4).collect()
    }
    assert got == want
    assert len({v for v in want.values()}) < len(want)  # fixture really clusters


# ---------------------------------------------------------------------------
# incremental (ingestion-path) dedup
# ---------------------------------------------------------------------------


def test_incremental_dedup_verdicts(spark):
    corpus = _docs(
        spark,
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (4, "totally unrelated corpus document here"),
        ],
    )
    incoming = _docs(
        spark,
        [
            (101, "alpha beta gamma delta epsilon zeta"),  # byte-exact
            (103, "one two three four five six EIGHT"),  # near (shares bands)
            (105, "nothing like anything in the corpus at all"),  # keep
        ],
    )
    got = {
        r.doc_id: r.verdict
        for r in A.incremental_dedup(corpus, incoming, k=4, n=3).collect()
    }
    assert got[101] == "exact"
    assert got[105] == "keep"
    # 103 must not be 'exact'; 'near' depends on band collision which the
    # shared 5-shingle prefix guarantees for at least one band at k=4
    assert got[103] in ("near", "keep")
    assert len(got) == 3


def test_incremental_dedup_exact_wins_over_near(spark):
    # a byte-exact duplicate also collides on every band — verdict must
    # still be 'exact' (precedence), and each incoming doc appears ONCE
    corpus = _docs(spark, [(0, "alpha beta gamma delta epsilon zeta")])
    incoming = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    rows = A.incremental_dedup(corpus, incoming).collect()
    assert [(r.doc_id, r.verdict) for r in rows] == [(1, "exact")]


def test_quality_filter_each_rule_fires(spark):
    # 60 distinct 4-char ALPHABETIC words (digits would fire digit_heavy)
    long_ok = " ".join(
        f"wd{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(60)
    )
    rows = [
        (0, long_ok),  # keep
        (1, "just a few words"),  # too_short
        (2, " ".join("a b" for _ in range(40))),  # short_words (mean len 1)
        (3, " ".join("w" * 18 + chr(97 + i % 26) + chr(97 + i // 26)
                     for i in range(50))),  # long_words (distinct 20-char)
        (4, " ".join("1234" for _ in range(50))),  # digit_heavy (+repetitive)
        (5, " ".join("same" for _ in range(60))),  # repetitive
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.violations, r.keep)
        for r in A.quality_filter(df).collect()
    }
    assert got[0] == ("", 1)
    assert got[1] == ("too_short", 0)
    # mean length 1 AND only 2 distinct words of 80 — both rules fire, in
    # the fixed rule order
    assert got[2] == ("short_words,repetitive", 0)
    assert got[3][0] == "long_words"
    assert "digit_heavy" in got[4][0] and "repetitive" in got[4][0]
    assert got[5] == ("repetitive", 0)


def test_tfidf_ranking_deterministic_and_partitioned(spark):
    rows = [
        (0, "apple apple apple banana banana cherry"),
        (1, "banana cherry cherry dates dates dates"),
        (2, "apple unique1 unique2 unique3 unique4 unique5"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = A.tfidf_top_terms(df, k=2)
    got = {(r.doc_id, r.rank): (r.term, r.tf, r.df) for r in out.collect()}
    # doc 0: apple tf=3 first, banana tf=2 second
    assert got[(0, 1)] == ("apple", 3, 2)
    assert got[(0, 2)] == ("banana", 2, 2)
    # doc 2: five tf=1 singles + apple tf=1 — lexicographic tie-break
    assert got[(2, 1)][0] == "apple"
    assert got[(2, 2)][0] == "unique1"
    # plan audit: the rank window is PARTITIONED by doc_id — the only
    # single-partition exchange allowed is the one-row corpus-count scalar
    # (tiny by construction), never a whole-corpus single-task sort (the
    # r2 verdict's top-k anti-pattern)
    # AdaptiveSparkPlan prints Final + Initial sections — audit the final
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "hashpartitioning(doc_id" in final
    assert final.count("Exchange SinglePartition") <= 1


def test_inverted_index_caps_and_search(spark):
    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha beta"),
        (2, "alpha gamma gamma"),  # duplicate token counts once
        (3, "alpha delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    idx = {r.term: (r.df, r.postings) for r in A.inverted_index(df).collect()}
    assert idx["alpha"] == (4, [0, 1, 2, 3])
    assert idx["gamma"] == (2, [0, 2])
    assert idx["delta"] == (1, [3])
    # caps: df keeps the TRUE count while postings truncate (no silent cap)
    capped = {
        r.term: (r.df, r.postings)
        for r in A.inverted_index(df, min_df=2, max_postings=2).collect()
    }
    assert "delta" not in capped
    assert capped["alpha"] == (4, [0, 1])
    # conjunctive search = posting intersection
    hits = {r.doc_id for r in A.term_search(df, ["alpha", "gamma"]).collect()}
    assert hits == {0, 2}
    # duplicate query terms must not demand a double hit
    hits2 = {r.doc_id for r in A.term_search(df, ["beta", "beta"]).collect()}
    assert hits2 == {0, 1}


def test_bm25_prefers_rare_terms_and_plans_topk(spark):
    rows = [
        (0, "rare common common common"),
        (1, "common common common common"),
        (2, "rare rare common filler1"),
        (3, "filler2 filler3 filler4 filler5"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = A.bm25_search(df, ["rare", "common"], k=3)
    rows_out = out.collect()
    ranked = [r.doc_id for r in sorted(rows_out, key=lambda r: r.rank)]
    # doc 2 (two 'rare' hits) must outrank doc 1 (only the ubiquitous
    # 'common'); doc 3 (no hits) must be absent entirely
    assert ranked[0] == 2
    assert 3 not in ranked
    assert ranked.index(2) < ranked.index(1)
    # top-k plan: TakeOrderedAndProject, never a global window sort of
    # the full scored set (the r2 verdict's anti-pattern)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bm25_duplicate_and_empty_terms(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta")], "doc_id bigint, text string"
    )
    a = A.bm25_search(df, ["alpha", "alpha", "beta"]).collect()
    b = A.bm25_search(df, ["alpha", "beta"]).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    with pytest.raises(ValueError):
        A.bm25_search(df, [])


def test_embedding_components_match_unionfind(spark, unionfind_labels):
    import random

    rng = random.Random(7)
    # three planted clusters of near-identical vectors + noise singles
    rows = []
    vid = 0
    for c in range(3):
        center = [rng.uniform(-1, 1) for _ in range(16)]
        for _ in range(4):
            rows.append(
                (vid, [x + rng.uniform(-0.01, 0.01) for x in center])
            )
            vid += 1
    for _ in range(6):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)]))
        vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    pairs = A.embedding_neardup_lsh(
        emb, threshold=0.9, n_bands=6, band_bits=3
    ).collect()
    want = unionfind_labels(
        [(r.id_a, r.id_b) for r in pairs], [v for v, _ in rows]
    )
    got = {
        r.vec_id: r.component
        for r in A.dedup_components_embedding(
            emb, threshold=0.9, n_bands=6, band_bits=3
        ).collect()
    }
    assert got == want
    assert len(set(want.values())) < len(want)  # clusters really formed


def test_unigram_surprisal_orders_rarity(spark):
    rows = [
        (0, "common common common common"),
        (1, "common common common oddity"),  # one corpus-rare token
        (2, "weird1 weird2 weird3 weird4"),  # all singletons
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in A.unigram_surprisal(df).collect()}
    assert got[0].n_tokens == 4
    # rarer content ⇒ strictly higher mean surprisal
    assert got[0].mean_micronats < got[1].mean_micronats < got[2].mean_micronats
    # integer invariants: mean is the floor of total/n
    for r in got.values():
        assert r.mean_micronats == r.surprisal_micronats // r.n_tokens


def test_pagerank_hand_computed(spark):
    # 1→2, 3→2, 2→1; p0 = 1e6; teleport 150000; d = 85/100
    # iter1: p(2)=150000+85%·2e6=1850000; p(1)=1000000; p(3)=150000
    # iter2: p(1)=150000+85%·1850000=1722500;
    #        p(2)=150000+85%·1150000=1127500; p(3)=150000
    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (2, 1)], "src bigint, dst bigint"
    )
    got = {r.node: r.rank_micro for r in A.pagerank(edges, iters=2).collect()}
    assert got == {1: 1722500, 2: 1127500, 3: 150000}
    # determinism across repartitionings (integer arithmetic is order-free)
    got2 = {
        r.node: r.rank_micro
        for r in A.pagerank(edges.repartition(7), iters=2).collect()
    }
    assert got2 == got


def test_pagerank_dangling_redistribution_hand_computed(spark):
    """r3 verdict #5: 1→2 with 2 a pure sink, n_nodes=2.
    iter1: share = 1e6 div 2 = 500000;
           p(1) = 150000 + (500000·85) div 100            = 575000
           p(2) = 150000 + ((1000000+500000)·85) div 100  = 1425000
    iter2: share = 1425000 div 2 = 712500;
           p(1) = 150000 + (712500·85) div 100            = 755625
           p(2) = 150000 + ((575000+712500)·85) div 100   = 1244375"""
    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    got = {
        r.node: r.rank_micro
        for r in A.pagerank(
            edges, iters=2, redistribute_dangling=True
        ).collect()
    }
    assert got == {1: 755625, 2: 1244375}
    # drop semantics by contrast: node 1 collapses to pure teleport
    dropped = {
        r.node: r.rank_micro for r in A.pagerank(edges, iters=2).collect()
    }
    assert dropped[1] == 150000 and dropped[2] < got[2]
    # order-free: identical under repartitioning
    got2 = {
        r.node: r.rank_micro
        for r in A.pagerank(
            edges.repartition(5), iters=2, redistribute_dangling=True
        ).collect()
    }
    assert got2 == got


def test_hits_hand_computed(spark):
    """1→2, 3→2, 2→1; scale=1e9, n=3, h0 = 333333333 each.
    iter1: a_raw = {1:333333333, 2:666666666, 3:0}, Σ=999999999
           a = {1:333333333, 2:666666666, 3:0}
           h_raw = {1:666666666, 2:333333333, 3:666666666}, Σ=1666666665
           h = {1:400000000, 2:200000000, 3:400000000}
    iter2: a = {1:200000000, 2:800000000, 3:0}
           h = {1:444444444, 2:111111111, 3:444444444}
    (python integer replica in the commit message's session log)"""
    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (2, 1)], "src bigint, dst bigint"
    )
    got = {
        r.node: (r.hub_micro, r.auth_micro)
        for r in A.hits_scores(edges, iters=2).collect()
    }
    assert got == {
        1: (444444444, 200000000),
        2: (111111111, 800000000),
        3: (444444444, 0),
    }
    # duplicate edges must not double-count (0/1 adjacency convention)
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (3, 2), (2, 1)], "src bigint, dst bigint"
    )
    got_dup = {
        r.node: (r.hub_micro, r.auth_micro)
        for r in A.hits_scores(dup, iters=2).collect()
    }
    assert got_dup == got
    # order-free: identical under repartitioning
    got2 = {
        r.node: (r.hub_micro, r.auth_micro)
        for r in A.hits_scores(edges.repartition(7), iters=2).collect()
    }
    assert got2 == got


def test_minhash_jaccard_est_identical_and_disjoint(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "one two three four five six seven"),
        ],
        "doc_id bigint, text string",
    )
    rows = A.minhash_jaccard_est(docs, k=4, n=3).collect()
    got = {(r.doc_a, r.doc_b): (r.matches, r.est_jaccard_micro) for r in rows}
    # identical docs share every band bucket and every component
    assert got[(1, 2)] == (4, 1_000_000)
    # the disjoint doc can only appear via an md5 band collision — none
    # on this fixture
    assert all(3 not in pair for pair in got)


def test_funnel_hand_computed(spark):
    """Strict-after semantics: u3's view at the SAME instant as its signup
    must not count; u4's purchase BEFORE its qualifying view must not."""
    from datetime import datetime as dt

    from contentextractor_spark.functions.events import funnel

    def t(m):
        return dt(2024, 1, 1, 0, m)

    rows = [
        # u1 reaches all three steps
        (1, t(1), "signup"), (1, t(2), "view"), (1, t(3), "purchase"),
        # u2: view before signup ignored; view@3 counts; purchase@2 < t2
        (2, t(1), "view"), (2, t(2), "signup"), (2, t(3), "view"),
        (2, t(2), "purchase"),
        # u3: view at the signup instant — strict > excludes it
        (3, t(1), "signup"), (3, t(1), "view"), (3, t(5), "purchase"),
        # u4: purchase precedes its qualifying view
        (4, t(1), "signup"), (4, t(3), "view"), (4, t(2), "purchase"),
        # u5 never signs up
        (5, t(1), "view"), (5, t(2), "purchase"),
    ]
    events = spark.createDataFrame(
        [(uid, ts, et) for uid, ts, et in rows],
        "user_id bigint, ts timestamp, event_type string",
    )
    got = {
        r.step: (r.step_idx, r.users)
        for r in funnel(events, ["signup", "view", "purchase"]).collect()
    }
    assert got == {"signup": (1, 4), "view": (2, 3), "purchase": (3, 1)}


def test_extract_links_order_and_poison_pages(spark):
    from contentextractor_spark.plans.pipeline import extract_links

    pages = spark.createDataFrame(
        [
            (
                "1",
                "<html><body><a href='first'>x</a><p>mid</p>"
                "<div><a href='second'>y</a></div>"
                "<a name='no-href'>z</a></body></html>".encode(),
            ),
            ("2", b"\xff\xfe\x00garbage not a page \x00\x00"),
            ("3", None),
            ("4", "<p>no links at all</p>".encode()),
        ],
        "url string, html binary",
    )
    rows = extract_links(pages, num_buckets=4).collect()
    got = {(r.url, r.link_idx): r.href for r in rows}
    # document order preserved; anchor without href skipped
    assert got == {("1", 0): "first", ("1", 1): "second"}


def test_new_op_plan_shapes(spark):
    """Pin the scale-relevant plan properties of the session's ops: semi
    joins where semi joins are claimed, and no single-task sort or
    unexpected single-partition exchange beyond the documented one-row
    scalar aggregates."""
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)],
        "doc_id bigint, text string",
    )

    def final_plan(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    inc = A.incremental_dedup(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )
    p = final_plan(inc)
    assert "LeftSemi" in p  # both probes are semi joins, corpus never built
    assert "Exchange SinglePartition" not in p

    p = final_plan(A.unigram_surprisal(docs))
    # the corpus-total scalar is the ONLY single-partition exchange
    assert p.count("Exchange SinglePartition") <= 1

    p = final_plan(A.inverted_index(docs, min_df=1))
    assert "Exchange SinglePartition" not in p

    p = final_plan(A.term_search(docs, ["w1", "w2"]))
    assert "Exchange SinglePartition" not in p


def test_quantize_embeddings_bounds_and_zero_vector(spark):
    emb = spark.createDataFrame(
        [
            (0, [0.5, -1.0, 0.25, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector must not divide by 0
        ],
        "vec_id bigint, embedding array<double>",
    )
    got = {r.vec_id: r for r in A.quantize_embeddings(emb).collect()}
    assert got[0].scale == 1.0
    # round(x*127/max): 0.5→64 (63.5 rounds away), -1.0→-127, 0.25→32 (31.75)
    assert got[0].qvec == [64, -127, 32, 0]
    assert got[1].scale == 0.0 and got[1].qvec == [0, 0, 0, 0]
    assert all(-127 <= v <= 127 for r in got.values() for v in r.qvec)


def test_quantized_knn_recall_vs_exact(spark):
    # int8 on the dim-64 fixture is near-lossless for top-5: measured
    # recall 0.98 at sf0.001 — pin a 0.9 floor so a quantization bug
    # (wrong scale, truncation instead of round) fails loudly
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in A.knn_bruteforce(emb, n_queries=10, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in A.quantized_knn(emb, n_queries=10, k=5).collect()
    }
    assert len(exact & quant) / len(exact) >= 0.9


def test_incremental_dedup_shared_corpus_membership(spark):
    # the precomputed-corpus-membership path (production: persisted and
    # bucketed once, probed per batch) agrees with the fresh computation
    from contentextractor_spark.functions.analysis import _band_membership

    corpus = _docs(
        spark,
        [(0, "alpha beta gamma delta epsilon zeta"), (2, "x y z w v u t")],
    )
    incoming = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    fresh = A.incremental_dedup(corpus, incoming).collect()
    shared = A.incremental_dedup(
        corpus, incoming, corpus_membership=_band_membership(corpus, 4, 3)
    ).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, shared))


def test_retention_cohorts_hand_computed(spark):
    """Day-0 rows count the whole cohort; later offsets only returners;
    multiple same-day events collapse (the distinct)."""
    from datetime import datetime as dt

    from contentextractor_spark.functions.events import retention_cohorts

    rows = [
        # u1: first day 0, returns days 1 and 3 (two events day 1 — dedup)
        (1, dt(2024, 1, 1, 5), "a"), (1, dt(2024, 1, 2, 1), "a"),
        (1, dt(2024, 1, 2, 23), "a"), (1, dt(2024, 1, 4, 0), "a"),
        # u2: same cohort day 0, never returns
        (2, dt(2024, 1, 1, 9), "a"),
        # u3: cohort day 2, returns day 3 (offset 1)
        (3, dt(2024, 1, 3, 0), "a"), (3, dt(2024, 1, 4, 12), "a"),
    ]
    events = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )
    got = {
        (r.cohort_day, r.day_offset): r.users
        for r in retention_cohorts(events).collect()
    }
    assert got == {
        (0, 0): 2, (0, 1): 1, (0, 3): 1,
        (2, 0): 1, (2, 1): 1,
    }


def test_pmi_collocations_hand_computed(spark):
    """lift = c_ab*tu^2/(tb*ca*cb), integer-staged; min_count prunes
    singleton bigrams before any join; rank ties break on bigram ASC."""
    from contentextractor_spark.functions.analysis import pmi_collocations

    docs = spark.createDataFrame(
        [(0, "a b a b c d"), (1, "a b x y x y")],
        "doc_id bigint, text string",
    )
    got = [
        (r.bigram, r.n_ab, r.lift_milli, r.rank)
        for r in pmi_collocations(docs, min_count=2, k=10)
        .orderBy("rank")
        .collect()
    ]
    # tu=12, tb=10; "a b": 3*1000*12//3=12000, *12//3=48000, //10=4800
    #               "x y": 2*1000*12//2=12000, *12//2=72000, //10=7200
    assert got == [("x y", 2, 7200, 1), ("a b", 3, 4800, 2)]


def test_triangle_counts_hand_computed(spark):
    """K4 gives every member 3 triangles; duplicate/reversed edges
    collapse via the canonical distinct; the dangling bridge adds none."""
    from contentextractor_spark.functions.analysis import triangle_counts

    edges = [
        # triangle {0,1,2} with a duplicate and a reversed copy
        (0, 1), (1, 2), (0, 2), (1, 0), (2, 1),
        # bridge (no triangle)
        (2, 3),
        # K4 on {3,4,5,6}
        (3, 4), (3, 5), (3, 6), (4, 5), (4, 6), (5, 6),
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 3, 4: 3, 5: 3, 6: 3}


def test_dataset_digest_detects_single_row_drift(spark):
    """The versioning use-case: one edited row flips exactly its own
    (grp, shard) cell's content_sum and nothing else; identical inputs
    digest identically regardless of row order."""
    from contentextractor_spark.functions.analysis import dataset_digest

    rows = [(i, "en" if i % 2 == 0 else "ja", f"text {i}") for i in range(40)]
    a = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    b = spark.createDataFrame(
        list(reversed(rows)), "doc_id bigint, lang string, text string"
    )
    da = {(r.grp, r.shard): (r.n_rows, r.content_sum)
          for r in dataset_digest(a, n_shards=4).collect()}
    db = {(r.grp, r.shard): (r.n_rows, r.content_sum)
          for r in dataset_digest(b, n_shards=4).collect()}
    # lang follows doc_id parity, so en occupies even shards only and
    # ja odd ones: 4 occupied cells, not 2x4
    assert da == db and len(da) == 4

    drifted = [(i, lang, "EDITED" if i == 7 else t) for i, lang, t in rows]
    c = spark.createDataFrame(
        drifted, "doc_id bigint, lang string, text string"
    )
    dc = {(r.grp, r.shard): (r.n_rows, r.content_sum)
          for r in dataset_digest(c, n_shards=4).collect()}
    changed = {k for k in da if da[k] != dc[k]}
    assert changed == {("ja", 3)}  # doc 7: lang ja, 7 % 4 == 3


def test_resolve_redirects_chain_cycle_and_cap(spark):
    """Chains resolve to their terminal; a 2-cycle reports resolved=0;
    a chain longer than 2^rounds stops mid-chain with resolved=0 and
    completes once rounds covers it."""
    from contentextractor_spark.functions.analysis import resolve_redirects

    rows = [(5, 4), (4, 3), (3, 2), (2, 1), (1, 0), (10, 11), (11, 10)]
    red = spark.createDataFrame(rows, "src bigint, dst bigint")

    got2 = {r.src: (r.final, r.resolved)
            for r in resolve_redirects(red, rounds=2).collect()}
    # 4 hops: 5 -> 1 (still a redirector), cycle back at itself
    assert got2[5] == (1, 0)
    assert got2[4] == (0, 1) and got2[1] == (0, 1)
    assert got2[10] == (10, 0) and got2[11] == (11, 0)

    got3 = {r.src: (r.final, r.resolved)
            for r in resolve_redirects(red, rounds=3).collect()}
    assert got3[5] == (0, 1)
    assert got3[10] == (10, 0)


def test_zipf_fit_matches_python_replica_and_slope(spark):
    """An exact-Zipf corpus (count(i) = 2000//i) fits slope ~ -1; the
    integer OLS pipeline must be bit-identical to a python replica of
    the same quantization and staged divisions."""
    import math

    from contentextractor_spark.functions.analysis import zipf_fit

    counts = {f"t{i:03d}": 2000 // i for i in range(1, 33)}
    text = " ".join(tok for tok, c in counts.items() for _ in range(c))
    docs = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
    row = zipf_fit(docs, top_n=32).collect()[0]

    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (
            math.floor(math.log(r + 1) * 10000),
            math.floor(math.log(c) * 10000),
        )
        for r, (_, c) in enumerate(ranked)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    s_abs = (abs(num) * 1000) // max(den // 1000, 1)
    slope = -s_abs if num < 0 else s_abs
    term = (s_abs * sx * 100) // 1000000
    inner = sy * 100 + (term if num < 0 else -term)
    B = 2**40
    intercept = (inner + B * n) // n - B

    assert (row.n_terms, row.slope_micro, row.intercept_micro) == (
        n, slope, intercept,
    )
    assert -1_100_000 < row.slope_micro < -900_000


def test_co_citation_cap_and_counts(spark):
    """Hand graph: two sources co-cite (1,2); the outdeg-5 hub is
    dropped by max_out=4 and reported by the overflow twin; the
    degree histogram counts both directions over dedup'd edges."""
    from contentextractor_spark.functions.analysis import (
        co_citation_overflow,
        co_citation_pairs,
        degree_histogram,
    )

    rows = [(100, d) for d in (1, 2, 3, 4, 5)] + [
        (10, 1), (10, 2), (11, 1), (11, 2), (12, 2), (12, 3),
        (10, 1),  # duplicate edge must not double-count
    ]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")

    pairs = {
        (r.dst_a, r.dst_b): r.n_sources
        for r in co_citation_pairs(edges, max_out=4, min_count=1).collect()
    }
    assert pairs == {(1, 2): 2, (2, 3): 1}
    assert {
        (r.dst_a, r.dst_b)
        for r in co_citation_pairs(edges, max_out=4, min_count=2).collect()
    } == {(1, 2)}

    over = [(r.src, r.outdeg)
            for r in co_citation_overflow(edges, max_out=4).collect()]
    assert over == [(100, 5)]

    hist = {
        (r.direction, r.degree): r.n_nodes
        for r in degree_histogram(edges).collect()
    }
    assert hist == {
        ("out", 2): 3, ("out", 5): 1,
        ("in", 1): 2, ("in", 2): 1, ("in", 3): 1, ("in", 4): 1,
    }


def test_revisit_records_first_fetch_and_tie(spark):
    """First fetch per (url, digest) is the response (ts tie -> min id);
    later identical fetches are revisits referring to it; changed
    content opens a new response; out-of-bounds rows raise."""
    from contentextractor_spark.functions.analysis import revisit_records

    rows = [
        # u1: two fetches of digest A at the SAME ts (ids 5, 3 — min id
        # wins), a later identical fetch, then changed content
        (5, "u1", 100, "A"), (3, "u1", 100, "A"), (7, "u1", 200, "A"),
        (9, "u1", 300, "B"),
        # u2: single fetch
        (11, "u2", 50, "A"),
    ]
    snaps = spark.createDataFrame(
        rows, "doc_id bigint, url string, ts bigint, digest string"
    )
    got = {
        r.doc_id: (r.kind, r.refers_id, r.refers_ts)
        for r in revisit_records(snaps).collect()
    }
    assert got == {
        3: ("response", None, None),
        5: ("revisit", 3, 100),
        7: ("revisit", 3, 100),
        9: ("response", None, None),
        11: ("response", None, None),
    }

    bad = spark.createDataFrame(
        [(2**21, "u1", 10, "A")],
        "doc_id bigint, url string, ts bigint, digest string",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="packing bounds"):
        revisit_records(bad).collect()


def test_parse_http_dates_known_values(spark):
    """Known epochs, weekday tolerance (wrong weekday parses fine per
    RFC 7231), malformed and NULL headers -> NULL epoch/day."""
    from contentextractor_spark.functions.analysis import parse_http_dates

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = [
        (1, "Tue, 03 Jun 2025 17:05:09 GMT"),
        (2, "Xxx, 01 Jan 1970 00:00:01 GMT"),  # nonsense weekday ok
        (3, "garbage"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, last_modified string")
    got = {r.doc_id: (r.epoch, r.day)
           for r in parse_http_dates(df).collect()}
    assert got == {
        1: (1748970309, 1748970309 // 86400),
        2: (1, 0),
        3: (None, None),
        4: (None, None),
    }


def test_robots_sitemaps_directive_scan(spark):
    """Case-insensitive field, commented-out directive ignored, host
    lowercased, document-order pos, CRLF tolerated, space-before-colon
    rejected (strict prefix)."""
    from contentextractor_spark.functions.analysis import robots_sitemaps

    txt = (
        "User-agent: *\r\n"
        "Disallow: /\r\n"
        "Sitemap: https://a.example/one.xml\r\n"
        "# Sitemap: https://a.example/commented.xml\n"
        "sitemap:   https://a.example/two.xml  \n"
        "Sitemap : https://a.example/spaced.xml\n"
        "SITEMAP: https://a.example/three.xml"
    )
    robots = spark.createDataFrame(
        [("A.Example", txt), ("b.example", "User-agent: *\nDisallow: /")],
        "host string, robots_txt string",
    )
    got = [(r.host, r.pos, r.sitemap_url)
           for r in robots_sitemaps(robots).orderBy("host", "pos").collect()]
    assert got == [
        ("a.example", 1, "https://a.example/one.xml"),
        ("a.example", 2, "https://a.example/two.xml"),
        ("a.example", 3, "https://a.example/three.xml"),
    ]


def test_mirror_hosts_finds_clones_only(spark):
    """Exact content clones pair up regardless of doc ids; a host with
    one changed doc must NOT pair; multiset semantics (duplicate doc
    within a host counts twice)."""
    from contentextractor_spark.functions.analysis import mirror_hosts

    rows = [
        ("a", "x"), ("a", "y"), ("a", "y"),     # multiset {x, y, y}
        ("b", "y"), ("b", "x"), ("b", "y"),     # same multiset, reordered
        ("c", "x"), ("c", "y"),                 # subset — no pair
        ("d", "x"), ("d", "y"), ("d", "z"),     # one doc differs
    ]
    docs = spark.createDataFrame(rows, "host string, text string")
    got = [(r.host_a, r.host_b, r.n_docs)
           for r in mirror_hosts(docs).collect()]
    assert got == [("a", "b", 3)]


def test_lsh_eval_identical_docs_and_invariants(spark):
    """Identical docs are always both truth and candidate (pigeonhole:
    equal signatures share every band); counters satisfy
    n_hit <= min(n_true, n_cand) and the milli ratios derive exactly."""
    from contentextractor_spark.functions.analysis import lsh_eval

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta"),
        (1, "alpha beta gamma delta epsilon zeta eta"),  # exact dup of 0
        (2, "one two three four five six seven eight"),
        (3, "unrelated corpus document completely different"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    r = lsh_eval(docs, num=1, den=2).collect()[0]
    assert r.n_true >= 1 and r.n_cand >= 1 and r.n_hit >= 1
    assert r.n_hit <= min(r.n_true, r.n_cand)
    assert r.recall_milli == r.n_hit * 1000 // max(r.n_true, 1)
    assert r.precision_milli == r.n_hit * 1000 // max(r.n_cand, 1)


def test_stopword_lists_threshold(spark):
    """df-threshold gate: 'the' in 3/4 en docs (75% >= 60) survives,
    'rare' (25%) drops; groups threshold independently."""
    from contentextractor_spark.functions.analysis import stopword_lists

    rows = [
        (0, "en", "the cat"), (1, "en", "the dog"),
        (2, "en", "the rare bird"), (3, "en", "a fish"),
        (4, "ja", "の 猫"), (5, "ja", "の 犬"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    got = {(r.grp, r.tok): (r.df, r.n_docs)
           for r in stopword_lists(docs, min_df_pct=60).collect()}
    assert got == {("en", "the"): (3, 4), ("ja", "の"): (2, 2)}


def test_shard_skew_report_counts_and_ratio(spark):
    """Row/byte counts partition the corpus exactly; skew_milli is
    identical on every row and equals max*1000 // mean."""
    from contentextractor_spark.functions.analysis import shard_skew_report

    docs = spark.createDataFrame(
        [(i, "x" * (10 + i % 3)) for i in range(100)],
        "doc_id bigint, text string",
    )
    rows = shard_skew_report(docs, n_shards=4).collect()
    assert sum(r.n_rows for r in rows) == 100
    total = sum(r.n_bytes for r in rows)
    assert total == sum(10 + i % 3 for i in range(100))
    mx = max(r.n_bytes for r in rows)
    mean = total // len(rows)
    assert {r.skew_milli for r in rows} == {mx * 1000 // max(mean, 1)}


def test_review_fixes_r5s4(spark):
    """r5 s4 review findings: (1) shard skew divides by the WRITER'S
    shard count so empty shards surface; (2) revisit_records refuses
    NULL keys loudly; (3) triangle_counts refuses node >= 2^32;
    (4) dataset_digest NULL text hashes to NULL in Spark too (the
    DuckDB '||' semantics), counted in n_rows but not content_sum."""
    import pytest as _pytest

    from contentextractor_spark.functions.analysis import (
        dataset_digest,
        revisit_records,
        shard_skew_report,
        triangle_counts,
    )

    # (1) one doc, 8 shards: 7 empty -> skew ~ 8000, never 1000
    one = spark.createDataFrame([(0, "x" * 80)], "doc_id bigint, text string")
    r = shard_skew_report(one, n_shards=8).collect()
    assert len(r) == 1 and r[0].skew_milli == 80 * 1000 // (80 // 8)

    # (2) NULL url refused
    bad = spark.createDataFrame(
        [(1, None, 10, "A")],
        "doc_id bigint, url string, ts bigint, digest string",
    )
    with _pytest.raises(Exception, match="NULL url"):
        revisit_records(bad).collect()

    # (3) node outside the packing bound refused
    wide = spark.createDataFrame(
        [(2**32, 1), (1, 2)], "src bigint, dst bigint"
    )
    with _pytest.raises(Exception, match="outside \\[0, 2\\^32\\)"):
        triangle_counts(wide).collect()

    # (4) NULL text: row counted, hash skipped — matches '||' semantics
    docs = spark.createDataFrame(
        [(0, "en", "x"), (1, "en", None)],
        "doc_id bigint, lang string, text string",
    )
    rows = dataset_digest(docs, n_shards=1).collect()
    assert len(rows) == 1 and rows[0].n_rows == 2
    only = dataset_digest(
        spark.createDataFrame([(0, "en", "x")],
                              "doc_id bigint, lang string, text string"),
        n_shards=1,
    ).collect()[0]
    assert rows[0].content_sum == only.content_sum
