"""K1/K2 tokenizer goldens + analysis-operator unit checks."""

import pandas as pd
import pytest

from contentextractor_spark.functions.tokenize import (
    keyword_list,
    keyword_list_series,
    keyword_tokens,
    tokenize,
)


def test_tokenize_script_runs():
    assert tokenize("hello world") == ["hello", "world"]
    assert tokenize("日本語のテキスト") == ["日本語", "の", "テキスト"]
    assert tokenize("mixedテキストtext") == ["mixed", "テキスト", "text"]


def test_tokenize_katakana_chouon():
    assert tokenize("データベース") == ["データベース"]


def test_keyword_filter_len_and_digits():
    assert keyword_tokens("a bb 12 ３４ hello") == ["bb", "hello"]


def test_keyword_list_trailing_comma():
    assert keyword_list("hello world x") == "hello,world,"
    assert keyword_list("") == ""


def test_keyword_list_keeps_duplicates_in_order():
    assert keyword_list("spark spark fast") == "spark,spark,fast,"


def test_keyword_list_series_matches_scalar():
    texts = pd.Series(["hello world", "日本語テキスト 12", None, ""])
    got = keyword_list_series(texts)
    assert got[0] == keyword_list("hello world")
    assert got[1] == keyword_list("日本語テキスト 12")
    assert got[2] == ""
    assert got[3] == ""


# ---------- Spark analysis ops: structural invariants ----------

@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_dedup_exact_partitions_rows(spark, docs):
    from contentextractor_spark.functions.analysis import dedup_exact

    out = dedup_exact(docs)
    assert out.count() == docs.count()
    # rank-1 rows = number of distinct texts
    distinct = docs.selectExpr("count(distinct text) c").collect()[0].c
    assert out.filter("copy_rank = 1").count() == distinct


def test_minhash_band_containment(spark, docs):
    """Property: docs with identical text MUST share every band bucket."""
    from pyspark.sql import functions as F

    from contentextractor_spark.functions.analysis import minhash_signatures

    dup = docs.limit(5).union(docs.limit(5))  # force exact dups
    sig = minhash_signatures(dup, k=4)
    # identical text → identical signature; 5 unique docs → 5 unique sigs
    assert sig.select("mh0", "mh1", "mh2", "mh3").distinct().count() == 5
    assert sig.count() == 5  # groupBy doc_id collapses the union dups


def test_simhash_similar_texts_close(spark):
    """SimHash property: near-identical texts differ in few bits."""
    from contentextractor_spark.functions.analysis import simhash

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog near the river bank",
                "the quick brown fox jumps over the lazy dog near the river edge",
                "completely different words about spark engines and parquet files",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {r.doc_id: r.simhash for r in simhash(df, bits=48).collect()}
    d12 = bin(got[1] ^ got[2]).count("1")
    d13 = bin(got[1] ^ got[3]).count("1")
    assert d12 < d13


def test_knn_rank_properties(spark):
    from contentextractor_spark.functions.analysis import knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = knn_bruteforce(emb, n_queries=5, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3]
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_embedding_lsh_bucket_count(spark):
    from contentextractor_spark.functions.analysis import embedding_lsh_buckets

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = embedding_lsh_buckets(emb, n_planes=8)
    rows = out.collect()
    assert sum(r.n_vecs for r in rows) == emb.count()
    assert all(0 <= r.bucket < 256 for r in rows)


def test_media_features_deterministic(spark, docs):
    from pyspark.sql import functions as F

    from contentextractor_spark.operators.multimodal import media_features

    media = docs.limit(20).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    a = {r.media_id: r for r in media_features(media).collect()}
    b = {r.media_id: r for r in media_features(media).collect()}
    assert len(a) == 20
    for k in a:
        assert a[k].content_hash == b[k].content_hash
        assert len(a[k].features) == 16
        assert a[k].status == "ok:fake-decode"


def test_decode_media_stub_raises_without_fake():
    from contentextractor_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "image")


def test_frame_sample_plan(spark):
    from contentextractor_spark.operators.multimodal import frame_sample_plan

    pdf = pd.DataFrame({"media_id": [1, 2], "n_frames": [25, 5]})
    df = spark.createDataFrame(pdf)
    rows = frame_sample_plan(df, every_n=10).collect()
    got = sorted((r.media_id, r.frame_idx) for r in rows)
    assert got == [(1, 0), (1, 10), (1, 20), (2, 0)]


def test_frame_sample_plan_zero_frames_yields_no_rows(spark):
    # sequence(0, -1, n) throws on illegal boundaries: one zero-frame row
    # aborted the whole job before the guard (r3 review); SQL
    # generate_series yields no rows — match it
    from contentextractor_spark.operators.multimodal import frame_sample_plan

    df = spark.createDataFrame(
        pd.DataFrame({"media_id": [1, 2, 3], "n_frames": [0, 15, 0]})
    )
    got = sorted(
        (r.media_id, r.frame_idx)
        for r in frame_sample_plan(df, every_n=10).collect()
    )
    assert got == [(2, 0), (2, 10)]


def test_media_features_custom_id_col(spark, docs):
    # the UDF reads the RENAMED media_id column; pdf[id_col] raised
    # KeyError for any non-default id column (r3 review)
    from pyspark.sql import functions as F

    from contentextractor_spark.operators.multimodal import media_features

    media = docs.limit(5).select(
        F.col("doc_id").alias("img_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    rows = media_features(media, id_col="img_id").collect()
    assert len(rows) == 5 and all(r.status == "ok:fake-decode" for r in rows)


def test_resize_plan_fits_max_side_exactly(spark):
    # w·(max_side/w) lands at max_side − ε in doubles for ~11% of widths;
    # truncation produced 255 (r3 review) — half-up restores the contract:
    # the larger dimension of any downscaled image equals max_side
    from contentextractor_spark.operators.multimodal import resize_plan

    df = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": [1, 2, 3], "width": [322, 347, 512], "height": [100, 60, 256]}
        )
    )
    rows = {r.media_id: r for r in resize_plan(df, max_side=256).collect()}
    assert rows["1"].dst_w == 256 and rows["2"].dst_w == 256
    assert rows["3"].dst_w == 256 and rows["3"].dst_h == 128


def test_ivf_full_probe_equals_bruteforce(spark):
    """Invariant: IVF with nprobe == n_lists degenerates to exact search."""
    from contentextractor_spark.functions.analysis import ivf_topk, knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_bruteforce(emb, n_queries=5, k=3).collect()
    }
    full_probe = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk(emb, n_queries=5, k=3, n_lists=4, nprobe=4).collect()
    }
    assert full_probe == exact


def test_ivf_fixed_centers_full_probe_equals_bruteforce(spark):
    """The oracle twin shares the invariant: full probe ⇒ exact search —
    list assignment never loses a candidate when every list is probed."""
    from contentextractor_spark.functions.analysis import (
        ivf_fixed_centers_topk,
        knn_bruteforce,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_bruteforce(emb, n_queries=5, k=3).collect()
    }
    full_probe = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_fixed_centers_topk(
            emb, n_queries=5, k=3, n_lists=4, nprobe=4
        ).collect()
    }
    assert full_probe == exact


def test_ivf_partial_probe_recall(spark):
    from contentextractor_spark.functions.analysis import ivf_topk, knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        r.query_id: set()
        for r in knn_bruteforce(emb, n_queries=10, k=5).collect()
    }
    for r in knn_bruteforce(emb, n_queries=10, k=5).collect():
        exact[r.query_id].add(r.neighbor_id)
    approx = {q: set() for q in exact}
    for r in ivf_topk(emb, n_queries=10, k=5, n_lists=8, nprobe=3).collect():
        approx[r.query_id].add(r.neighbor_id)
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.3  # partial probe: bounded loss


def test_dedup_components_nonconvergence_raises(spark):
    """ADVICE r1: a chain whose graph diameter exceeds max_iter must fail
    loudly, not return silently wrong component labels."""
    from contentextractor_spark.functions.analysis import dedup_components

    # chain: doc i shares a 3-gram bridge with doc i+1 only
    rows = []
    for i in range(6):
        rows.append((i, f"bridge{i} link{i} word{i} bridge{i+1} link{i+1} word{i+1}"))
    chain = spark.createDataFrame(rows, ["doc_id", "text"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(chain, min_intersection=1, max_iter=1)
    ok = dedup_components(chain, min_intersection=1, max_iter=15)
    assert {r.component for r in ok.collect()} == {0}


def test_embedding_neardup_lsh_recall_and_precision(spark):
    """The banded-LSH pair producer (the 10^12-scale path) must emit a
    SUBSET of the exact O(n²) pairs (precision 1.0 after re-scoring) with
    usable recall on the fixture."""
    from contentextractor_spark.functions.analysis import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b) for r in embedding_neardup_pairs(emb, 0.35).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(emb, 0.35, n_bands=6, band_bits=3).collect()
    }
    assert lsh <= exact  # re-scored candidates: no false positives
    recall = len(lsh) / max(1, len(exact))
    # document the measured operating point; regression-guard it
    assert recall >= 0.5, f"recall {recall:.3f} (|exact|={len(exact)})"


def test_embedding_rescore_numpy_equals_fold(spark):
    """r4 rescore split: the vectorized numpy pandas-UDF scale path must
    emit the identical (pair, cos_sim) set as the oracle-exact sequential
    fold on the fixture — summation-order noise can only bite within
    ~1e-13 of a 4dp boundary, which the fixture does not sit on."""
    from contentextractor_spark.functions.analysis import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fold = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_lsh(emb, 0.35, rescore="fold").collect()
    }
    vec = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_lsh(emb, 0.35, rescore="numpy").collect()
    }
    assert len(fold) > 0 and fold == vec
    with pytest.raises(ValueError, match="rescore"):
        embedding_neardup_lsh(emb, 0.35, rescore="bogus")


def test_exact_pair_baselines_refuse_above_bound(spark, monkeypatch):
    """r3 verdict #4: the O(n²) exact-pair baseline and the linear-scan
    brute-force knn must REFUSE loudly above their documented corpus
    bounds unless force=True — mirroring the LSH producers' loud-cap
    convention."""
    from contentextractor_spark.functions import analysis as A

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(A, "MAX_EXACT_PAIR_ROWS", 3)
    monkeypatch.setattr(A, "MAX_KNN_BRUTEFORCE_ROWS", 3)
    with pytest.raises(ValueError, match="embedding_neardup_pairs refused"):
        A.embedding_neardup_pairs(emb, 0.5)
    with pytest.raises(ValueError, match="knn_bruteforce refused"):
        A.knn_bruteforce(emb, n_queries=2, k=2)
    # force=True overrides the refusal and the plans still evaluate
    assert A.embedding_neardup_pairs(emb, 0.5, force=True).count() > 0
    assert A.knn_bruteforce(emb, n_queries=2, k=2, force=True).count() > 0


def test_asof_plan_single_shuffle_and_semantics(spark):
    """asof_latest: one Exchange (the user_id sort-partition), no join
    operator in the plan; carry-forward semantics spot-checked."""
    import datetime as dt

    from contentextractor_spark.functions.events import asof_latest

    rows = [
        (1, dt.datetime(2026, 1, 1, 0, 0, 0), 7, "view", 0.0, ""),
        (2, dt.datetime(2026, 1, 1, 0, 5, 0), 7, "click", 0.0, ""),
        (3, dt.datetime(2026, 1, 1, 0, 9, 0), 7, "view", 0.0, ""),
        (4, dt.datetime(2026, 1, 1, 0, 9, 0), 7, "click", 0.0, ""),  # tie: >= matches
        (5, dt.datetime(2026, 1, 1, 0, 1, 0), 8, "click", 0.0, ""),  # no prior view
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.event_id: r.asof_event_id for r in asof_latest(ev, "view").collect()}
    assert out == {1: 1, 2: 1, 3: 3, 4: 3, 5: None}

    plan = asof_latest(ev, "view")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    # ONE pass over the source: the marker rows come from a conditional
    # explode, not a second unioned projection (r3 review)
    assert plan.count("Scan ExistingRDD") + plan.count("FileScan") == 1


def test_neardup_lsh_plan_no_cartesian(spark):
    from contentextractor_spark.functions.analysis import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        embedding_neardup_lsh(emb, 0.35)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    # the ONLY nested-loop joins allowed are the one-row planes-matrix
    # broadcasts (de-literal hyperplanes, r3; the bands subplan appears on
    # both sides of the candidate self-join, so up to two); the candidate
    # join itself must be a hash/sort-merge join on (band, bkey), never
    # vector×vector
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line  # the planes crossJoin, build side = 1 row


def test_lss_components_match_propagation_on_chain(spark):
    """Large-star/small-star must equal min-label propagation — including on
    a chain whose diameter exceeds the LSS round count (O(log n) rounds)."""
    from contentextractor_spark.functions.analysis import (
        dedup_components,
        dedup_components_lss,
    )

    rows = [(i, f"b{i} l{i} w{i} b{i+1} l{i+1} w{i+1}") for i in range(10)]
    rows += [(100 + i, f"x{i} y{i} z{i} q{i} r{i} s{i}") for i in range(4)]  # singletons
    chain = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(
        (r.doc_id, r.component)
        for r in dedup_components(chain, min_intersection=1, max_iter=20).collect()
    )
    b = sorted(
        (r.doc_id, r.component)
        for r in dedup_components_lss(chain, min_intersection=1).collect()
    )
    assert a == b
    assert dict(b)[9] == 0  # whole chain collapsed to the min id


def test_ivf_sampled_fit_full_probe_still_exact(spark):
    """Fitting the quantizer on a sample (the 10^12-scale path) must not
    break full-probe exactness — every vector is still assigned and every
    list probed."""
    from contentextractor_spark.functions.analysis import ivf_topk, knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = sorted(
        tuple(r) for r in knn_bruteforce(emb, n_queries=5, k=3).collect()
    )
    sampled = sorted(
        tuple(r)
        for r in ivf_topk(
            emb, n_queries=5, k=3, n_lists=4, nprobe=4, fit_fraction=0.3
        ).collect()
    )
    assert exact == sampled


def test_chunk_documents_edges(spark):
    from contentextractor_spark.functions.analysis import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"w{i}" for i in range(130)))],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk_tokens=64, overlap=8).collect()
    short = [r for r in out if r.doc_id == 1]
    assert len(short) == 1 and short[0].n_chunk_tokens == 3
    long = sorted((r.chunk_idx, r.n_chunk_tokens) for r in out if r.doc_id == 2)
    # starts at 1, 57, 113 → lengths 64, 64, 18; consecutive chunks overlap by 8
    assert long == [(0, 64), (1, 64), (2, 18)]
    rows = {r.chunk_idx: r.chunk_text.split(" ") for r in out if r.doc_id == 2}
    assert rows[0][-8:] == rows[1][:8]

    import pytest as _pt

    with _pt.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_resize_plan_edges(spark):
    from contentextractor_spark.operators.multimodal import resize_plan

    media = spark.createDataFrame(
        [("a", 64, 64), ("b", 1084, 64), ("c", 64, 1084)],
        ["media_id", "width", "height"],
    )
    out = {r.media_id: r for r in resize_plan(media, max_side=256).collect()}
    assert (out["a"].dst_w, out["a"].dst_h, out["a"].scale) == (64, 64, 1.0)  # no upscale
    assert out["b"].dst_w == 256 and 1 <= out["b"].dst_h <= 64
    assert out["c"].dst_h == 256 and 1 <= out["c"].dst_w <= 64


# ---------- LSH skew guards + de-literal hyperplanes (round 3) ----------

def test_embedding_lsh_bucket_cap_bounds_pathological_bucket(spark):
    """All-identical embeddings put EVERY vector in one bucket per band —
    the |b|² worst case.  With max_bucket_size set the candidate volume
    drops to zero and embedding_lsh_overflow loudly reports the dropped
    buckets; with the cap at no-op the pairs are all there."""
    from contentextractor_spark.functions.analysis import (
        embedding_lsh_overflow,
        embedding_neardup_lsh,
    )

    n = 40
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)],
        "vec_id: long, embedding: array<float>",
    )
    uncapped = embedding_neardup_lsh(emb, threshold=0.5, n_bands=2, band_bits=2)
    assert uncapped.count() == n * (n - 1) // 2  # the quadratic blowup

    capped = embedding_neardup_lsh(
        emb, threshold=0.5, n_bands=2, band_bits=2, max_bucket_size=10
    )
    assert capped.count() == 0  # every bucket oversized → excluded

    overflow = embedding_lsh_overflow(
        emb, n_bands=2, band_bits=2, max_bucket_size=10
    ).collect()
    assert len(overflow) == 2  # one degenerate bucket per band
    assert all(r.n_vecs == n for r in overflow)


def test_embedding_lsh_cap_noop_keeps_pairs(spark):
    """Guard at a no-op level returns EXACTLY the unguarded pairs (the
    driver-oracle query runs unguarded; this proves the param is pure
    execution strategy at generous settings)."""
    from contentextractor_spark.functions.analysis import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = embedding_neardup_lsh(emb, threshold=0.35, n_bands=6, band_bits=3)
    capped = embedding_neardup_lsh(
        emb, threshold=0.35, n_bands=6, band_bits=3, max_bucket_size=10**6
    )
    assert base.exceptAll(capped).count() == 0
    assert capped.exceptAll(base).count() == 0


def test_minhash_lsh_bucket_cap_and_overflow(spark):
    """All-identical texts collapse into one bucket per band; the cap
    excludes it from the candidate feed and the overflow query reports it."""
    from contentextractor_spark.functions.analysis import (
        minhash_lsh_buckets,
        minhash_lsh_overflow,
    )

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text everywhere") for i in range(30)],
        "doc_id: long, text: string",
    )
    full = minhash_lsh_buckets(docs, k=4, n=3)
    assert full.count() == 2  # k=4, band size 2 → 2 bands, one bucket each
    assert minhash_lsh_buckets(docs, k=4, n=3, max_bucket_size=10).count() == 0
    overflow = minhash_lsh_overflow(docs, k=4, n=3, max_bucket_size=10).collect()
    assert len(overflow) == 2 and all(r.n_docs == 30 for r in overflow)


def test_hyperplane_plan_size_constant_in_dim(spark):
    """De-literal check (VERDICT r2 #5): at dim 512 × 18 planes the plan
    must NOT embed ~9k float literals — the planes matrix rides in a
    one-row broadcast.  Assert the optimized plan stays small and the
    query actually executes."""
    import numpy as np

    from contentextractor_spark.functions.analysis import embedding_lsh_buckets

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(512)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = embedding_lsh_buckets(emb, n_planes=18)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, f"plan bloat: {len(plan)} chars"
    assert "-1.0" not in plan  # no inline component literals
    assert sum(r.n_vecs for r in out.collect()) == 20


def test_asof_tie_determinism(spark):
    """Two reference events at the SAME (user_id, ts): the carry-forward
    picks the larger event_id — the invariant the DuckDB oracle now
    enforces by pre-deduping refs to max(event_id) per (user_id, ts)."""
    from datetime import datetime

    from contentextractor_spark.functions.events import asof_latest

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    t1 = datetime(2024, 1, 1, 12, 5, 0)
    events = spark.createDataFrame(
        [
            (1, 100, t0, "view"),   # two refs, same user, same ts
            (2, 100, t0, "view"),
            (3, 100, t1, "click"),  # probe strictly after the tie
            (4, 100, t0, "click"),  # probe AT the tie ts
        ],
        "event_id: long, user_id: long, ts: timestamp, event_type: string",
    )
    got = {r.event_id: r.asof_event_id for r in asof_latest(events, "view").collect()}
    assert got[3] == 2  # max event_id among the tied refs
    assert got[4] == 2
    # EVERY event at the tied ts matches the deduped marker (max event_id),
    # including the smaller tied ref itself — this is exactly what the
    # oracle's pre-deduped ASOF join computes (r3 review fix: the previous
    # carry-forward let ref 1 match itself, diverging from the oracle)
    assert got[1] == 2
    assert got[2] == 2


def test_asof_null_safety_matches_oracle_semantics(spark):
    """r3 review: null ref_id must not desync the (id, ts) pair; null-ts
    and null-user refs can never match under the oracle's join predicate
    (e.user = r.user AND e.ts >= r.ts), so they produce no markers."""
    from datetime import datetime

    from contentextractor_spark.functions.events import asof_latest

    t = [datetime(2024, 1, 1, 12, m, 0) for m in range(6)]
    events = spark.createDataFrame(
        [
            # user 1: null-id ref between two real refs — the carry must
            # stay PAIRED: probe at t3 sees (None, t2), not (10, t2)
            (10, 1, t[0], "view"),
            (None, 1, t[2], "view"),
            (30, 1, t[3], "click"),
            (31, 1, t[4], "view"),
            (32, 1, t[5], "click"),
            # user 2: a null-TS ref must never leak into later probes
            (40, 2, None, "view"),
            (41, 2, t[1], "click"),
            # null-user rows: no marker, no match (oracle equality join
            # semantics), rows still present in the output
            (50, None, t[0], "view"),
            (51, None, t[1], "click"),
        ],
        "event_id: long, user_id: long, ts: timestamp, event_type: string",
    )
    rows = {
        r.event_id: (r.asof_event_id, r.asof_ts)
        for r in asof_latest(events, "view").collect()
        if r.event_id is not None
    }
    assert rows[30] == (None, t[2])  # atomic pair from the null-id marker
    assert rows[32] == (31, t[4])    # later real ref takes over
    assert rows[41] == (None, None)  # null-ts ref matches nothing
    assert rows[51] == (None, None)  # null-user probe matches nothing
    assert rows[50] == (None, None)
    assert len(asof_latest(events, "view").collect()) == 9  # row-preserving


def test_stratified_sample_deterministic_and_fractional(spark, docs):
    from contentextractor_spark.functions.analysis import stratified_sample

    fr = {"en": 0.5, "ja": 0.25}
    a = {r.doc_id for r in stratified_sample(docs, fr, default=0.75).collect()}
    b = {
        r.doc_id
        for r in stratified_sample(docs.repartition(7), fr, default=0.75).collect()
    }
    assert a == b  # repartition-invariant (hash-based, not rand())
    n = docs.count()
    assert 0 < len(a) < n
    # per-lang keep-rates hover near their fractions (1/256 quantized)
    en_total = docs.filter("lang = 'en'").count()
    en_kept = len(
        {r.doc_id for r in stratified_sample(docs, fr).filter("lang='en'").collect()}
    )
    if en_total >= 50:
        assert 0.3 < en_kept / en_total < 0.7


def test_stratified_sample_buckets_independent_of_split(spark, docs):
    # the 'sample:' salt decorrelates sampling from train_split_assign —
    # otherwise sampling would systematically favor the train split
    from contentextractor_spark.functions.analysis import (
        stratified_sample,
        train_split_assign,
    )

    sample_b = {
        r.doc_id: r.sample_bucket
        for r in stratified_sample(docs, {}, default=1.0).collect()
    }
    split_b = {
        r.doc_id: r.split_bucket for r in train_split_assign(docs).collect()
    }
    diff = sum(1 for d in sample_b if sample_b[d] != split_b[d])
    assert diff > len(sample_b) * 0.9


def test_domain_stats_strips_noise_and_aggregates(spark):
    from contentextractor_spark.functions.analysis import domain_stats

    rows = [
        (1, 100, "en", "https://User@Host1.Example.COM:8443/a"),
        (2, 50, "ja", "http://host1.example.com/b"),
        (3, 10, "en", "https://other.net/c"),
        (4, 5, "en", "no-scheme-url"),  # dropped: no authority
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, n_chars int, lang string, url string"
    )
    got = {r.host: (r.n_docs, r.sum_chars, r.n_langs) for r in domain_stats(df).collect()}
    assert got == {
        "host1.example.com": (2, 150, 2),
        "other.net": (1, 10, 1),
    }


# ---------- round-3 pipeline ops: repetition / PII / chunk-dedup / split ----

def test_repetition_signals_values(spark):
    from contentextractor_spark.functions.analysis import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # one unigram dominates
            (2, "a b a b a b"),                  # bigram "a b" ×3
            (3, "x"),                            # single token, no bi/tri
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in repetition_signals(docs).collect()}
    assert got[1].max_unigram_count == 4
    assert got[1].max_bigram_count == 3          # "spam spam" ×3
    assert got[1].n_distinct_tokens == 1
    assert got[2].max_bigram_count == 3          # "a b" at offsets 0,2,4
    assert got[2].max_trigram_count == 2         # "a b a" ×2
    assert got[3].n_tokens == 1
    assert got[3].max_bigram_count == 0 and got[3].max_trigram_count == 0


def test_pii_scrub_patterns(spark):
    from contentextractor_spark.functions.analysis import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c_d@sub.example.org now"),
            (2, "call +81-3-1234-5678 today"),
            (3, "host 192.168.0.1 and 8.8.8.8"),
            (4, "clean text with no pii at all"),
            (5, "edge 1.2.3.4.5 trailing"),  # 5 octets: quad + stray .5
            # precision-first: a space-separated digit LIST must survive
            # (the r2 draft's space-in-class pattern merged it into one
            # <PHONE>); the price is that space-separated phones are a
            # documented recall miss
            (6, "scores were 10 20 30 40 points"),
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].clean_text == "mail <EMAIL> now" and got[1].n_emails == 1
    assert got[2].clean_text == "call <PHONE> today" and got[2].n_phones == 1
    assert got[3].clean_text == "host <IP> and <IP>" and got[3].n_ips == 2
    assert got[4].clean_text == docs.collect()[3].text
    assert got[4].n_emails == got[4].n_ips == got[4].n_phones == 0
    assert got[5].clean_text.startswith("edge <IP>")
    assert got[6].clean_text == "scores were 10 20 30 40 points"
    assert got[6].n_phones == 0


def test_pii_spaced_phone_patterns(spark):
    """r3 verdict #6: zero-anchored spaced phones are now redacted; the r2
    digit-list trap stays green (no token starts with 0 there), and a
    non-zero-led spaced number remains the documented recall miss."""
    from contentextractor_spark.functions.analysis import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "tel 090 1234 5678 now"),            # JP mobile, spaced
            (2, "nums 0 3 1 2 3 4 5 6 7 8 done"),    # fully spaced digits
            (3, "fr 06 12 34 56 78 ok"),             # FR pair groups
            (4, "scores were 10 20 30 40 points"),   # the precision trap
            (5, "list 90 1234 5678 stays"),          # recall miss: no 0/+
            (6, "call +81-3-1234-5678 or 090 1234 5678"),  # both kinds
            (7, "version 0 1 2 released"),           # short: below 8 digits
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].clean_text == "tel <PHONE> now" and got[1].n_phones == 1
    assert got[2].clean_text == "nums <PHONE> done" and got[2].n_phones == 1
    assert got[3].clean_text == "fr <PHONE> ok" and got[3].n_phones == 1
    assert got[4].clean_text == docs.collect()[3].text and got[4].n_phones == 0
    assert got[5].clean_text == docs.collect()[4].text and got[5].n_phones == 0
    assert got[6].clean_text == "call <PHONE> or <PHONE>" and got[6].n_phones == 2
    assert got[7].clean_text == docs.collect()[6].text and got[7].n_phones == 0


def test_substring_dedup_spans_planted(spark):
    """Fifth dedup family (r3 verdict #10): an 8-token substring shared by
    two docs at different offsets, plus a within-doc 5-token repeat, must
    surface as exact maximal runs; the unique doc stays span-free."""
    from contentextractor_spark.functions.analysis import (
        substring_dedup_spans,
        substring_scrub,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 a3 " + shared + " a4 a5"),
            (2, "b1 " + shared + " b2 b3 b4 b5 b6"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
            (4, "rep1 rep2 rep3 rep4 rep5 x y rep1 rep2 rep3 rep4 rep5"),
        ],
        "doc_id: long, text: string",
    )
    spans = {
        (r.doc_id, r.run_start): (r.n_grams, r.span_tokens)
        for r in substring_dedup_spans(docs, k=4, min_grams=2).collect()
    }
    # 8 shared tokens → 5 consecutive shared 4-gram positions
    assert spans == {
        (1, 3): (5, 8),
        (2, 1): (5, 8),
        (4, 0): (2, 5),
        (4, 7): (2, 5),
    }
    scrub = {r.doc_id: r for r in substring_scrub(docs, k=4, min_grams=2).collect()}
    assert scrub[1].clean_text == "a1 a2 a3 a4 a5"
    assert scrub[1].n_removed_tokens == 8
    assert scrub[2].clean_text == "b1 b2 b3 b4 b5 b6"
    assert scrub[3].n_removed_tokens == 0 and scrub[3].clean_text.startswith("c1")
    # ALL occurrences of the within-doc repeat go (documented policy)
    assert scrub[4].clean_text == "x y" and scrub[4].n_removed_tokens == 10


def test_chunk_hash_dedup_marks_cross_doc_spans(spark):
    from contentextractor_spark.functions.analysis import chunk_hash_dedup

    shared = " ".join(f"w{i}" for i in range(32))
    uniq_a = " ".join(f"a{i}" for i in range(32))
    uniq_b = " ".join(f"b{i}" for i in range(32))
    docs = spark.createDataFrame(
        [(1, shared + " " + uniq_a), (2, shared + " " + uniq_b)],
        "doc_id: long, text: string",
    )
    got = {(r.doc_id, r.chunk_idx): r.is_dup_chunk
           for r in chunk_hash_dedup(docs, chunk_tokens=32, overlap=0).collect()}
    assert got[(1, 0)] == 1 and got[(2, 0)] == 1  # the shared 32-token span
    assert got[(1, 1)] == 0 and got[(2, 1)] == 0  # the unique remainders


def test_train_split_deterministic_and_proportional(spark):
    from contentextractor_spark.functions.analysis import train_split_assign

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in train_split_assign(docs).collect()}
    b = {r.doc_id: r.split for r in
         train_split_assign(docs.repartition(7)).collect()}
    assert a == b  # content-hash split: repartition-invariant
    from collections import Counter

    c = Counter(a.values())
    assert 0.70 < c["train"] / 2000 < 0.88
    assert 0.05 < c["val"] / 2000 < 0.16
    assert 0.05 < c["test"] / 2000 < 0.16

    import pytest as _pt

    with _pt.raises(ValueError):
        train_split_assign(docs, val_pct=60, test_pct=50)


def test_pii_scrub_plan_no_shuffle_and_idempotent(spark, docs):
    from pyspark.sql import functions as F

    from contentextractor_spark.functions.analysis import pii_scrub

    out = pii_scrub(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow projection, embarrassingly parallel
    # idempotence: scrubbing already-scrubbed text changes nothing
    again = pii_scrub(
        out.select("doc_id", F.col("clean_text").alias("text"))
    )
    diff = (
        out.select("doc_id", "clean_text")
        .exceptAll(again.select("doc_id", "clean_text"))
        .count()
    )
    assert diff == 0


def test_train_split_plan_no_shuffle(spark, docs):
    from contentextractor_spark.functions.analysis import train_split_assign

    plan = (
        train_split_assign(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_chunk_hash_dedup_single_shuffle(spark, docs):
    from contentextractor_spark.functions.analysis import chunk_hash_dedup

    plan = (
        chunk_hash_dedup(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one Exchange for the per-hash count, one to co-locate the join side —
    # never more (no windows, no sorts beyond the join)
    assert plan.count("Exchange") <= 3, plan


def test_repetition_signal_invariants(spark, docs):
    from contentextractor_spark.functions.analysis import repetition_signals

    rows = repetition_signals(docs.limit(50)).collect()
    assert len(rows) == 50
    for r in rows:
        assert 1 <= r.max_unigram_count <= r.n_tokens
        assert r.max_bigram_count <= max(0, r.n_tokens - 1)
        assert r.max_trigram_count <= r.max_bigram_count or r.n_tokens < 3


def test_pack_sequences_streaming_invariants(spark, docs):
    from contentextractor_spark.functions.analysis import pack_sequences

    out = pack_sequences(docs, capacity=256, n_groups=8).collect()
    assert len(out) == docs.count()  # every doc assigned exactly once
    by_group = {}
    for r in out:
        by_group.setdefault(r.pack_group, []).append(r)
    for g, rows in by_group.items():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.bin_id == cum // 256  # the streaming-pack definition
            cum += r.n_tokens
        # bins are contiguous from 0
        bins = sorted({r.bin_id for r in rows})
        assert bins == list(range(len(bins)))


def test_winnowing_shared_substring_guarantee(spark):
    """Schleimer et al. guarantee: a shared word run of length >= w+k-1
    (here 4+3-1=6) always yields at least one shared fingerprint HASH."""
    from contentextractor_spark.functions.analysis import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words
    docs = spark.createDataFrame(
        [
            (1, "one two " + shared + " seven eight"),
            (2, "x1 y2 z3 " + shared),
            (3, "completely different words with no overlap at all here"),
        ],
        "doc_id: long, text: string",
    )
    fps = winnowing_fingerprints(docs, k=3, w=4).collect()
    sets = {}
    for r in fps:
        sets.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert sets[1] & sets[2], "shared 6-word run must share a fingerprint"
    assert not (sets[1] & sets[3])
    # positions are within each doc's k-gram range
    for r in fps:
        assert r.fp_pos >= 0


def test_winnowing_short_doc_empty(spark):
    from contentextractor_spark.functions.analysis import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "just five little words here"), (2, "a b")],
        "doc_id: long, text: string",
    )
    # doc 1: 5 words -> 3 k-grams -> no complete w=4 window; doc 2: no grams
    assert winnowing_fingerprints(docs, k=3, w=4).count() == 0


def test_gram_stream_differential_vs_python(spark):
    """_gram_stream (arrays_zip form) must equal naive Python n-grams for
    any token list — including empty tokens from repeated spaces and docs
    shorter than n (hypothesis over a small alphabet)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from contentextractor_spark.functions.analysis import _gram_stream

    texts_strategy = st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=6
    )

    @settings(max_examples=25, deadline=None)
    @given(texts_strategy)
    def check(texts):
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
        )
        for n in (1, 2, 3):
            got = sorted(
                (r.doc_id, r.pos, r.g)
                for r in _gram_stream(docs, n, with_pos=True).collect()
            )
            expected = []
            for i, t in enumerate(texts):
                ws = t.split(" ")
                for p in range(len(ws) - n + 1):
                    expected.append((i, p, " ".join(ws[p : p + n])))
            assert got == sorted(expected), (n, texts)

    check()


def test_decontaminate_flags_planted_leak(spark):
    """A corpus doc that embeds a benchmark item's 6-word span must be
    flagged with overlap >= 4 (6 words -> 4 shared 3-grams); disjoint docs
    must not appear."""
    from contentextractor_spark.functions.analysis import decontaminate

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    leak_span = "quick brown fox jumps over the"  # 6 words from the bench
    docs = spark.createDataFrame(
        [
            (100, "intro words " + leak_span + " closing remarks here"),
            (101, "totally unrelated text about spark query planning"),
        ],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame(
        [(1, bench_text)], "doc_id: long, text: string"
    )
    got = {(r.doc_id, r.bench_id): r.overlap
           for r in decontaminate(docs, bench, n=3, min_overlap=2).collect()}
    assert got == {(100, 1): 4}


def test_decontaminate_plan_broadcasts_bench(spark, docs):
    from contentextractor_spark.functions.analysis import decontaminate

    bench = docs.limit(5)
    plan = (
        decontaminate(docs, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # corpus shingles never shuffle for the join


def test_canonicalize_urls_edges(spark):
    from contentextractor_spark.functions.analysis import canonicalize_urls

    urls = [
        (1, "HTTP://WWW.Site.ORG:80/a/B?x=1&utm_source=s&y=2#frag"),
        (2, "https://host.com:443"),               # default port, empty path
        (3, "https://host.com:8443/x"),            # NON-default port kept
        (4, "http://h.io/?utm_a=1&utm_b=2"),       # only-utm query
        (5, "https://h.io/p?utm_x=1&keep=2"),      # utm first, keep second
        (6, "https://CaSe.Com/KeepCase?Q=Mixed"),  # path/query case kept
        (7, "https://h.io/p?xutm_a=1"),            # utm_ MID-NAME must survive
        (8, "https://h.io/p?utm_a=1&utm_b=2&x=2"), # consecutive utm params
    ]
    df = spark.createDataFrame(urls, "doc_id: long, url: string")
    got = {r.doc_id: r.canonical_url
           for r in canonicalize_urls(df).collect()}
    assert got[1] == "http://www.site.org/a/B?x=1&y=2"
    assert got[2] == "https://host.com/"
    assert got[3] == "https://host.com:8443/x"
    assert got[4] == "http://h.io/"
    assert got[5] == "https://h.io/p?keep=2"
    assert got[6] == "https://case.com/KeepCase?Q=Mixed"
    assert got[7] == "https://h.io/p?xutm_a=1"
    assert got[8] == "https://h.io/p?x=2"


def test_mixture_weights_properties(spark):
    from contentextractor_spark.functions.analysis import mixture_weights

    # crafted SKEWED counts (the up-sampling property is vacuous — equality
    # — on uniform counts, so don't depend on the shared fixture's shape)
    docs = spark.createDataFrame(
        [(i, "en" if i < 900 else ("fr" if i < 990 else "km"))
         for i in range(1000)],
        "doc_id: long, lang: string",
    )
    rows = mixture_weights(docs).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    # sqrt mixing: low-resource langs get MORE than proportional weight
    total = sum(r.n_docs for r in rows)
    smallest = min(rows, key=lambda r: r.n_docs)
    assert smallest.lang == "km" and smallest.n_docs == 10
    assert smallest.weight > smallest.n_docs / total


def test_dedup_components_minhash_star_connectivity(spark):
    """Star edges must give the same components as the bucket clique:
    three identical docs share every band bucket -> one component labeled
    by the min id; an unrelated doc stays its own component."""
    from contentextractor_spark.functions.analysis import (
        dedup_components_minhash,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(7, same), (3, same), (9, same),
         (5, "completely different words that share no shingles at all ok")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r.component
           for r in dedup_components_minhash(docs, k=4, n=3).collect()}
    assert got == {3: 3, 7: 3, 9: 3, 5: 5}


def test_dedup_components_minhash_bucket_cap(spark):
    """With the cap below the degenerate bucket size, the cluster is NOT
    merged (guard active) — mirroring the pair producer's skew guard."""
    from contentextractor_spark.functions.analysis import (
        dedup_components_minhash,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, same) for i in range(12)], "doc_id: long, text: string"
    )
    capped = {r.doc_id: r.component
              for r in dedup_components_minhash(
                  docs, k=4, n=3, max_bucket_size=5).collect()}
    assert all(capped[i] == i for i in range(12))  # all dropped -> singletons


def test_canonicalize_urls_passthrough_and_userinfo(spark):
    """r3 review: schemeless inputs must pass through unchanged (NOT merge
    under ':///'); userinfo keeps its case; bare utm tokens are stripped."""
    from contentextractor_spark.functions.analysis import canonicalize_urls

    urls = [
        (1, "www.example.com/a"),                  # schemeless
        (2, "//cdn.host/b"),                       # protocol-relative
        (3, "https://Alice@H.io/x"),               # userinfo case kept
        (4, "https://h.io/p?utm_source&x=1"),      # valueless utm token
    ]
    df = spark.createDataFrame(urls, "doc_id: long, url: string")
    got = {r.doc_id: r.canonical_url for r in canonicalize_urls(df).collect()}
    assert got[1] == "www.example.com/a"
    assert got[2] == "//cdn.host/b"
    assert got[3] == "https://Alice@h.io/x"
    assert got[4] == "https://h.io/p?x=1"


def test_pii_scrub_identity_on_clean_text_property(spark):
    """Property: on text with no digits/@ (no PII can exist), pii_scrub is
    the identity — it must never corrupt clean content (hypothesis)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from contentextractor_spark.functions.analysis import pii_scrub

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.text(alphabet="abc .-()", min_size=0, max_size=40),
                    min_size=1, max_size=5))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
        )
        rows = pii_scrub(df).collect()
        for r in rows:
            assert r.clean_text == texts[r.doc_id]
            assert r.n_emails == r.n_ips == r.n_phones == 0

    check()


def test_canonicalize_urls_idempotent(spark):
    """Property: canonicalization is idempotent — applying it to its own
    output changes nothing (a second pass has nothing left to strip)."""
    from pyspark.sql import functions as F

    from contentextractor_spark.functions.analysis import canonicalize_urls

    urls = [
        (1, "HTTP://WWW.Site.ORG:80/a/B?x=1&utm_source=s&y=2#frag"),
        (2, "https://host.com:443"),
        (3, "https://Alice@H.io/x?utm_a&k=2"),
        (4, "www.example.com/a"),
        (5, "https://h.io/p?utm_a=1&utm_b=2&x=2"),
    ]
    df = spark.createDataFrame(urls, "doc_id: long, url: string")
    once = canonicalize_urls(df).select(
        "doc_id", F.col("canonical_url").alias("url")
    )
    twice = canonicalize_urls(once)
    mismatched = twice.filter(F.col("url") != F.col("canonical_url")).count()
    assert mismatched == 0


def test_pii_phone_ranges_not_redacted(spark):
    """r3 full-file review: a single hyphenated pair (year range) is not a
    phone; contiguous long digit runs and multi-group numbers are."""
    from contentextractor_spark.functions.analysis import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "budget for 2010-2020 grew fast"),
            (2, "call 5551234567 now"),
            (3, "fax (03)1234-5678 listed"),
            (4, "code 12-34 short"),
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].clean_text == "budget for 2010-2020 grew fast"
    assert got[1].n_phones == 0
    assert got[2].clean_text == "call <PHONE> now" and got[2].n_phones == 1
    assert got[3].clean_text == "fax <PHONE> listed" and got[3].n_phones == 1
    assert got[4].clean_text == "code 12-34 short" and got[4].n_phones == 0


def test_canonicalize_urls_ampersand_in_path(spark):
    """'&' is legal inside a PATH — 'utm_' after a path ampersand must
    survive; only query params are stripped (r3 full-file review)."""
    from contentextractor_spark.functions.analysis import canonicalize_urls

    df = spark.createDataFrame(
        [(1, "https://h.io/a&utm_ref=1/b?q=1"),
         (2, "https://h.io/a&utm_ref=1/b?utm_x=2&q=1")],
        "doc_id: long, url: string",
    )
    got = {r.doc_id: r.canonical_url for r in canonicalize_urls(df).collect()}
    assert got[1] == "https://h.io/a&utm_ref=1/b?q=1"
    assert got[2] == "https://h.io/a&utm_ref=1/b?q=1"


def test_chunk_documents_no_contained_tail(spark):
    """A final chunk whose tokens all lie inside the previous chunk must
    NOT be emitted (it would enter training twice) — 120 tokens with
    chunk=64/overlap=8 previously produced a third chunk of 8 tokens
    fully contained in chunk 1 (r3 full-file review)."""
    from contentextractor_spark.functions.analysis import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(120)))], "doc_id: long, text: string"
    )
    rows = sorted(
        (r.chunk_idx, r.n_chunk_tokens)
        for r in chunk_documents(docs, chunk_tokens=64, overlap=8).collect()
    )
    assert rows == [(0, 64), (1, 64)]  # starts 1, 57; NO contained third chunk


def test_jaccard_consistent_universe_on_boilerplate(spark):
    """Identical docs whose shingles are partly stop-shingles must imply
    jaccard 1.0 — sizes and intersections live in the same stop-filtered
    universe (r3 full-file review: mixed universes scored 0.43)."""
    from contentextractor_spark.functions.analysis import jaccard_pairs

    boiler = "common boiler plate words here"     # shared by ALL docs → stop
    uniq = "alpha beta gamma delta epsilon zeta"  # shared by just the pair
    docs = spark.createDataFrame(
        [(i, boiler + f" filler{i} pad{i}") for i in range(3, 20)]
        + [(1, uniq + " " + boiler), (2, uniq + " " + boiler)],
        "doc_id: long, text: string",
    )
    pairs = {(r.doc_a, r.doc_b): (r.intersection, r.union_sz)
             for r in jaccard_pairs(docs, n=3, min_intersection=2,
                                    max_shingle_freq=10).collect()}
    inter, union = pairs[(1, 2)]
    assert inter == union  # identical rare-shingle sets → jaccard exactly 1


def test_containment_pairs_catches_doc_in_doc(spark):
    """A short doc embedded verbatim in a much longer one: containment
    of the short side is 1.0 (flagged at t=0.7) while Jaccard is far
    below 0.7 (jaccard_pairs at the same threshold arithmetic would
    miss it); boundary is >= (a pair exactly AT num/den survives)."""
    from contentextractor_spark.functions.analysis import (
        containment_pairs,
        jaccard_pairs,
    )

    short = " ".join(f"s{i}" for i in range(10))       # 8 shingles
    filler = " ".join(f"f{i}" for i in range(40))      # unique filler
    docs = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)],
        "doc_id bigint, text string",
    )
    got = {(r["doc_a"], r["doc_b"]): (r["intersection"], r["sz_a"], r["sz_b"])
           for r in containment_pairs(docs, threshold=(7, 10)).collect()}
    assert (1, 2) in got
    inter, sz_a, sz_b = got[(1, 2)]
    assert inter == sz_a == 8          # every short-doc shingle contained
    assert sz_b == 8 + 38 + 2          # filler shingles + 2 junction shingles
    # Jaccard for the same pair is 8/48 = 0.167 — under any useful threshold
    j = {(r["doc_a"], r["doc_b"]): (r["intersection"], r["union_sz"])
         for r in jaccard_pairs(docs).collect()}
    ji, ju = j[(1, 2)]
    assert 10 * ji < 7 * ju
    # boundary: containment exactly 7/10 must SURVIVE (>=, not >) —
    # 7 of A's 10 shingles appear in B
    a_words = [f"a{i}" for i in range(12)]             # 10 shingles
    b_text = " ".join(a_words[:9]) + " " + " ".join(f"z{i}" for i in range(30))
    docs2 = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, b_text)], "doc_id bigint, text string"
    )
    got2 = {(r["doc_a"], r["doc_b"]): r["intersection"]
            for r in containment_pairs(docs2, threshold=(7, 10)).collect()}
    assert got2 == {(1, 2): 7}
    # one word fewer shared -> 6/10 < 7/10 -> dropped
    b_text3 = " ".join(a_words[:8]) + " " + " ".join(f"z{i}" for i in range(30))
    docs3 = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, b_text3)], "doc_id bigint, text string"
    )
    assert containment_pairs(docs3, threshold=(7, 10)).count() == 0
