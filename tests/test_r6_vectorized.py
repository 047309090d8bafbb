"""r6 optimization differentials: the vectorized (broadcast-matrix /
numpy-trainer) fast paths must be BIT-IDENTICAL to the r5 formulations
they replaced.

Three families:
 - float cosine block/gather einsum vs the per-pair stack einsum
   (_pair_cos_numpy): row-wise np.einsum reductions are independent of
   batch composition — pinned here on adversarial random data;
 - integer-Lloyd numpy trainer vs the distributed Spark loop (PQ and
   kmeans): forced by shrinking PQ_TRAIN_MAX_ROWS to 0;
 - mutual_nn_pairs vs an independent brute-force replica.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from contentextractor_spark.functions import analysis as A

RNG = np.random.RandomState(7)


# ---------------------------------------------------- einsum equivalence
def test_block_einsum_matches_stack_einsum():
    """The truth-side block path (contiguous slice + repeated row) must
    reproduce the per-pair np.stack einsum bit for bit."""
    n, d = 97, 64
    mat = RNG.uniform(-1, 1, (n, d)).astype(np.float64)
    # per-pair stack path (the r5 _pair_cos arrangement)
    pairs = [(i, j) for i in range(n) for j in range(i + 1, n)]
    a = np.stack([mat[i] for i, _ in pairs])
    b = np.stack([mat[j] for _, j in pairs])
    dots_ref = np.einsum("ij,ij->i", a, b)
    den_ref = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
        np.einsum("ij,ij->i", b, b)
    )
    cos_ref = dots_ref / den_ref
    # block path (the r6 arrangement in embedding_lsh_eval)
    nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    got = []
    for i in range(n - 1):
        blk = np.ascontiguousarray(mat[i + 1 :])
        arow = np.repeat(mat[i][None, :], len(blk), axis=0)
        dots = np.einsum("ij,ij->i", arow, blk)
        got.append(dots / (nrm[i] * nrm[i + 1 :]))
    cos_got = np.concatenate(got)
    assert cos_got.shape == cos_ref.shape
    assert np.array_equal(cos_got, cos_ref)  # exact, not allclose


def test_gather_einsum_matches_stack_einsum():
    """The candidate-rescore gather path (fancy-indexed rows) must match
    the stack path bit for bit, zero-norm NaN included."""
    n, d = 50, 64
    mat = RNG.uniform(-1, 1, (n, d)).astype(np.float64)
    mat[17] = 0.0  # zero-norm → NaN cosine on both paths
    idx_a = RNG.randint(0, n, 400)
    idx_b = RNG.randint(0, n, 400)
    a = np.stack([mat[i] for i in idx_a])
    b = np.stack([mat[j] for j in idx_b])
    with np.errstate(divide="ignore", invalid="ignore"):
        ref = np.einsum("ij,ij->i", a, b) / (
            np.sqrt(np.einsum("ij,ij->i", a, a))
            * np.sqrt(np.einsum("ij,ij->i", b, b))
        )
    ga = mat[idx_a]
    gb = mat[idx_b]
    with np.errstate(divide="ignore", invalid="ignore"):
        got = np.einsum("ij,ij->i", ga, gb) / (
            np.sqrt(np.einsum("ij,ij->i", ga, ga))
            * np.sqrt(np.einsum("ij,ij->i", gb, gb))
        )
    both_nan = np.isnan(ref) & np.isnan(got)
    assert np.array_equal(got[~both_nan], ref[~both_nan])
    assert np.array_equal(np.isnan(ref), np.isnan(got))


# ------------------------------------------------- trainer numpy == spark
def _rand_emb(spark, n=60, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    M = rng.uniform(-1, 1, (n, dim))
    rows = [(i, [float(x) for x in M[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_pq_codebook_numpy_matches_spark_loop(spark, monkeypatch):
    df = _rand_emb(spark)
    fast = {
        (r["sub"], r["cid"]): list(r["cen"])
        for r in A.pq_train_codebook(df, m=4, n_centroids=8, iters=2).collect()
    }
    monkeypatch.setattr(A, "PQ_TRAIN_MAX_ROWS", 0)  # force distributed loop
    slow = {
        (r["sub"], r["cid"]): list(r["cen"])
        for r in A.pq_train_codebook(df, m=4, n_centroids=8, iters=2).collect()
    }
    assert fast == slow


def test_kmeans_numpy_matches_spark_loop(spark, monkeypatch):
    df = _rand_emb(spark, n=50, dim=8, seed=11)
    fast = {
        r["vec_id"]: r["cluster"]
        for r in A.kmeans_clusters(df, k=5, iters=2).collect()
    }
    monkeypatch.setattr(A, "PQ_TRAIN_MAX_ROWS", 0)
    slow = {
        r["vec_id"]: r["cluster"]
        for r in A.kmeans_clusters(df, k=5, iters=2).collect()
    }
    assert fast == slow


# ----------------------------------------------- mutual_nn vs brute force
def test_mutual_nn_matches_bruteforce_replica(spark):
    """Independent integer replica of the r5 formula (exploded int dots,
    isqrt norms, sign-peeled truncated div, (cos DESC, id ASC) top-1,
    mutuality) — the r6 GEMM path must reproduce it exactly."""
    df = _rand_emb(spark, n=40, dim=12, seed=23)
    got = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_milli"]
        for r in A.mutual_nn_pairs(df).collect()
    }
    qrows = sorted(
        A.quantize_embeddings(df).select("vec_id", "qvec").collect(),
        key=lambda r: r["vec_id"],
    )
    ids, vecs, nrms = [], [], []
    for r in qrows:
        s = sum(x * x for x in r["qvec"])
        if s > 0:
            ids.append(r["vec_id"])
            vecs.append(r["qvec"])
            nrms.append(math.isqrt(s))
    top1 = {}
    for i, a in enumerate(ids):
        best = None
        for j, b in enumerate(ids):
            if i == j:
                continue
            dot = sum(x * y for x, y in zip(vecs[i], vecs[j]))
            den = max(nrms[i] * nrms[j], 1)
            cm = (1 if dot >= 0 else -1) * (abs(dot) * 1000 // den)
            if best is None or cm > best[0] or (cm == best[0] and b < best[1]):
                best = (cm, b)
        top1[a] = best
    expected = {}
    for a in ids:
        cm, b = top1[a]
        if a < b and top1[b][1] == a:
            expected[(a, b)] = cm
    assert got == expected


# ------------------------------------------------ bpe python == spark
def test_bpe_train_python_matches_spark_loop(spark, monkeypatch):
    """The collected single-node BPE trainer must reproduce the
    distributed loop exactly: merge table (incl. tie-breaks) and final
    merged vocab."""
    rows = [
        (i, t)
        for i, t in enumerate(
            ["aa ab aa low lower lowest", "low low ab aa", "newer newest aa"]
            * 3
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast_steps = [r.asDict() for r in A.bpe_merges(df, n_merges=5).collect()]
    fast_counts = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in A.bpe_token_counts(df, n_merges=5).collect()
    }
    monkeypatch.setattr(A, "BPE_TRAIN_MAX_VOCAB", 0)  # force distributed
    slow_steps = [r.asDict() for r in A.bpe_merges(df, n_merges=5).collect()]
    slow_counts = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in A.bpe_token_counts(df, n_merges=5).collect()
    }
    assert fast_steps == slow_steps
    assert fast_counts == slow_counts


# -------------------------------------------- quantized_knn integer dots
def test_quantized_knn_matches_python_fold(spark):
    """The einsum integer dot is order-free exact — spot-check the full
    quantized_knn output against a per-pair Python integer fold."""
    df = _rand_emb(spark, n=30, dim=10, seed=5)
    out = A.quantized_knn(df, n_queries=3, k=4).collect()
    q = {
        r["vec_id"]: r["qvec"]
        for r in A.quantize_embeddings(df).collect()
    }
    nrm = {v: math.sqrt(sum(x * x for x in qv)) for v, qv in q.items()}
    for r in out:
        qa, qb = q[r["query_id"]], q[r["neighbor_id"]]
        dot = sum(x * y for x, y in zip(qa, qb))
        cos = dot / (nrm[r["query_id"]] * nrm[r["neighbor_id"]])
        assert r["cos_q"] == pytest.approx(round(cos, 4), abs=1e-9)


# ------------------------------------------ LSS driver union-find parity
def test_lss_driver_unionfind_matches_star_loop(spark, monkeypatch):
    """The r6 driver union-find fast path in _lss_components must produce
    the IDENTICAL label set as the distributed star loop (forced by
    shrinking GRAPH_DRIVER_MAX_EDGES to 0) — chain (diameter >> rounds),
    forest and isolated-node cases in one fixture."""
    docs = spark.createDataFrame(
        [(i,) for i in range(40)], ["doc_id"]
    )
    # chain 0-..-14, triangle 20-21-22 (via canonical hi>lo edges),
    # star 30<-{31,32,33}, isolated 34..39
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(14)]
        + [(21, 20), (22, 21), (22, 20)]
        + [(31, 30), (32, 30), (33, 30)],
        ["hi", "lo"],
    ).localCheckpoint()
    fast = {
        (r["doc_id"], r["component"])
        for r in A._lss_components(docs, edges, 25, "t").collect()
    }
    monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["doc_id"], r["component"])
        for r in A._lss_components(docs, edges, 25, "t").collect()
    }
    assert fast == slow
    assert dict(fast)[14] == 0 and dict(fast)[22] == 20
    assert dict(fast)[39] == 39


# ------------------------------------------------- kcore driver parity
def test_kcore_driver_matches_distributed_loop(spark, monkeypatch):
    """The numpy peel must equal the distributed loop (forced via
    GRAPH_DRIVER_MAX_EDGES=0) — clique survives, tree peels, the
    partial-peel (rounds < depth) case included."""
    rows = []
    # K5 clique on 100..104
    for i in range(100, 105):
        for j in range(i + 1, 105):
            rows.append((i, j))
    # binary tree on 0..30 (peels at k=2)
    for i in range(1, 31):
        rows.append(((i - 1) // 2, i))
    edges = spark.createDataFrame(rows, ["src", "dst"])
    for k, rounds in [(2, 9), (2, 2), (4, 9)]:
        fast = {
            (r["node"], r["core_deg"])
            for r in A.kcore(edges, k=k, rounds=rounds).collect()
        }
        monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
        slow = {
            (r["node"], r["core_deg"])
            for r in A.kcore(edges, k=k, rounds=rounds).collect()
        }
        monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 1_000_000)
        assert fast == slow, (k, rounds)


# --------------------------------------------------- LPA driver parity
def test_lpa_driver_matches_distributed_loop(spark, monkeypatch):
    """numpy LPA (lexsort argmax) vs the distributed packed-max loop on
    the chord-community fixture shape + a bridge + an oscillating P2."""
    rows = []
    # two 6-node chord communities (+1/+2) with one bridge
    for base in (0, 100):
        for i in range(6):
            rows.append((base + i, base + (i + 1) % 6))
            rows.append((base + i, base + (i + 2) % 6))
    rows.append((5, 100))   # bridge
    rows.append((200, 201))  # isolated pair (oscillates under sync LPA)
    edges = spark.createDataFrame(rows, ["src", "dst"])
    for rounds in (1, 3, 4):
        fast = {
            (r["node"], r["label"])
            for r in A.label_propagation(edges, rounds=rounds).collect()
        }
        monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
        slow = {
            (r["node"], r["label"])
            for r in A.label_propagation(edges, rounds=rounds).collect()
        }
        monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 1_000_000)
        assert fast == slow, rounds


# ----------------------------------- seed-BFS / betweenness driver parity
def _bw_fixture(spark):
    rows = []
    # directed chain 0->1->..->6, diamond 10->{11,12}->13->14, multi-edge
    rows += [(i, i + 1) for i in range(6)]
    rows += [(10, 11), (10, 12), (11, 13), (12, 13), (13, 14), (10, 11)]
    rows += [(20, 21), (21, 20)]  # 2-cycle
    edges = spark.createDataFrame(rows, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (10,), (20,)], ["node"])
    return edges, seeds


def test_seed_bfs_driver_matches_loop(spark, monkeypatch):
    edges, seeds = _bw_fixture(spark)
    fast = {
        (r["seed"], r["node"], r["dist"])
        for r in A._seed_bfs(edges, seeds, 4).collect()
    }
    monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["seed"], r["node"], r["dist"])
        for r in A._seed_bfs(edges, seeds, 4).collect()
    }
    assert fast == slow and (0, 4, 4) in fast


def test_betweenness_driver_matches_loop(spark, monkeypatch):
    """Multi-edge diamond: sigma(13 from 10) = 3 (11-via-double-edge + 12),
    per-term truncated-div deltas must match the distributed loop."""
    edges, seeds = _bw_fixture(spark)
    fast = {
        (r["node"], r["bc_micro"], r["n_seeds"])
        for r in A.betweenness_approx(edges, seeds, max_depth=4).collect()
    }
    monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["node"], r["bc_micro"], r["n_seeds"])
        for r in A.betweenness_approx(edges, seeds, max_depth=4).collect()
    }
    assert fast == slow


# --------------------------------------------- random-walk driver parity
def test_random_walks_driver_matches_loop(spark, monkeypatch):
    rows = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 0), (5, 6)]  # 6 is a sink
    edges = spark.createDataFrame(rows, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (5,), (9,)], ["node"])
    fast = {
        (r["walk_id"], r["step"], r["node"])
        for r in A.random_walks(edges, seeds, walk_len=4).collect()
    }
    monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["walk_id"], r["step"], r["node"])
        for r in A.random_walks(edges, seeds, walk_len=4).collect()
    }
    assert fast == slow
    assert (9, 0, 9) in fast and not any(w == 5 and s > 1 for w, s, _ in fast)


# ----------------------------------------------- pagerank driver parity
def test_pagerank_driver_matches_loop(spark, monkeypatch):
    rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (0, 1), (5, 0)]
    edges = spark.createDataFrame(rows, ["src", "dst"])  # 4 is a sink
    seeds = spark.createDataFrame([(0,), (3,)], ["node"])
    for redis in (False, True):
        fast = {
            (r["node"], r["rank_micro"])
            for r in A.pagerank(edges, iters=3, redistribute_dangling=redis).collect()
        }
        monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
        slow = {
            (r["node"], r["rank_micro"])
            for r in A.pagerank(edges, iters=3, redistribute_dangling=redis).collect()
        }
        monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 1_000_000)
        assert fast == slow, redis
    fast = {
        (r["node"], r["rank_micro"])
        for r in A.personalized_pagerank(edges, seeds, iters=2).collect()
    }
    monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["node"], r["rank_micro"])
        for r in A.personalized_pagerank(edges, seeds, iters=2).collect()
    }
    assert fast == slow


# --------------------------------------------------- katz driver parity
def test_katz_driver_matches_loop(spark, monkeypatch):
    rows = [(0, 1), (1, 2), (2, 0), (2, 3), (0, 1), (4, 4)]  # multi + self
    edges = spark.createDataFrame(rows, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (4,)], ["node"])
    fast = {
        (r["node"], r["katz_milli"], r["n_walks_total"])
        for r in A.katz_centrality(edges, seeds, max_len=4).collect()
    }
    monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["node"], r["katz_milli"], r["n_walks_total"])
        for r in A.katz_centrality(edges, seeds, max_len=4).collect()
    }
    assert fast == slow


# --------------------------------------------- bfs_levels driver parity
def test_bfs_levels_driver_matches_loop(spark, monkeypatch):
    rows = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (10,), (99,)], ["node"])  # 99 absent
    fast = {
        (r["node"], r["dist"])
        for r in A.bfs_levels(edges, seeds, max_depth=3).collect()
    }
    monkeypatch.setattr(A, "GRAPH_DRIVER_MAX_EDGES", 0)
    slow = {
        (r["node"], r["dist"])
        for r in A.bfs_levels(edges, seeds, max_depth=3).collect()
    }
    assert fast == slow
    assert (99, 0) in fast
    assert (4, 3) not in slow
