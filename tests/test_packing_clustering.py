"""Sequence packing (operators/packing.py) and k-means clustering
(operators/clustering.py) — the non-SQL-expressible LLM-pipeline ops,
verified against independent Python models."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hazelcast_jet_spark.operators import packing
from hazelcast_jet_spark.operators.clustering import kmeans_assign, kmeans_fit
from hazelcast_jet_spark.session import load_table

SF_DIR = "/root/testdata/sf0.01"


def _model_greedy(tokens: list[int], budget: int) -> list[int]:
    bins, cur, used = [], 0, 0
    for t in tokens:
        if used > 0 and used + t > budget:
            cur, used = cur + 1, 0
        bins.append(cur)
        used += t
    return bins


def test_pack_greedy_matches_python_model(spark):
    rows = [(src, i, (i * 37) % 90 + 10) for src in ("a", "b") for i in range(50)]
    df = spark.createDataFrame(rows, "source string, doc_id long, tok long")
    got = {
        (r["source"], r["doc_id"]): r["bin_id"]
        for r in packing.pack_greedy(
            df, "tok", budget=200, order_col="doc_id",
            partition_cols=["source"]).collect()
    }
    for src in ("a", "b"):
        toks = [(i * 37) % 90 + 10 for i in range(50)]
        expect = _model_greedy(toks, 200)
        for i, b in enumerate(expect):
            assert got[(src, i)] == b
    # no bin exceeds budget (every doc here is < budget)
    per_bin = (
        packing.pack_greedy(df, "tok", budget=200, order_col="doc_id",
                            partition_cols=["source"])
        .groupBy("source", "bin_id").agg(F.sum("tok").alias("s")).collect()
    )
    assert all(r["s"] <= 200 for r in per_bin)


def test_pack_greedy_oversized_doc_gets_own_bin(spark):
    df = spark.createDataFrame(
        [("a", 0, 50), ("a", 1, 999), ("a", 2, 50)],
        "source string, doc_id long, tok long")
    out = {r["doc_id"]: r["bin_id"] for r in packing.pack_greedy(
        df, "tok", budget=100, order_col="doc_id",
        partition_cols=["source"]).collect()}
    assert out == {0: 0, 1: 1, 2: 2}


def test_pack_concat_straddles_but_partitions_agree(spark):
    d = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("tok"))
    packed = packing.pack_concat(d, "tok", budget=512, order_col="doc_id",
                                 partition_cols=["source"])
    # bin_id is nondecreasing in doc_id within a source, and every bin's
    # START offset is below (bin_id+1)*budget by construction
    rows = packed.orderBy("source", "doc_id").collect()
    last = {}
    for r in rows:
        assert r["bin_id"] >= last.get(r["source"], 0)
        last[r["source"]] = r["bin_id"]


def test_kmeans_matches_numpy_model(spark):
    rng = np.random.RandomState(7)
    centers = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]])
    pts = np.vstack([c + rng.randn(40, 2) * 0.3 for c in centers])
    df = spark.createDataFrame(
        [(i, pts[i].tolist()) for i in range(len(pts))],
        "vec_id long, embedding array<double>")
    cent, assigned = kmeans_fit(df, k=3, max_iter=15)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}

    # independent numpy Lloyd's with the same deterministic init
    c = pts[:3].astype("float64")
    for _ in range(15):
        d = ((pts[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        new_c = c.copy()
        for j in range(3):
            if (a == j).any():
                new_c[j] = pts[a == j].mean(0)
        if np.sqrt(((new_c - c) ** 2).sum(1)).max() <= 1e-6:
            c = new_c
            break
        c = new_c
    d = ((pts[:, None, :] - c[None, :, :]) ** 2).sum(-1)
    expect = d.argmin(1)
    assert np.allclose(cent, c, atol=1e-8)
    assert all(got[i] == expect[i] for i in range(len(pts)))
    # each true blob landed in one cluster
    assert len({tuple(sorted(set(expect[i * 40:(i + 1) * 40]))) for i in range(3)}) == 3


def test_kmeans_assign_only_never_shuffles_corpus(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cent = np.array([r["embedding"] for r in emb.orderBy("vec_id").limit(4).collect()])
    out = kmeans_assign(emb, cent)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: broadcast centroids, no shuffle
    n = out.groupBy("cluster").count().collect()
    assert sum(r["count"] for r in n) == emb.count()
    assert {r["cluster"] for r in n} <= {0, 1, 2, 3}


# -- decontaminate vs a brute-force Python model ----------------------------

def _py_shingles(text: str, k: int = 3) -> set[str]:
    import re as _re
    norm = _re.sub(r"\s+", " ", _re.sub(r"[^a-z0-9]+", " ", text.lower())).strip()
    toks = norm.split(" ") if norm else [""]
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_decontaminate_matches_brute_force(spark):
    from hazelcast_jet_spark.operators.dedup import decontaminate

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(40):
        words = [vocab[(i * 3 + j * 5) % len(vocab)] for j in range(6 + i % 5)]
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.filter(F.col("doc_id") % 10 == 0)
    corpus = df.filter(F.col("doc_id") % 10 != 0)

    got = {r["doc_id"]: r["overlap"]
           for r in decontaminate(corpus, bench, min_overlap=2).collect()}

    bench_sh = set()
    for i, t in rows:
        if i % 10 == 0:
            bench_sh |= _py_shingles(t)
    expect = {}
    for i, t in rows:
        if i % 10 != 0:
            n = len(_py_shingles(t) & bench_sh)
            if n >= 2:
                expect[i] = n
    assert got == expect
    assert expect  # non-trivial: the model actually flags something


def test_trained_ivf_centroids_improve_quantization_and_recall(spark):
    """train_ivf_centroids (spherical k-means) plugged into the IVF path:
    the k-means guarantee is a LOWER quantization objective than its own
    init (the naive first-k centroids) — assert that, plus a usefulness
    floor on end-to-end recall of the brute-force cosine top-k."""
    from hazelcast_jet_spark.operators.clustering import train_ivf_centroids
    from hazelcast_jet_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in rows], dtype="float64")
    Xn = X / np.sqrt((X * X).sum(1))[:, None]

    naive = Xn[:8]
    trained = np.array(train_ivf_centroids(emb, k=8, max_iter=8))
    assert trained.shape == naive.shape

    def objective(C):
        d = ((Xn[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return d.min(1).sum()

    assert objective(trained) < objective(naive)

    queries = emb.filter(F.col("vec_id") < 5)
    truth = {(r["query_id"], r["corpus_id"])
             for r in cosine_topk(emb, queries, k=5).collect()}
    got = {(r["query_id"], r["corpus_id"])
           for r in ivf_topk(emb, queries, trained.tolist(), k=5,
                             nprobe=2).collect()}
    assert len(got & truth) / len(truth) >= 0.5


# -- pairs_to_groups (connected components) vs union-find -------------------

def test_pairs_to_groups_matches_union_find(spark):
    from hazelcast_jet_spark.operators.dedup import pairs_to_groups

    # chains, a triangle, an isolated pair, and a star — incl. a long
    # chain to exercise multiple propagation rounds
    pairs = ([(i, i + 1) for i in range(10, 18)]      # chain 10..18
             + [(1, 2), (2, 3), (1, 3)]               # triangle
             + [(100, 200)]                           # pair
             + [(50, 51), (50, 52), (50, 53)])        # star
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["node"]: r["group"]
           for r in pairs_to_groups(df, max_iter=20).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want
    # survivors: min id per group
    survivors = {g for g in got.values()}
    assert survivors == {10, 1, 100, 50}


def test_pairs_to_groups_deep_chain_beyond_max_iter(spark):
    """Pointer doubling makes max_iter a LOG bound: a 300-deep chain
    (diameter >> max_iter=20) still converges fully — plain neighbor
    propagation would stall at distance 20 and mislabel the tail."""
    from pyspark.sql import functions as F

    from hazelcast_jet_spark.operators.dedup import pairs_to_groups

    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long")
    out = pairs_to_groups(deep, max_iter=20)
    assert out.filter(F.col("group") != 0).count() == 0
    assert out.count() == 301


def test_pairs_to_groups_on_lsh_output(spark):
    """End-to-end: minhash pairs → groups agrees with exact_dedup's
    grouping for the exact-duplicate clusters in the corpus."""
    from hazelcast_jet_spark.operators.dedup import minhash_lsh_pairs, pairs_to_groups

    d = load_table(spark, SF_DIR, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    groups = pairs_to_groups(pairs)
    rows = groups.collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r["group"], set()).add(r["node"])
    # every group's id is its own min member
    for g, members in by_group.items():
        assert g == min(members)
    assert len(rows) > 0


def test_farthest_init_recovers_separated_clusters(spark):
    """Pathological id order: the first k ids are all inside ONE tight
    blob, while the data has k well-separated true clusters.  first-k
    init collapses into the blob; farthest-first traversal must place a
    seed in every separated cluster and end with a far lower
    quantization objective.  Deterministic — no RNG anywhere."""
    import numpy as np
    from pyspark.sql import functions as F
    from hazelcast_jet_spark.operators.clustering import kmeans_fit

    k, d = 4, 8
    centers = np.eye(k, d) * 50.0
    rows = []
    # ids 0..k-1: all in cluster 0's blob (the pathological prefix)
    for i in range(k):
        rows.append((i, (centers[0] + 0.01 * i).tolist()))
    nid = k
    for c in range(k):
        for j in range(25):
            vec = centers[c] + 0.1 * ((j % 5) - 2)
            rows.append((nid, vec.tolist()))
            nid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def objective(cent, assigned):
        pdf = assigned.select("vec_id", "embedding", "cluster").toPandas()
        V = np.array(pdf["embedding"].tolist())
        C = cent[pdf["cluster"].to_numpy()]
        return float(((V - C) ** 2).sum())

    c_first, a_first = kmeans_fit(df, k, max_iter=8, init="first")
    c_far, a_far = kmeans_fit(df, k, max_iter=8, init="farthest")
    o_first, o_far = objective(c_first, a_first), objective(c_far, a_far)
    assert o_far < o_first / 10  # separated clusters actually recovered
    # deterministic: same seeds and objective on a re-run
    c_far2, a_far2 = kmeans_fit(df, k, max_iter=8, init="farthest")
    assert np.allclose(c_far, c_far2)


def test_pca_fit_matches_numpy(spark):
    """Distributed moment aggregation reproduces numpy's covariance PCA
    (same eigenvectors up to the deterministic sign fix)."""
    from hazelcast_jet_spark.operators.clustering import pca_fit

    rng = np.random.RandomState(7)
    # anisotropic cloud: strong axis ~[1,1,0,0], weak axes elsewhere
    base = rng.randn(400, 1) @ np.array([[3.0, 3.0, 0.3, 0.1]])
    x = base + rng.randn(400, 4) * 0.2
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")
    mean, comps, var = pca_fit(df, n_components=2)

    np_cov = np.cov(x, rowvar=False)
    w, v = np.linalg.eigh(np_cov)
    top = v[:, np.argsort(w)[::-1][:2]].T
    for j in range(2):
        i = int(np.argmax(np.abs(top[j])))
        if top[j][i] < 0:
            top[j] = -top[j]
    assert np.allclose(mean, x.mean(axis=0), atol=1e-9)
    assert np.allclose(comps, top, atol=1e-7)
    assert var[0] > 10 * var[1]  # the planted strong axis dominates

    # partitioning-invariant (summation order differs only in ulps)
    mean2, comps2, _ = pca_fit(df.repartition(13), n_components=2)
    assert np.allclose(mean, mean2, atol=1e-12)
    assert np.allclose(comps, comps2, atol=1e-9)


def test_pca_project_is_map_only_and_matches_numpy(spark):
    from hazelcast_jet_spark.operators.clustering import pca_fit, pca_project

    rng = np.random.RandomState(3)
    x = rng.randn(100, 6)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")
    mean, comps, _ = pca_fit(df, n_components=2)
    out = pca_project(df, mean, comps)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scoring never shuffles

    got = {r.vec_id: (r.pc1, r.pc2) for r in out.collect()}
    want = (x - mean) @ comps.T
    for i in range(100):
        assert abs(got[i][0] - want[i][0]) < 1e-9
        assert abs(got[i][1] - want[i][1]) < 1e-9


def test_coreset_kcenter_matches_python_greedy(spark):
    """Selection sequence equals an exact Python greedy replay (rounded
    distances, id tie-break); corners beat dense modes."""
    import random

    from hazelcast_jet_spark.operators.clustering import coreset_kcenter

    rnd = random.Random(11)
    pts = [(i, [round(rnd.uniform(0, 10), 3) for _ in range(4)])
           for i in range(80)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts],
        "id long, v array<float>")
    got = [(r.sel_order, r.id, r.dist)
           for r in coreset_kcenter(df, 6, "id", "v").collect()]

    import struct
    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
    vecs = {i: [f32(x) for x in v] for i, v in pts}

    def l2r(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return round(acc, 9)

    chosen = [min(vecs)]
    mind = {i: l2r(v, vecs[chosen[0]]) for i, v in vecs.items()}
    exp = [(1, chosen[0], None)]
    for step in range(2, 7):
        cand = max(((d, -i) for i, d in mind.items() if i not in chosen))
        nxt = -cand[1]
        exp.append((step, nxt, mind[nxt]))
        chosen.append(nxt)
        for i, v in vecs.items():
            mind[i] = min(mind[i], l2r(v, vecs[nxt]))
    assert got == exp

    # corner spread: 4 tight clusters -> first 4 picks hit 4 clusters
    corners = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (10.0, 10.0)]
    rows = [(c * 20 + j, [cx + j * 0.01, cy + j * 0.01])
            for c, (cx, cy) in enumerate(corners) for j in range(10)]
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "id long, v array<float>")
    sel = coreset_kcenter(cdf, 4, "id", "v").collect()
    assert {r.id // 20 for r in sel} == {0, 1, 2, 3}

    import pytest as _pt
    with _pt.raises(ValueError):
        coreset_kcenter(df, 0, "id", "v")
    with _pt.raises(ValueError):
        coreset_kcenter(df, 500, "id", "v")
    # k > n returns all n rows
    tiny = spark.createDataFrame(
        [(1, [0.0]), (2, [5.0])], "id long, v array<float>")
    assert coreset_kcenter(tiny, 5, "id", "v").count() == 2


def test_coreset_kcenter_frees_its_checkpoints(spark):
    """Each iteration's ``localCheckpoint`` is freed once the next one is
    materialized (``DataFrame.unpersist`` frees nothing there), so the
    persisted RDDs left behind do not grow with k."""
    from hazelcast_jet_spark.operators.clustering import coreset_kcenter

    df = spark.createDataFrame(
        [(i, [float(i % 17), float(i // 17)]) for i in range(200)],
        "id long, v array<double>")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    def left_behind(k):
        before = persisted()
        assert coreset_kcenter(df, k, "id", "v").count() == k
        return len(persisted() - before)

    assert left_behind(8) == left_behind(2) == 0


def test_kmeans_fit_unrolled_separates_blobs(spark):
    """kmeans_fit_unrolled on two well-separated blobs: the fixed
    2-iteration fit lands one centroid in each blob and the final
    assignment splits the points exactly; centroids equal the exact
    per-blob means after convergence-in-one-step data."""
    import numpy as np

    from hazelcast_jet_spark.operators.clustering import kmeans_fit_unrolled

    rows = []
    for i in range(10):
        rows.append((i, [0.0 + 0.01 * i, 0.0]))          # blob A near 0
    for i in range(10):
        rows.append((100 + i, [10.0 + 0.01 * i, 10.0]))  # blob B near 10
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent, assigned = kmeans_fit_unrolled(df, k=2, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    a_clusters = {got[i] for i in range(10)}
    b_clusters = {got[100 + i] for i in range(10)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    # after the first update each centroid is its blob's mean; the second
    # update is a fixed point
    a_mean = np.mean([[0.0 + 0.01 * i, 0.0] for i in range(10)], axis=0)
    b_mean = np.mean([[10.0 + 0.01 * i, 10.0] for i in range(10)], axis=0)
    c_sorted = cent[np.argsort(cent[:, 0])]
    assert np.allclose(c_sorted[0], a_mean, atol=1e-9)
    assert np.allclose(c_sorted[1], b_mean, atol=1e-9)


def test_kmeans_fit_unrolled_needs_k_rows(spark):
    import pytest as _pytest

    from hazelcast_jet_spark.operators.clustering import kmeans_fit_unrolled

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError):
        kmeans_fit_unrolled(df, k=3)


def test_embedding_centroid_drift_planted(spark):
    """A label whose odd half is shifted by delta in one dim drifts by
    exactly delta; an unshifted label drifts 0."""
    rows = []
    for i in range(20):
        rows.append((i * 2, "same", [1.0, 2.0]))        # even ids
        rows.append((i * 2 + 1, "same", [1.0, 2.0]))    # odd ids
        rows.append((1000 + i * 2, "moved", [1.0, 2.0]))
        rows.append((1001 + i * 2, "moved", [4.0, 2.0]))  # odd shifted +3
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>")
    from hazelcast_jet_spark.operators.clustering import (
        embedding_centroid_drift)

    out = {r["label"]: r for r in embedding_centroid_drift(df).collect()}
    assert out["same"]["drift"] == 0.0
    assert out["moved"]["drift"] == 3.0
    assert out["moved"]["n_even"] == 20 and out["moved"]["n_odd"] == 20


def test_pack_greedy_global_warns_on_multi_partition(spark):
    """pack_greedy without partition_cols serializes the whole input into
    one task — it must say so loudly instead of silently coalescing."""
    import warnings

    df = spark.createDataFrame(
        [("a", i, 10) for i in range(20)],
        "source string, doc_id long, tok long").repartition(4)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = packing.pack_greedy(df, "tok", budget=100,
                                  order_col="doc_id").collect()
    assert any("pack_greedy without partition_cols" in str(w.message)
               for w in rec)
    assert len(out) == 20
    # single-partition input stays quiet
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        packing.pack_greedy(df.coalesce(1), "tok", budget=100,
                            order_col="doc_id").collect()
    assert not [w for w in rec2
                if "pack_greedy without partition_cols" in str(w.message)]
