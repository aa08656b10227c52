"""Similarity search over embedding columns (SURVEY Phase 5).

Brute-force cosine top-k as the exact baseline and an LSH-bucketed
approximate variant as the 100 TB scale path.  Vector math uses Spark
higher-order functions (`zip_with` + `aggregate`) — JVM-side, no Python
in the loop.

Scale shape: brute-force against a FIXED query set broadcasts the queries
(map-only over the corpus, then a per-query top-k via window/limit); the
LSH variant buckets both sides by hyperplane signature so candidate pairs
shrink by ~2^planes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _lit_vecs(vecs) -> Column:
    """Literal ``array<array<double>>`` built from ONE SQL parse instead of
    per-element ``F.lit`` calls.  A plane/centroid/codebook list of v
    vectors × d dims costs v·d py4j round trips the F.lit way (measured
    3.5 s of DRIVER time per pq_encode call at 8×4×8); one ``F.expr``
    string parse is milliseconds.  ``repr(float)`` is the shortest
    round-trip decimal and Spark's double parser is correctly rounded, so
    the literal bits are identical to what F.lit would have shipped."""
    return F.expr("array(%s)" % ",".join(
        "array(%s)" % ",".join(f"{float(x)!r}D" for x in v) for v in vecs))


def _round_half_away(x: "np.ndarray", digits: int) -> "np.ndarray":
    """Round half away from zero — Spark's ROUND and DuckDB's round(),
    unlike np.round's half-to-even, so decimal ties land the same way as
    the expression/oracle form (residual risk: the *10^d scaling step can
    disagree with BigDecimal rounding by 1 ulp at a boundary — same order
    of risk every float-compare in the gate already carries)."""
    scale = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


# Arrow-kernel factories are pure functions of their literal arguments, so
# the built UserDefinedFunction is memoized: a rebuilt-per-call udf is a NEW
# python function object, which makes every query plan novel and defeats the
# JVM's analysis/codegen caches (r12 §1: ~0.5 s of recompilation per
# ivf_index_staleness run on a 2000-row index came from exactly this).
_KERNEL_CACHE: dict = {}


def _vecs_key(vecs) -> tuple:
    return tuple(tuple(float(x) for x in v) for v in vecs)


def _cosine6_udf(nondet: bool = False):
    """Arrow-vectorized round(cosine, 6) over paired vector columns — the
    hot verify/re-rank path.  One numpy kernel per batch instead of
    interpreted per-element folds (3 array traversals per pair); the
    dot/(|a||b|) form matches the expression/oracle formula so the
    6-decimal rounding lands identically.

    ``nondet=True`` (legacy, unused since r13 — cosine_dedup_pairs now
    uses a localCheckpoint barrier) returns the ``asNondeterministic()``
    variant for call
    sites that FILTER directly on the UDF's output column: the optimizer
    otherwise pushes the threshold filter below the projection and
    evaluates the UDF twice — one ArrowEvalPython under the filter, one
    above it (guide §4.4).  The function is pure; the marker only stops
    the planner from duplicating it."""
    key = "cos6_nd" if nondet else "cos6"
    cached = _KERNEL_CACHE.get(key)
    if cached is not None:
        return cached
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos6(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        d = (A * B).sum(axis=1)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        return pd.Series(_round_half_away(d / (na * nb), 6))

    if nondet:
        cos6 = cos6.asNondeterministic()
    _KERNEL_CACHE[key] = cos6
    return cos6


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k: each query row against the corpus.

    The query side is broadcast (small by construction); ranking uses a
    per-query window with (similarity desc, id asc) — the id tiebreak
    makes results deterministic.  Self-matches are excluded.
    """
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    cos6 = _cosine6_udf()
    scored = (
        c.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id", "corpus_id",
            cos6(F.col("qvec").cast("array<double>"),
                 F.col("cvec").cast("array<double>")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization of an embedding: ``q_i =
    floor(x_i * 127 / max|x| + 0.5)`` (explicit floor(+0.5) so every
    engine rounds identically — no round-half-even ambiguity), plus the
    reconstruction scale.  4× smaller vectors for ANN candidate stages;
    pure JVM higher-order functions, map-only.

    Returns a struct ``(q: array<int>, scale: double)`` with
    ``x_i ≈ q_i * scale``.  Zero vectors quantize to all-zero with
    scale 0.  (Training-data-pipeline extension; no reference analog.)
    """
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = F.when(amax == 0.0, F.lit(0.0)).otherwise(amax / F.lit(127.0))
    q = F.when(amax == 0.0, F.transform(vec, lambda x: F.lit(0))).otherwise(
        F.transform(vec, lambda x: F.floor(x * F.lit(127.0) / amax + F.lit(0.5)).cast("int"))
    )
    return F.struct(q.alias("q"), scale.alias("scale"))


def dequantize_int8(qstruct: Column) -> Column:
    """Inverse of :func:`quantize_int8`: ``array<double>`` ≈ original."""
    return F.transform(qstruct["q"], lambda q: q.cast("double") * qstruct["scale"])


def banded_hyperplanes(num_bands: int, planes_per_band: int, dim: int,
                       seed: int = 7) -> list[list[list[float]]]:
    """Deterministic ±1 hyperplanes for a banded OR-construction: returns
    ``num_bands`` independent plane sets of ``planes_per_band`` planes each.

    Sizing at scale: planes_per_band controls bucket count per band
    (2^planes buckets) — pick ≈ log2(n_vectors / target_bucket_size); more
    bands raise recall (P[candidate] = 1-(1-p^planes)^bands for a pair
    with per-plane agreement p).  ±1 entries keep the dot product a signed
    sum of the inputs; when partial sums are exactly representable (the
    synthetic testdata) every engine agrees bit-for-bit.  Residual ulp
    risk for arbitrary doubles: numpy's pairwise/SIMD summation vs a
    sequential fold can differ by ulps, and a near-zero dot then flips a
    signature bit (same order of risk as _round_half_away documents)."""
    import random

    rnd = random.Random(seed)
    return [
        [[1.0 if rnd.random() < 0.5 else -1.0 for _ in range(dim)]
         for _ in range(planes_per_band)]
        for _ in range(num_bands)
    ]


def _as_bands(planes) -> list[list[list[float]]]:
    """Accept a flat plane list (single band, legacy) or a list of bands."""
    return [planes] if planes and isinstance(planes[0][0], (int, float)) else list(planes)


def banded_signatures_udf(bands: list[list[list[float]]]):
    """Arrow-vectorized banded signatures: one numpy matmul per batch
    computes every (band, plane) dot product, packed per band into a
    BIGINT (bit i = sign(vec · plane_i)).

    This is the deliberate exception to "stay JVM-side": per-plane
    higher-order-function dots are interpreted per element (O(bands ×
    planes × dim) lambda calls per row), while the matmul runs the same
    arithmetic in one vectorized kernel — ~50× faster at 24+ planes, and
    the only part of the LSH pipeline that is compute- rather than
    shuffle-bound."""
    key = ("sigs", tuple(_vecs_key(band) for band in bands))
    cached = _KERNEL_CACHE.get(key)
    if cached is not None:
        return cached
    from pyspark.sql.functions import pandas_udf

    sizes = [len(p) for p in bands]
    mat = np.array([plane for band in bands for plane in band], dtype=np.float64).T
    offs = np.cumsum([0] + sizes)
    weights = [1 << np.arange(s, dtype=np.int64) for s in sizes]

    @pandas_udf("array<long>")
    def sigs(vs: pd.Series) -> pd.Series:
        V = np.array(vs.tolist(), dtype=np.float64)
        bits = (V @ mat) >= 0
        packed = np.stack(
            [bits[:, offs[b]:offs[b + 1]] @ weights[b] for b in range(len(sizes))],
            axis=1,
        )
        return pd.Series(list(packed))

    _KERNEL_CACHE[key] = sigs
    return sigs


def _banded_buckets(df: DataFrame, bands: list[list[list[float]]], id_col: str,
                    vec_col: str, out_id: str, max_bucket: int | None) -> DataFrame:
    """(id, band, sig) bucket assignments under the OR-construction; buckets
    larger than ``max_bucket`` (boilerplate/hub clusters) are dropped whole —
    the hard cap that bounds the within-bucket pairing at any scale."""
    sigs = banded_signatures_udf(bands)
    bucketed = df.select(
        F.col(id_col).alias(out_id),
        F.posexplode(sigs(F.col(vec_col).cast("array<double>"))).alias("band", "sig"),
    )
    if max_bucket is not None:
        w = Window.partitionBy("band", "sig")
        bucketed = (
            bucketed.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    return bucketed


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, planes,
                 k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding",
                 max_bucket: int | None = None) -> DataFrame:
    """Approximate NN: a (query, corpus) pair is a candidate when the two
    vectors share a bucket in ANY band (banded OR-construction, same shape
    as dedup.minhash_lsh_pairs); exact cosine re-rank over candidates.

    ``planes`` is either a flat plane list (one band) or a list of bands
    (see :func:`banded_hyperplanes`).  The join shuffles (id, band, sig)
    pairs — never the vectors — and ``max_bucket`` bounds per-bucket
    candidate counts, so the plan survives a 100 TB corpus."""
    bands = _as_bands(planes)
    cb = _banded_buckets(corpus, bands, id_col, vec_col, "corpus_id", max_bucket)
    qb = _banded_buckets(queries, bands, id_col, vec_col, "query_id", max_bucket)
    cands = (
        cb.join(qb, ["band", "sig"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id")
        .dropDuplicates(["query_id", "corpus_id"])
    )
    cvec = corpus.select(F.col(id_col).alias("corpus_id"),
                         F.col(vec_col).cast("array<double>").alias("cvec"))
    qvec = queries.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).cast("array<double>").alias("qvec"))
    scored = (
        cands.join(F.broadcast(qvec), "query_id").join(cvec, "corpus_id")
        .select("query_id", "corpus_id",
                _cosine6_udf()(F.col("qvec"), F.col("cvec")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def cosine_dedup_pairs(df: DataFrame, planes, threshold: float,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_bucket: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-by-embedding mode):
    banded hyperplane LSH → within-bucket pairing (id_a < id_b, any band)
    → exact-cosine verify of the distinct candidates.

    Mirrors dedup.minhash_lsh_pairs: the bucket self-join carries only
    (id, band, sig); vectors are joined back for candidates only, so the
    shuffle volume is bands×n small records, never n² and never the
    vectors.  ``max_bucket`` drops degenerate buckets whole (at 100 TB a
    hub cluster otherwise makes one quadratic reducer)."""
    bands = _as_bands(planes)
    # materialize the bucket assignments once: the table is BOTH legs of
    # the self-join, and without the checkpoint the whole subtree —
    # vector scan, Arrow signature kernel, explode, hot-bucket window —
    # executes twice, once per leg (guide §2.4 "remove shuffles
    # outright" / §3.3 "materialising an intermediate truncates the
    # plan").  (id, band, sig) longs only: bands×n rows, never vectors.
    bucketed = _banded_buckets(df, bands, id_col, vec_col, "id",
                               max_bucket).localCheckpoint()
    l, r = bucketed.alias("l"), bucketed.alias("r")
    cands = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.sig") == F.col("r.sig"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb"))
    # structural barrier instead of asNondeterministic (r12 VERDICT #8):
    # the threshold filter references the UDF column, and with a
    # deterministic kernel the pushed-down filter duplicates the verify
    # — two ArrowEvalPython nodes (guide §4.4).  Materializing the
    # scored candidate table (bounded: the deduped candidate pairs,
    # three narrow columns) evaluates the kernel exactly once and SAYS
    # so, without lying to the optimizer about the kernel's purity.
    scored = (
        cands.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b",
                _cosine6_udf()(F.col("va"), F.col("vb"))
                .alias("cos_sim"))
        .localCheckpoint()
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def _centroid_dists(vec: Column, centroids: list[list[float]]) -> Column:
    """array of round(1 - cosine(vec, centroid_i), 9) — rounding makes the
    argmin tie-break (first index) engine-portable.

    Built as ``transform`` over a one-parse literal centroid table
    (:func:`_lit_vecs`) instead of an unrolled per-centroid expression:
    the per-element float math (zip_with dot, sequential norm folds,
    1−dot/(|v||c|), round 9) is token-identical, so results are
    bit-equal, while expression construction drops from ~k·d py4j calls
    to a handful and the plan stays small."""
    cents = _lit_vecs(centroids)
    return F.transform(
        cents, lambda c: F.round(F.lit(1.0) - cosine(vec, c), 9))


def centroid_dists_udf(centroids: list[list[float]]):
    """Arrow-vectorized twin of :func:`_centroid_dists`: one numpy matmul
    per batch computes every vector-to-centroid cosine distance (the same
    interpreted-lambda-vs-kernel trade as banded_signatures_udf — per-row
    higher-order dots cost ~0.1 s per centroid per 2k rows)."""
    key = ("cdists", _vecs_key(centroids))
    cached = _KERNEL_CACHE.get(key)
    if cached is not None:
        return cached
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    nc = np.sqrt((C * C).sum(axis=1))

    @pandas_udf("array<double>")
    def dists(vs: pd.Series) -> pd.Series:
        V = np.array(vs.tolist(), dtype=np.float64)
        nv = np.sqrt((V * V).sum(axis=1))
        # dot / (|v|·|c|), matching the expression/oracle form so rounding
        # to 9 decimals lands identically
        d = _round_half_away(1.0 - (V @ C.T) / np.outer(nv, nc), 9)
        return pd.Series(list(d))

    _KERNEL_CACHE[key] = dists
    return dists


def ivf_assign(corpus: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (fixed literal centroid list → map-only, broadcast-free).  Query-time:
    :func:`ivf_topk` probes the top-nprobe centroid partitions only."""
    v = F.col(vec_col).cast("array<double>")
    dists = _centroid_dists(v, centroids)
    return corpus.select(
        F.col(id_col), F.col(vec_col),
        F.array_position(dists, F.array_min(dists)).alias("centroid_id"),
    )


def ivf_build_index(corpus: DataFrame, centroids: list[list[float]], path: str,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Materialize the IVF assignment partitioned BY centroid_id — the
    100 TB shape the :func:`ivf_topk` docstring promises: once on disk,
    a probe reads only nprobe/k_centroids of the data (real partition
    pruning, pinned in tests), and queries never pay the assignment scan
    again."""
    (
        ivf_assign(corpus, centroids, id_col, vec_col)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def ivf_index_upsert(new_vectors: DataFrame, centroids: list[list[float]],
                     path: str, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Incremental IVF index maintenance (r8 verdict #7, mirroring the
    dedup index's append discipline): assign ONLY the new vectors to the
    EXISTING centroids (map-only, no shuffle, zero recompute of the
    resident corpus) and append them under the same
    ``partitionBy(centroid_id)`` layout :func:`ivf_build_index` wrote —
    probes prune identically over old and new files.

    Because the assignment is a pure function of (vector, centroids),
    an upserted index is row-identical to a full rebuild over the union
    corpus (pinned in tests) — freshness degrades only through CENTROID
    staleness, which :func:`ivf_index_staleness` measures; recluster
    (recompute centroids + :func:`ivf_build_index`) when it reports
    drift beyond threshold, not on a timer.
    """
    (
        ivf_assign(new_vectors, centroids, id_col, vec_col)
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def ivf_index_staleness(assigned: DataFrame, centroids: list[list[float]],
                        vec_col: str = "embedding",
                        round_digits: int = 6) -> DataFrame:
    """IVF index freshness report: per centroid, how well it still
    represents its inverted list after incremental upserts.

    - ``mean_dist``: mean assignment distance (round(1-cosine, 9), the
      :func:`ivf_assign` metric) of the list's members to the stored
      centroid — rises as upserted vectors land far from every centroid.
    - ``drift``: 1 - cosine(current member MEAN vector, stored centroid)
      — how far the list's true center has moved.  0 for a fresh index
      on its own training data; grows monotonically with distribution
      shift.

    Recluster guidance (documented contract): recompute centroids and
    rebuild when ``max(drift)`` exceeds ~0.5 × the median ``mean_dist``
    — past that point the nearest-centroid partition of NEW vectors no
    longer matches the partition a fresh k-means would produce and
    probe recall decays (measure with ann_recall_ivf_pq before/after).

    ``assigned`` is the index table (read of the :func:`ivf_build_index`
    path, or :func:`ivf_assign` output).  ONE scan: the per-dimension
    mean and the distance sum fold in the same exploded aggregate
    (K·dim bounded rows out); sums DECIMAL(38,9)-accumulate — exact,
    order-free, and the scaled integers stay below 2^53 so the
    decimal→double cast is engine-stable.  Empty centroids (no members)
    have no row — they are maximally stale; treat absence as "recluster"
    signal.

    Returns ``(centroid_id, n_vectors, mean_dist, drift)`` ordered by
    centroid_id.
    """
    spark = assigned.sparkSession
    v = F.col(vec_col).cast("array<double>")
    # the Arrow kernel, not the Column-expression form: upstream
    # ivf_assign's centroid_id is itself an argmin over the 8×K-dim HOF
    # distance array, and projection collapse re-expands that whole
    # expression at every reference — the vectorized twin (identical
    # rounding by construction, same pinned contract as ivf_topk's
    # corpus side) computes the row's distance list once per batch
    # (measured 9.2 s → 2.8 s at sf0.1)
    dists = centroid_dists_udf(centroids)(v)
    d9 = lambda c: F.sum(c.cast("decimal(38,9)")).cast("double")  # noqa: E731
    base = assigned.select(
        F.col("centroid_id"),
        F.element_at(dists, F.col("centroid_id").cast("int")).alias("__dist"),
        F.posexplode(v).alias("pos", "val"),
    )
    per = base.groupBy("centroid_id", "pos").agg(
        F.count(F.lit(1)).alias("__n"),
        d9(F.col("val")).alias("__s"),
        # distance folds once per member: only the pos-0 group carries it
        d9(F.when(F.col("pos") == 0, F.col("__dist"))).alias("__ds"),
    )
    cframe = spark.createDataFrame(
        [(cid + 1, pos, float(x), float(sum(y * y for y in c)))
         for cid, c in enumerate(centroids) for pos, x in enumerate(c)],
        "centroid_id long, pos int, cval double, csq double")
    m = F.col("__s") / F.col("__n").cast("double")
    agg = (per.join(F.broadcast(cframe), ["centroid_id", "pos"])
           .groupBy("centroid_id")
           .agg(F.max("__n").alias("n_vectors"),
                d9(m * F.col("cval")).alias("__dot"),
                d9(m * m).alias("__msq"),
                F.max("__ds").alias("__dsum"),
                F.max("csq").alias("__csq")))
    return (agg.select(
        "centroid_id", "n_vectors",
        (F.round(F.col("__dsum") / F.col("n_vectors").cast("double"),
                 round_digits) + F.lit(0.0)).alias("mean_dist"),
        (F.round(F.lit(1.0) - F.col("__dot")
                 / (F.sqrt(F.col("__msq")) * F.sqrt(F.col("__csq"))),
                 round_digits) + F.lit(0.0)).alias("drift"))
        .orderBy("centroid_id"))


def ivf_topk_indexed(spark, path: str, queries: DataFrame,
                     centroids: list[list[float]], k: int = 5, nprobe: int = 2,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_build_index`): the union of
    the queries' nprobe centroid ids prunes the scan to those partitions
    (one bounded driver-side collect of ≤ k_centroids ids — never data),
    then the same broadcast-probe + exact re-rank as :func:`ivf_topk`."""
    v = F.col(vec_col).cast("array<double>")
    qd = queries.select(
        F.col(id_col).alias("query_id"), v.alias("qvec"),
        F.posexplode(_centroid_dists(v, centroids)).alias("cidx", "dist"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cidx").asc())
    probe = (
        qd.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qvec", (F.col("cidx") + 1).alias("centroid_id"))
    )
    probed_ids = sorted({r.centroid_id for r in probe.select("centroid_id").distinct().collect()})
    assigned = (
        spark.read.option("basePath", path).parquet(path)
        .filter(F.col("centroid_id").isin(probed_ids))
        .select(F.col(id_col).alias("corpus_id"),
                F.col(vec_col).cast("array<double>").alias("cvec"),
                "centroid_id")
    )
    scored = (
        assigned.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id",
                _cosine6_udf()(F.col("qvec"), F.col("cvec")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: list[list[float]],
             k: int = 5, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF probe path: each query searches only the ``nprobe`` nearest
    centroids' inverted lists, with an exact cosine re-rank inside them.

    Scale shape: the corpus is assigned map-only (at 100 TB, persist the
    assignment partitioned/bucketed BY centroid_id so a probe prunes to
    nprobe/k_centroids of the data); the (small) probe set is broadcast,
    so the join never shuffles the corpus."""
    dists_udf = centroid_dists_udf(centroids)
    assigned = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
        dists_udf(F.col(vec_col).cast("array<double>")).alias("_cd"),
    ).select(  # separate projection: the Arrow batch runs once per row
        "corpus_id", "cvec",
        F.array_position("_cd", F.array_min("_cd")).alias("centroid_id"),
    )
    v = F.col(vec_col).cast("array<double>")
    qd = queries.select(
        F.col(id_col).alias("query_id"), v.alias("qvec"),
        F.posexplode(_centroid_dists(v, centroids)).alias("cidx", "dist"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cidx").asc())
    probe = (
        qd.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qvec", (F.col("cidx") + 1).alias("centroid_id"))
    )
    scored = (
        assigned.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id",
                _cosine6_udf()(F.col("qvec"), F.col("cvec")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def semantic_dedup_pairs(df: DataFrame, centroids: list[list[float]],
                         threshold: float, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_cluster: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    pairs found by clustering embeddings and comparing ONLY within each
    cluster — the pruning that makes embedding dedup feasible at corpus
    scale, where all-pairs cosine is O(n²).

    Plan shape: nearest-centroid assignment is map-only (Arrow matmul,
    broadcast-free — same kernel as IVF coarse quantization); then ONE
    shuffle on centroid_id into an ``applyInPandas`` stage that scores
    each cluster with a BLOCKED numpy matmul and emits only the pairs
    at/above threshold.  Every vector crosses the exchange exactly once
    — a within-cluster self-join would ship each vector into every one
    of its candidate pair rows (measured 4.2 s → 1.1 s at sf0.1, and
    the gap is the point at corpus scale).  The block size bounds
    executor memory at block×cluster scores regardless of cluster size;
    ``max_cluster`` still drops degenerate clusters whole (same
    hot-bucket cap discipline as the LSH family).

    Centroids come from :func:`~.clustering.kmeans_fit` in production;
    passing any fixed list keeps the operator deterministic and lets the
    gate oracle replicate the assignment in SQL.  Pairs whose members
    straddle clusters are missed by construction — that is SemDeDup's
    documented recall trade, not an implementation gap.
    """
    dists_udf = centroid_dists_udf(centroids)
    assigned = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"),
        dists_udf(F.col(vec_col).cast("array<double>")).alias("_cd"),
    ).select(
        id_col, "_v",
        F.array_position("_cd", F.array_min("_cd")).alias("centroid_id"),
    )
    if max_cluster is not None:
        wc = Window.partitionBy("centroid_id")
        assigned = (
            assigned.withColumn("_csz", F.count(F.lit(1)).over(wc))
            .filter(F.col("_csz") <= max_cluster)
            .drop("_csz")
        )

    block = 2048
    id_type = dict(df.dtypes)[id_col]

    def _cluster_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.array(pdf["_v"].tolist(), dtype=np.float64)[order]
        nv = np.sqrt((V * V).sum(axis=1))
        cid = int(pdf["centroid_id"].iloc[0])
        out_a, out_b, out_c = [], [], []
        for lo in range(0, len(ids), block):
            hi = min(lo + block, len(ids))
            # rows lo:hi against all columns STRICTLY after each row
            cos = (V[lo:hi] @ V.T) / np.outer(nv[lo:hi], nv)
            c6 = _round_half_away(cos, 6)
            for k in range(hi - lo):
                i = lo + k
                row = c6[k, i + 1:]
                hits = np.nonzero(row >= threshold)[0]
                if hits.size:
                    out_a.extend([ids[i]] * hits.size)
                    out_b.extend(ids[i + 1 + hits])
                    out_c.extend(row[hits])
        return pd.DataFrame({
            "centroid_id": np.full(len(out_a), cid, dtype=np.int64),
            "id_a": out_a,
            "id_b": out_b,
            "cos_sim": np.array(out_c, dtype=np.float64),
        })

    return assigned.groupBy("centroid_id").applyInPandas(
        _cluster_pairs,
        f"centroid_id long, id_a {id_type}, id_b {id_type}, cos_sim double",
    )


def semantic_dedup(df: DataFrame, centroids: list[list[float]],
                   threshold: float, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster: int | None = None) -> DataFrame:
    """Keep-one-per-semantic-group: connected components over
    :func:`semantic_dedup_pairs` (via dedup.pairs_to_groups), drop every
    row whose id is not its group's representative (min id)."""
    from .dedup import pairs_to_groups

    pairs = semantic_dedup_pairs(df, centroids, threshold, id_col, vec_col,
                                 max_cluster)
    groups = pairs_to_groups(pairs.select("id_a", "id_b"))
    losers = groups.filter(F.col("node") != F.col("group")).select(
        F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def pq_fit(df: DataFrame, vec_col: str = "embedding", m: int = 8, k: int = 16,
           id_col: str = "vec_id", max_iter: int = 10, init: str = "first"):
    """Product-quantization codebooks (Jégou et al. 2011): split each
    vector into ``m`` subvectors and run Lloyd's per subspace —
    ``m`` small k-means fits over map-only slices (each the
    one-shuffle-per-iteration plan of clustering.kmeans_fit).  Returns
    ``list[m][k][d/m]`` plain floats, the literal format
    :func:`pq_encode` embeds in the plan.

    PQ is the memory arm of the ANN stack: IVF prunes WHICH vectors to
    scan, PQ shrinks each to ``m`` code bytes (k ≤ 256) — 64 float32
    dims become 8 bytes, a 32× cut, with distances approximated
    per-subspace.  Fit on a deterministic sample at 100 TB (like
    train_ivf_centroids)."""
    from hazelcast_jet_spark.operators.clustering import kmeans_fit

    probe = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe is None:
        raise ValueError("pq_fit on an empty DataFrame")
    dim = probe["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdim = dim // m
    books = []
    for s in range(m):
        sub = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col).cast("array<double>"),
                    s * subdim + 1, subdim).alias("v"))
        cent, _ = kmeans_fit(sub, k, vec_col="v", id_col=id_col,
                             max_iter=max_iter, init=init)
        books.append([[float(x) for x in c] for c in cent])
    return books


def pq_encode(df: DataFrame, codebooks, vec_col: str = "embedding",
              code_col: str = "pq_code", err_col: str | None = None) -> DataFrame:
    """Encode vectors to PQ codes — map-only, whole-stage codegen, the
    :func:`~hazelcast_jet_spark.operators.clustering.l2_assign`
    convention per subspace: squared L2 to each codeword rounds to 9 dp
    before the argmin, so the code (and the SQL oracle computing the
    same rounded doubles) is engine-portable.  Adds ``code_col``
    (array<int>, one code per subspace); ``err_col`` adds the total
    quantization error Σ_s min-dist (left-to-right double sum of the
    rounded per-subspace minima — deterministic)."""
    subdim = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    codes, errs = [], []
    for s, book in enumerate(codebooks):
        sub = F.slice(v, s * subdim + 1, subdim)
        # transform over a one-parse literal codebook (_lit_vecs): the
        # per-codeword fold is token-identical to the unrolled form, so
        # codes are bit-equal while construction stops costing ~m·k·d
        # py4j calls per encode (measured 3.5 s of driver time per call)
        dists = F.transform(
            _lit_vecs(book),
            lambda c: F.round(
                F.aggregate(
                    F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, y: acc + y),
                9))
        codes.append((F.array_position(dists, F.array_min(dists)) - F.lit(1))
                     .cast("int"))
        errs.append(F.array_min(dists))
    out = df.withColumn(code_col, F.array(*codes))
    if err_col is not None:
        total = errs[0]
        for e in errs[1:]:
            total = total + e
        out = out.withColumn(err_col, total)
    return out


def _adc_scores(corpus_codes: DataFrame, queries: DataFrame, codebooks,
                id_col: str, code_col: str, vec_col: str) -> DataFrame:
    """ADC scoring core shared by :func:`pq_topk` and
    :func:`ivf_pq_topk`: every (corpus, query) approximate distance,
    unranked — the caller applies its own candidate restriction before
    the per-query top-k window."""


    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField as SF, StructType as ST)

    books = np.asarray(codebooks, dtype="float64")     # (m, k_cb, subdim)
    m, _, subdim = books.shape
    qrows = queries.select(F.col(id_col).alias("qid"),
                           F.col(vec_col).cast("array<double>").alias("qv")) \
        .collect()
    qids = np.array([r.qid for r in qrows])
    qmat = np.stack([np.asarray(r.qv) for r in qrows])  # (n_q, d)
    luts = np.stack([
        ((qmat[:, s * subdim:(s + 1) * subdim][:, None, :] - books[s][None])
         ** 2).sum(axis=2)
        for s in range(m)
    ], axis=1)                                          # (n_q, m, k_cb)

    src = corpus_codes.select(F.col(id_col).alias("corpus_id"),
                              F.col(code_col).alias("__code"))

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["__code"].to_numpy())          # (n, m)
            # dists[i, q] = Σ_s luts[q, s, codes[i, s]]
            d = np.zeros((len(codes), len(qids)))
            for s in range(m):
                d += luts[:, s, :][:, codes[:, s]].T            # (n, n_q)
            yield pd.DataFrame({
                "corpus_id": np.repeat(pdf["corpus_id"].to_numpy(), len(qids)),
                "query_id": np.tile(qids, len(pdf)),
                "approx_dist": d.reshape(-1),
            })

    schema = ST([SF("corpus_id", LongType()), SF("query_id", LongType()),
                 SF("approx_dist", DoubleType())])
    return src.mapInPandas(scan, schema).filter(
        F.col("corpus_id") != F.col("query_id"))


def pq_topk(corpus_codes: DataFrame, queries: DataFrame, codebooks,
            k: int = 5, id_col: str = "vec_id", code_col: str = "pq_code",
            vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search arm
    completing the ANN stack (IVF prunes, :func:`pq_encode` compresses,
    ADC scans codes instead of vectors):

        dist(q, code) ~= sum_s LUT_q[s][code_s],
        LUT_q[s][j] = ||q_s - codebook[s][j]||^2

    Queries collect to the driver (small by construction, the
    :func:`cosine_topk` contract) and their n_q x m x k float LUTs ride
    the task closure; the corpus side is a map-only Arrow kernel over
    the CODE column — the raw vectors never re-enter the plan, so a
    64-float corpus scans at m-bytes-per-row.  Ranking reuses the
    per-query window with (dist asc, id asc) determinism.

    Returns ``(query_id, corpus_id, approx_dist, rank)``.  Exactness:
    ADC is an approximation of true L2 by construction; recall against
    brute force is the pytest evidence (the gate-grade oracle lives on
    :func:`pq_encode`, whose codes ARE exact).
    """
    scored = _adc_scores(corpus_codes, queries, codebooks,
                         id_col, code_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "approx_dist", "rank")
    )


def ivf_pq_build(corpus: DataFrame, centroids: list[list[float]], codebooks,
                 path: str, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> None:
    """Materialize the FAISS-IVFPQ-shaped index: coarse IVF assignment
    partitioned by centroid_id, payload reduced to PQ CODES (plus the
    raw vector for optional exact re-rank) — the two pruning axes
    composed: partition pruning cuts WHICH rows a probe reads, PQ cuts
    the BYTES per row the ADC scan touches."""
    (
        pq_encode(ivf_assign(corpus, centroids, id_col, vec_col), codebooks,
                  vec_col=vec_col)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def ivf_pq_upsert(new_vectors: DataFrame, centroids: list[list[float]],
                  codebooks, path: str, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> None:
    """Incremental IVF-PQ index maintenance — the code-side twin of
    :func:`ivf_index_upsert` (r9 verdict #4): assign + PQ-encode ONLY
    the new vectors against the FROZEN centroids/codebooks (map-only,
    zero recompute of the resident corpus) and append under the same
    ``partitionBy(centroid_id)`` layout :func:`ivf_pq_build` wrote.

    Assignment and encoding are pure functions of (vector, centroids,
    codebooks), so an upserted index is row-identical to a full rebuild
    over the union corpus (pinned in tests).  Freshness degrades only
    through CODEBOOK staleness — upserted vectors quantize against
    codewords fitted on the training distribution; measure with
    :func:`pq_codebook_staleness` and re-fit + rebuild when it reports
    drift, not on a timer (the :func:`ivf_index_staleness` discipline).
    """
    (
        pq_encode(ivf_assign(new_vectors, centroids, id_col, vec_col),
                  codebooks, vec_col=vec_col)
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def pq_codebook_staleness(df: DataFrame, codebooks, is_new: Column,
                          vec_col: str = "embedding",
                          refit_ratio: float = 1.5,
                          round_digits: int = 6) -> DataFrame:
    """PQ codebook freshness report (r9 verdict #4 — the ANN lane's last
    build-once artifact): per SUBSPACE, the mean quantization error of
    the TRAINING-era vectors vs the UPSERTED vectors, and whether the
    drift crosses the re-fit threshold.

    ``pq_fit``'s codebooks are train-once; :func:`ivf_pq_upsert` encodes
    new vectors against the frozen codewords.  On the training
    distribution the per-subspace error is the Lloyd's-converged floor;
    as upserts drift away from that distribution their min-codeword
    distance rises — per subspace, because drift is rarely isotropic
    (one embedding block shifting, e.g. after a model fine-tune, shows
    in ITS subspaces while the others stay fresh).

        err_ratio = mean_err_new / mean_err_train   (per subspace)
        refit     = err_ratio > refit_ratio         (default 1.5)

    Re-fit guidance (documented contract): when any subspace flags,
    re-run ``pq_fit`` on a fresh sample and rebuild with
    :func:`ivf_pq_build`; between flags, keep upserting — the
    encode-vs-re-encode equality pin guarantees incremental and rebuilt
    codes agree as long as the codebooks are the ones frozen.

    The error expression is BY CONSTRUCTION the one :func:`pq_encode`
    embeds (rounded-9 per-codeword L2, array_min) — what this measures
    is exactly the error the index carries.  ONE scan: the m per-subspace
    errors explode to (subspace, is_new, err) rows (m·n bounded, m ≤ 16)
    and a single aggregate folds both cohorts; sums DECIMAL(38,9)-
    accumulate (exact, order-free, scaled integers < 2^53 so the
    decimal→double cast is engine-stable).

    Returns ``(subspace, n_train, n_new, mean_err_train, mean_err_new,
    err_ratio, refit)`` ordered by subspace; ``err_ratio`` is NULL when
    the training error is zero (degenerate codebook) and ``refit`` then
    falls back to "any new-vector error at all".
    """
    subdim = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    errs = []
    for s, book in enumerate(codebooks):
        sub = F.slice(v, s * subdim + 1, subdim)
        # transform over a one-parse literal codebook (_lit_vecs): the
        # per-codeword fold is token-identical to the unrolled form, so
        # errors are bit-equal while construction stops costing m·k·d
        # py4j calls per call (the pq_encode idiom, r12 §1)
        dists = F.transform(
            _lit_vecs(book),
            lambda c: F.round(
                F.aggregate(
                    F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, y: acc + y),
                9))
        errs.append(F.array_min(dists))
    base = df.select(
        is_new.cast("boolean").alias("__new"),
        F.posexplode(F.array(*errs)).alias("subspace", "__err"))
    d9 = lambda c: F.sum(c.cast("decimal(38,9)")).cast("double")  # noqa: E731
    agg = base.groupBy("subspace").agg(
        F.count(F.when(~F.col("__new"), F.lit(1))).alias("n_train"),
        F.count(F.when(F.col("__new"), F.lit(1))).alias("n_new"),
        d9(F.when(~F.col("__new"), F.col("__err"))).alias("__st"),
        d9(F.when(F.col("__new"), F.col("__err"))).alias("__sn"))
    nt = F.col("n_train").cast("double")
    nn = F.col("n_new").cast("double")
    mean_t = F.when(F.col("n_train") > 0, F.col("__st") / nt)
    mean_n = F.when(F.col("n_new") > 0, F.col("__sn") / nn)
    ratio = F.when((F.col("n_new") > 0) & (F.col("__st") > 0.0),
                   (F.col("__sn") / nn) / (F.col("__st") / nt))
    refit = (F.when(F.col("n_new") == 0, F.lit(False))
             .when(F.col("__st") > 0.0, ratio > F.lit(float(refit_ratio)))
             .otherwise(F.col("__sn") > 0.0))
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    return (agg.select(
        "subspace", "n_train", "n_new",
        r6(mean_t).alias("mean_err_train"),
        r6(mean_n).alias("mean_err_new"),
        r6(ratio).alias("err_ratio"),
        refit.alias("refit"))
        .orderBy("subspace"))


def ivf_pq_topk(spark, path: str, queries: DataFrame,
                centroids: list[list[float]], codebooks, k: int = 5,
                nprobe: int = 2, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Query a persisted IVF-PQ index: prune to the queries' nprobe
    centroid partitions (bounded ≤ k_centroids driver collect — never
    data), then :func:`pq_topk`-style ADC over the surviving CODE rows.
    Returns ``(query_id, corpus_id, approx_dist, rank)`` by approximate
    L2.  Exact re-rank, when wanted, joins the top candidates back to
    the stored vectors — a k-row lookup, not a scan."""
    v = F.col(vec_col).cast("array<double>")
    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(_centroid_dists(v, centroids)).alias("cidx", "dist"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("cidx").asc())
    probe = (
        qd.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", (F.col("cidx") + 1).alias("centroid_id"))
    )
    probed_ids = sorted({int(r.centroid_id)
                         for r in probe.select("centroid_id").distinct().collect()})
    codes = (
        spark.read.option("basePath", path).parquet(path)
        .filter(F.col("centroid_id").isin(probed_ids))
        .select(F.col(id_col), "pq_code", "centroid_id")
    )
    scored = _adc_scores(codes, queries, codebooks, id_col, "pq_code", vec_col)
    # restrict each query to ITS probed partitions (the union scan above
    # reads the union of all queries' partitions) BEFORE ranking, so the
    # top-k window never sees out-of-probe candidates
    allowed = (
        codes.select(F.col(id_col).alias("corpus_id"), "centroid_id")
        .join(F.broadcast(probe), "centroid_id")
        .select("query_id", "corpus_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("corpus_id").asc())
    return (
        scored.join(allowed, ["query_id", "corpus_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "approx_dist", "rank")
    )


def adc_dist_portable(qvec: Column, code: Column, codebooks) -> Column:
    """Engine-portable ADC distance (the SQL-twinnable form of
    :func:`_adc_scores`' numpy LUT):

        dist = sum_s round(||q_s - codebook[s][code_s]||^2, 9)

    with the per-subspace squared-L2 as a sequential ``zip_with`` +
    ``aggregate`` fold (same element order as :func:`pq_encode` /
    DuckDB's ``list_sum``) and the subspace terms added LEFT TO RIGHT —
    every float op has a fixed order, so a SQL oracle computes the
    bit-identical double.  ``code`` holds 0-based codes (the
    :func:`pq_encode` convention).

    Cost shape: evaluates the k_cb candidate distances per subspace per
    ROW (the code picks one), so it is the right tool for gate-sized /
    verification scans; the production 100 TB path is
    :func:`ivf_pq_topk`'s Arrow kernel, which materializes each query's
    LUT once.
    """
    subdim = len(codebooks[0][0])
    total = None
    for s, book in enumerate(codebooks):
        sub = F.slice(qvec, s * subdim + 1, subdim)
        # same one-parse literal codebook + transform as pq_encode: the
        # candidate-distance folds stay token-identical (bit-equal
        # distances), construction stops being the dominant cost
        dists = F.transform(
            _lit_vecs(book),
            lambda c: F.round(
                F.aggregate(
                    F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, y: acc + y),
                9))
        term = F.element_at(dists, F.element_at(code, s + 1) + F.lit(1))
        total = term if total is None else (total + term)
    return total


def pq_code_near_dup_pairs(codes: DataFrame, k_cb: int,
                           id_col: str = "vec_id",
                           code_col: str = "pq_code",
                           max_diff_codes: int = 1) -> DataFrame:
    """Near-duplicate pairs in PQ-CODE space: pairs whose code arrays
    differ in at most ``max_diff_codes`` subspaces — byte-domain
    (embedding/image) dedup composed from two existing pieces:
    :func:`pq_encode` compresses each vector to ``m`` code bytes, and
    :func:`~hazelcast_jet_spark.operators.dedup.hamming_near_dup_pairs`
    finds close signatures without any pairwise scan.

    The bridge is a ONE-HOT bit packing: subspace ``s`` with code ``c``
    sets bit ``s*k_cb + c``, so two rows differing in exactly ``d``
    subspaces differ in exactly ``2*d`` bits — "<= d differing codes"
    becomes "hamming <= 2*d" EXACTLY (no slack), and the rotated-band
    pigeonhole probe applies unchanged.  Requires ``m*k_cb <= 63``
    (bigint signature convention).

    Returns ``(id_a, id_b, n_diff_codes)`` with ``id_a < id_b``.
    Scale shape: inherited from hamming_near_dup_pairs — the shuffle
    carries (id, band, bandbits) longs; candidates share a band bucket;
    no cross join.
    """
    probe = codes.select(F.size(code_col).alias("m")).first()
    if probe is None:  # empty input: no pairs, typed empty result
        return codes.sparkSession.createDataFrame(
            [], "id_a long, id_b long, n_diff_codes int")
    m = probe["m"]
    bits = m * k_cb
    if bits > 63:
        raise ValueError(
            f"m*k_cb = {bits} exceeds the 63-bit bigint signature "
            f"convention of hamming_near_dup_pairs")
    from hazelcast_jet_spark.operators.dedup import hamming_near_dup_pairs

    sig = F.lit(0).cast("bigint")
    for s in range(m):
        # SQL shiftleft accepts an expression shift amount (the PySpark
        # wrapper does not): bit s*k_cb + code_s of the one-hot signature
        sig = sig.bitwiseOR(F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"{s * k_cb} + element_at(`{code_col}`, {s + 1}))"))
    packed = codes.select(F.col(id_col).alias("id"), sig.alias("sig"))
    pairs = hamming_near_dup_pairs(
        packed, id_col="id", sig_col="sig", bits=bits,
        hamming=2 * max_diff_codes)
    return pairs.select(
        "id_a", "id_b",
        (F.col("hamming_dist") / 2).cast("int").alias("n_diff_codes"))


def hard_negative_topk(corpus: DataFrame, anchors: DataFrame, k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    anchor, the ``k`` most-similar corpus vectors with a DIFFERENT
    label — the negatives that actually teach a margin (random
    negatives are trivially far; these sit just across the boundary).
    Complements :func:`~hazelcast_jet_spark.operators.sampling.
    negative_sample`'s random pairing with a similarity-aware pick.

    Same contract and plan as :func:`cosine_topk` (broadcast anchors,
    map-only scan, per-anchor window with the (sim desc, id asc)
    tiebreak) plus the label-mismatch predicate pushed into the join —
    at 100 TB, swap the corpus side for an ANN candidate stage
    (:func:`ann_topk` / :func:`ivf_pq_topk`) and keep the re-rank.

    Returns ``(query_id, corpus_id, anchor_label, negative_label,
    cos_sim, rank)``.
    """
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).alias("cvec"),
                      F.col(label_col).alias("negative_label"))
    q = anchors.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"),
                       F.col(label_col).alias("anchor_label"))
    cos6 = _cosine6_udf()
    scored = (
        c.join(F.broadcast(q),
               (F.col("corpus_id") != F.col("query_id"))
               & (F.col("negative_label") != F.col("anchor_label")))
        .select("query_id", "corpus_id", "anchor_label", "negative_label",
                cos6(F.col("qvec").cast("array<double>"),
                     F.col("cvec").cast("array<double>")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "anchor_label", "negative_label",
                "cos_sim", "rank")
    )


def mmr_select(corpus: DataFrame, queries: DataFrame, k: int = 3,
               pool: int = 10, lam: float = 0.7,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    per query, greedily pick ``k`` results trading relevance against
    redundancy —

        score(c) = lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)

    — the diversified-retrieval step of a data-selection pipeline
    (near-identical top hits waste a training-data budget; MMR spends
    it on coverage).

    Plan shape: the candidate pool is the top-``pool`` by relevance
    (:func:`cosine_topk` contract — broadcast queries, map-only scan),
    after which EVERYTHING operates on pool-sized frames: one
    pool x pool pair-similarity table per query, then ``k`` unrolled
    greedy steps (joins + one argmax window each) over at most
    ``pool`` rows per query.  The corpus is scanned once; the greedy
    recursion never touches it again.  ``k`` and ``pool`` are plan
    constants (the plan grows with k), which is the right trade for
    retrieval-sized k.

    Determinism: relevance and pair similarities are round-6 cosines
    (the gate convention), the score is a fixed-order IEEE expression,
    and every argmax breaks ties by ``corpus_id`` ascending — a SQL
    oracle unrolling the same steps reproduces the selection exactly.

    Returns ``(query_id, corpus_id, step)`` with step 1..k.
    """
    if k < 1 or pool < k:
        raise ValueError("need k >= 1 and pool >= k")
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    cos6 = _cosine6_udf()
    scored = (
        c.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id", "cvec",
                cos6(F.col("qvec").cast("array<double>"),
                     F.col("cvec").cast("array<double>")).alias("rel"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("corpus_id").asc())
    cand = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= pool)
            .select("query_id", "corpus_id", "cvec", "rel")
            .localCheckpoint())
    a = cand.select("query_id", F.col("corpus_id").alias("id_a"),
                    F.col("cvec").alias("va"))
    b = cand.select("query_id", F.col("corpus_id").alias("id_b"),
                    F.col("cvec").alias("vb"))
    psim = (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("query_id", "id_a", "id_b",
                cos6(F.col("va").cast("array<double>"),
                     F.col("vb").cast("array<double>")).alias("sim"))
        .localCheckpoint()
    )
    rel_only = cand.select("query_id", "corpus_id", "rel")
    sel = (
        rel_only.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "corpus_id", F.lit(1).alias("step"))
    )
    lam_c, inv_c = F.lit(float(lam)), F.lit(float(1 - lam))
    for step in range(2, k + 1):
        remaining = (
            rel_only.join(sel.select("query_id",
                                     F.col("corpus_id").alias("__sel")),
                          "query_id")
            .filter(F.col("corpus_id") != F.col("__sel"))
            .groupBy("query_id", "corpus_id", "rel")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") == step - 1)   # not selected in ANY step
            .drop("__n")
        )
        mscore = (
            remaining
            .join(sel.select("query_id", F.col("corpus_id").alias("id_b")),
                  "query_id")
            .join(psim.select("query_id",
                              F.col("id_a").alias("corpus_id"),
                              "id_b", "sim"),
                  ["query_id", "corpus_id", "id_b"])
            .groupBy("query_id", "corpus_id", "rel")
            .agg(F.max("sim").alias("__ms"))
            .select("query_id", "corpus_id",
                    (lam_c * F.col("rel") - inv_c * F.col("__ms"))
                    .alias("__score"))
        )
        ws = Window.partitionBy("query_id").orderBy(
            F.col("__score").desc(), F.col("corpus_id").asc())
        nxt = (
            mscore.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("query_id", "corpus_id", F.lit(step).alias("step"))
        )
        sel = sel.unionByName(nxt).localCheckpoint()
    return sel.orderBy("query_id", "step")


def truncated_cosine_topk(corpus: DataFrame, queries: DataFrame, dims: int,
                          k: int = 5, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k over the FIRST ``dims`` dimensions only — the
    evaluation half of Matryoshka-style dimension truncation (Kusupati
    et al. 2022): would storing a prefix of each embedding preserve the
    neighborhoods?  Compare against :func:`cosine_topk` on the full
    vectors to get recall@k per truncation width; at 100 TB, halving
    stored dims halves every ANN scan's bytes, so this recall curve is
    the sizing decision.

    Same contract/plan as cosine_topk (broadcast queries, map-only
    scan, (sim desc, id asc) window); the slice happens before the
    Arrow kernel so only ``dims`` floats per row are touched.
    """
    if dims < 1:
        raise ValueError("dims must be >= 1")
    sl = lambda c: F.slice(F.col(c).cast("array<double>"), 1, dims)
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      sl(vec_col).alias("cvec"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       sl(vec_col).alias("qvec"))
    cos6 = _cosine6_udf()
    scored = (
        c.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id",
                cos6(F.col("qvec"), F.col("cvec")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def rbo_weights(depth: int, p: float = 0.9) -> list:
    """Suffix weights of finite-prefix RBO: ``W[j] = sum_{d=j}^{depth}
    p^(d-1) / d`` for j = 1..depth, each rounded to 12 dp and returned
    as :class:`decimal.Decimal` so both engines sum them exactly."""
    import decimal

    raw = [0.0] * (depth + 2)
    for d in range(depth, 0, -1):
        raw[d] = raw[d + 1] + (p ** (d - 1)) / d
    return [decimal.Decimal(repr(round(raw[j], 12)))
            for j in range(1, depth + 1)]


def rbo_overlap(
    rank_a: DataFrame,
    rank_b: DataFrame,
    depth: int,
    p: float = 0.9,
    query_col: str = "query_id",
    item_col: str = "corpus_id",
    rank_col: str = "rank",
    round_digits: int = 6,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010), finite-prefix
    form — the graded similarity of two RANKINGS (ANN vs exact, two
    model versions, yesterday's top-k vs today's): unlike recall@k it
    rewards agreeing EARLY, with geometric patience ``p``:

        RBO = (1 - p) * sum_{d=1..depth} p^(d-1) * |A_d ∩ B_d| / d

    An item ranked ``ra`` in A and ``rb`` in B joins every prefix
    intersection from ``m = max(ra, rb)`` on, so its total contribution
    is the closed-form suffix weight ``W[m]`` (:func:`rbo_weights`) —
    the double sum collapses to ONE weight lookup per matched item.

    Plan at scale: one equi-join of two depth-bounded rank tables on
    (query, item), a literal-array weight lookup, one per-query
    DECIMAL-exact aggregate — the rankings' source corpora are never
    touched.  Weights are pre-rounded Decimal literals, so the sum is
    order-free and engine-identical.

    Returns ``(query_col, n_common, rbo)`` per query of ``rank_a``
    (queries with disjoint rankings score 0).
    """
    ws = rbo_weights(depth, p)
    warr = F.array(*[F.lit(w) for w in ws])
    a = rank_a.filter(F.col(rank_col) <= depth).select(
        F.col(query_col), F.col(item_col), F.col(rank_col).alias("__ra"))
    b = rank_b.filter(F.col(rank_col) <= depth).select(
        F.col(query_col), F.col(item_col), F.col(rank_col).alias("__rb"))
    matched = a.join(b, [query_col, item_col]).select(
        query_col,
        F.element_at(warr, F.greatest("__ra", "__rb").cast("int"))
        .alias("__w"))
    per_q = matched.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("__w").alias("__ws"))
    base = rank_a.select(query_col).distinct()
    return (
        base.join(per_q, query_col, "left")
        .select(
            query_col,
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.round(F.lit(1.0 - p)
                    * F.coalesce(F.col("__ws").cast("double"), F.lit(0.0)),
                    round_digits).alias("rbo"))
        .orderBy(query_col)
    )


def embedding_norm_stats(df: DataFrame, vec_col: str = "embedding",
                         group_col: str = "label",
                         round_digits: int = 6) -> DataFrame:
    """Per-group L2-norm distribution of an embedding column — the
    pre-indexing sanity check: un-normalized vectors silently break the
    cosine/inner-product interchange every ANN index assumes, and a
    shifted norm distribution in one group flags a bad encoder batch or
    mixed embedding versions long before recall degrades.

    Map-only squared-norm fold (the l2_assign convention: fold in
    double, round to 9 before sqrt so the value is engine-portable),
    then ONE per-group aggregate: exact percentiles + extrema + a
    decimal-exact mean.

    Returns ``(group, n_vecs, p50_norm, p90_norm, min_norm, max_norm,
    mean_norm)`` ordered by group.
    """
    sq = F.aggregate(F.col(vec_col).cast("array<double>"), F.lit(0.0),
                     lambda acc, v: acc + v * v)
    nrm = F.round(F.sqrt(F.round(sq, 9)), round_digits)
    base = (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(group_col).alias("group"), nrm.alias("__n")))
    x = F.col("__n")
    cnt = F.count(F.lit(1))
    return base.groupBy("group").agg(
        cnt.alias("n_vecs"),
        (F.round(F.percentile(x, F.lit(0.5)), round_digits) + F.lit(0.0))
        .alias("p50_norm"),
        (F.round(F.percentile(x, F.lit(0.9)), round_digits) + F.lit(0.0))
        .alias("p90_norm"),
        F.min(x).alias("min_norm"),
        F.max(x).alias("max_norm"),
        (F.round(F.sum(x.cast("decimal(18,12)")).cast("double")
                 / cnt.cast("double"), round_digits) + F.lit(0.0))
        .alias("mean_norm"),
    ).orderBy("group")


def rrf_fuse(rank_a: DataFrame, rank_b: DataFrame, k: int = 5,
             c: int = 60, round_digits: int = 6) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of two
    ranked retrieval lists: ``score(d) = Σ_lists 1 / (c + rank_d)`` with
    a document absent from a list contributing 0 — the standard
    hybrid-retrieval combiner (dense + sparse, full-dim + truncated)
    that needs no score calibration because it only consumes RANKS.

    Inputs are ``(query_id, corpus_id, rank)`` frames (the cosine_topk /
    bm25 output shape).  The fusion is one full-outer join of two
    already-k-bounded lists per query — the expensive part is producing
    the input rankings, never the fusion.  Scores round before the final
    ranking so the fused order (ties → corpus_id) is engine-identical.

    Returns ``(query_id, corpus_id, rrf_score, fused_rank)`` top-``k``
    per query, ordered.
    """
    a = rank_a.select("query_id", "corpus_id", F.col("rank").alias("__ra"))
    b = rank_b.select("query_id", "corpus_id", F.col("rank").alias("__rb"))
    j = a.join(b, ["query_id", "corpus_id"], "full_outer")
    term = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(c)) + F.col(r).cast("double")),
        F.lit(0.0))
    score = (F.round(term("__ra") + term("__rb"), round_digits)
             + F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("corpus_id").asc())
    return (j.select("query_id", "corpus_id", score.alias("rrf_score"))
            .withColumn("fused_rank", F.row_number().over(w))
            .filter(F.col("fused_rank") <= k)
            .orderBy("query_id", "fused_rank"))


def embedding_isotropy(df: DataFrame, vec_col: str = "embedding",
                       group_col: str = "label",
                       round_digits: int = 6) -> DataFrame:
    """Per-group isotropy profile of an embedding column: the norm of
    the mean vector versus the mean of the norms,

        anisotropy = ||mean(v)|| / mean(||v||)  in [0, 1],

    the "common-direction" diagnostic (Ethayarajh 2019: contextual
    embeddings are anisotropic — a large shared component makes all
    cosines look alike and crushes ANN contrast; ~0 = isotropic cloud,
    ~1 = all vectors point one way).  A group whose ratio jumps flags
    an encoder batch that needs centering/whitening before indexing.

    Scale shape: one posexplode → one (group, dim) aggregate with
    DECIMAL(38,12) coordinate sums (order-free exact), then the
    ||mean|| fold over the tiny (group, dim) table; per-vector norms
    reuse the map-only l2 fold convention (double fold, round 9 before
    sqrt) and decimal-accumulate into the group mean.  The corpus
    shuffles once, on the (group, dim) key.

    Returns ``(group, n_vecs, dim, mean_vec_norm, mean_norm,
    anisotropy)`` ordered by group.
    """
    vec = F.col(vec_col).cast("array<double>")
    base = (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(group_col).alias("group"), vec.alias("__v")))
    # per-vector norm: the embedding_norm_stats fold convention
    sq = F.aggregate(F.col("__v"), F.lit(0.0), lambda a, v: a + v * v)
    nrm = F.round(F.sqrt(F.round(sq, 9)), round_digits)
    per_group = base.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum(nrm.cast("decimal(28,12)")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("__mean_norm"))
    dims = (base.select("group", F.posexplode("__v").alias("pos", "val"))
            .groupBy("group", "pos")
            .agg((F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("__m")))
    mean_vec = dims.groupBy("group").agg(
        F.count(F.lit(1)).alias("dim"),
        F.sum((F.col("__m") * F.col("__m")).cast("decimal(38,12)"))
        .cast("double").alias("__msq"))
    mv_norm = F.round(F.sqrt(F.round(F.col("__msq"), 9)), round_digits)
    return (per_group.join(mean_vec, "group")
            .select("group", "n_vecs", "dim",
                    (mv_norm + F.lit(0.0)).alias("mean_vec_norm"),
                    (F.round(F.col("__mean_norm"), round_digits)
                     + F.lit(0.0)).alias("mean_norm"),
                    (F.round(mv_norm / F.col("__mean_norm"), round_digits)
                     + F.lit(0.0)).alias("anisotropy"))
            .orderBy("group"))


def ndcg_discounts(k: int) -> list[float]:
    """The NDCG position discounts ``1/log2(i+1)`` for i=1..k, computed
    in PYTHON so no engine evaluates a log — the literals are
    bit-identical in Spark and any SQL oracle (the BENFORD_EXPECTED
    convention)."""
    import math

    return [1.0 / math.log2(i + 1) for i in range(1, k + 1)]


def ndcg_ideal_prefix(k: int) -> list[float]:
    """``ideal[n]`` = DCG of a perfect ranking holding the n best grades
    (grade k at position 1 … grade k−n+1 at position n), n=1..k — the
    IDCG denominators as exact Python-computed literals (fixed-order
    left-to-right sum, replayed identically by both engines as a
    literal)."""
    disc = ndcg_discounts(k)
    out, acc = [], 0.0
    for i in range(1, k + 1):
        acc = acc + float(k - i + 1) * disc[i - 1]
        out.append(acc)
    return out


def ndcg_at_k(candidates: DataFrame, truth: DataFrame, k: int,
              query_col: str = "query_id", item_col: str = "corpus_id",
              rank_col: str = "rank",
              round_digits: int = 6) -> DataFrame:
    """NDCG@k (Järvelin & Kekäläinen 2002) of a candidate ranking
    against a graded ground-truth ranking — the order-aware quality
    metric completing recall@k (recall says WHETHER the neighbors were
    found; NDCG says whether they were found IN THE RIGHT ORDER, with
    misplacements near the top penalized hardest).

    Grades come from the truth ranking itself: the item at truth rank t
    has relevance ``k − t + 1`` (graded, monotone); candidates outside
    the truth top-k score 0.

        DCG  = Σ_i rel(cand_i) · disc_i,   disc_i = 1/log2(i+1)
        NDCG = DCG / ideal[n_truth]

    Discounts and the ideal-DCG prefix table are Python-computed
    literals (NO engine logs — the Benford convention); per-query DCG
    terms accumulate in DECIMAL(28,12) so the ≤k-term sum is order-free
    and engine-portable.

    Plan: one equi-join of the two bounded (queries × k) rank lists on
    (query, item), two thin per-query aggregates — cost is O(queries·k)
    regardless of corpus size.  Returns ``(query_col, n_truth, n_hits,
    ndcg)`` ordered by query.

    Ranks outside ``[1, k]`` on either side are filtered out up front —
    the @k contract only scores the top-k prefix, and under Spark 4's
    ANSI mode an unfiltered rank > k would otherwise surface as an
    opaque ARRAY_INDEX_OUT_OF_BOUNDS from the discount lookup instead
    of the documented "ignored beyond k" semantics (ADVICE r11).
    """
    if k < 1:
        raise ValueError(f"ndcg_at_k requires k >= 1, got {k}")
    disc = F.array(*[F.lit(d) for d in ndcg_discounts(k)])
    ideal = F.array(*[F.lit(v) for v in ndcg_ideal_prefix(k)])
    c = (candidates.select(F.col(query_col).alias("__q"),
                           F.col(item_col).alias("__i"),
                           F.col(rank_col).alias("__r"))
         .filter(F.col("__r").between(1, k)))
    t = (truth.select(F.col(query_col).alias("__q"),
                      F.col(item_col).alias("__i"),
                      F.col(rank_col).alias("__tr"))
         .filter(F.col("__tr").between(1, k)))
    joined = c.join(t, ["__q", "__i"], "left")
    rel = (F.lit(k) - F.col("__tr") + F.lit(1)).cast("double")
    term = rel * F.element_at(disc, F.col("__r").cast("int"))
    dcg_tbl = joined.groupBy("__q").agg(
        F.count("__tr").alias("n_hits"),
        F.coalesce(F.sum(term.cast("decimal(28,12)")).cast("double"),
                   F.lit(0.0)).alias("__dcg"))
    nt_tbl = t.groupBy("__q").agg(F.count(F.lit(1)).alias("n_truth"))
    # LEFT join: a query whose candidates were all filtered (or absent)
    # scores 0, it does not vanish from the result — dropping it would
    # mask an upstream ranking bug
    return (nt_tbl.join(dcg_tbl, "__q", "left")
            .select(F.col("__q").alias(query_col), "n_truth",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    (F.round(F.coalesce(F.col("__dcg"), F.lit(0.0))
                             / F.element_at(ideal,
                                            F.col("n_truth").cast("int")),
                             round_digits) + F.lit(0.0)).alias("ndcg"))
            .orderBy(query_col))
