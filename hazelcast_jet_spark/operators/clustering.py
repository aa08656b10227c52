"""K-means clustering over an embedding column — the iterative-algorithm
representative of the beyond-reference LLM-pipeline surface (semantic
dedup buckets, corpus domain analysis, IVF centroid training).

Lloyd's algorithm, Spark-first:

- **assign** — centroids are a tiny k x d matrix, broadcast to every
  task; distances are one numpy matmul per Arrow batch (pandas UDF), so
  the corpus is never shuffled to assign it.
- **update** — new centroids via ``posexplode`` -> ``groupBy(cluster,
  pos).avg`` (two-level partial aggregation, map-side combined by
  Catalyst) -> k x d rows collected to the driver.  Only k*d doubles ever
  reach the driver, independent of corpus size.

Per iteration that is ONE shuffle of (cluster, pos, partial-sums) — the
minimum any distributed k-means does.  `ivf_build_index`
(operators/similarity.py) consumes the same centroid layout.

Deterministic: init takes the first k vectors in ``id_col`` order, and
ties in argmin break toward the lower cluster id, so repeated runs give
identical assignments (float summation order inside avg() may differ in
ulps across cluster layouts; assignments are stable away from exact
midpoints).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from hazelcast_jet_spark.operators.graph_local import unpersist_checkpoint

__all__ = ["kmeans_fit", "kmeans_fit_unrolled", "kmeans_assign",
           "l2_assign", "train_ivf_centroids", "pca_fit", "pca_project",
           "embedding_centroid_drift", "fisher_separation",
           "centroid_distances"]


# memoized by centroid bytes: a rebuilt-per-call pandas_udf is a new python
# function object, which makes each query plan novel and defeats the JVM's
# analysis/codegen caches (same rationale as similarity._KERNEL_CACHE)
_KERNEL_CACHE: dict = {}


def _assign_udf(centroids: np.ndarray):
    c = centroids.astype("float64")
    key = ("assign", c.shape, c.tobytes())
    cached = _KERNEL_CACHE.get(key)
    if cached is not None:
        return cached
    c_sq = (c * c).sum(axis=1)  # |c|^2 term; |x|^2 is constant per row

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        x = np.stack(vecs.to_numpy())  # (n, d)
        # argmin over squared distance == argmin over (|c|^2 - 2 x.c)
        d = c_sq[None, :] - 2.0 * (x @ c.T)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    _KERNEL_CACHE[key] = assign
    return assign


def kmeans_assign(df: DataFrame, centroids: np.ndarray,
                  vec_col: str = "embedding") -> DataFrame:
    """Add a ``cluster`` column: nearest centroid by L2 distance."""
    return df.withColumn("cluster", _assign_udf(centroids)(F.col(vec_col)))


def l2_assign(df: DataFrame, centroids, vec_col: str = "embedding",
              out_col: str = "cluster", dist_col: str | None = None) -> DataFrame:
    """Nearest-centroid assignment as a pure Column expression over FIXED
    literal centroids — the SQL-twinnable form of :func:`kmeans_assign`.

    Map-only: the k×d literal matrix travels inside the task binary (no
    broadcast, no shuffle), and the whole argmin runs in whole-stage
    codegen.  Squared L2 distances round to 9 decimals before the argmin
    so the first-index tie-break lands identically in any engine
    computing the same rounded doubles (same convention as
    similarity._centroid_dists).  `kmeans_assign` (Arrow matmul,
    unrounded float64) is the kernel the iterative fit uses; away from
    1e-9-scale ties the two agree.
    """
    # ONE SQL parse for the k x d literal matrix + a transform whose
    # per-centroid fold is token-identical to the unrolled form (same
    # zip_with squares, same sequential adds, same round-9), so every
    # distance is bit-equal while expression construction drops from
    # k*d py4j round trips to one parse (the r12 _lit_vecs discipline;
    # kmeans_fit_unrolled builds this THREE times per fit)
    from hazelcast_jet_spark.operators.similarity import _lit_vecs

    dists = F.transform(
        _lit_vecs([[float(x) for x in c] for c in centroids]),
        lambda cv: F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"),
                    cv,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, y: acc + y,
            ),
            9,
        ),
    )
    cluster = (F.array_position(dists, F.array_min(dists)) - F.lit(1)).cast("int")
    out = df.withColumn(out_col, cluster)
    if dist_col is not None:
        # rounded squared L2 to the assigned centroid — the outlier /
        # assignment-confidence signal, free from the same dists array
        out = out.withColumn(dist_col, F.array_min(dists))
    return out


def _min_dist_udf(centroids: np.ndarray):
    """Min squared L2 distance from each vector to the chosen centroids —
    the farthest-point init's scoring kernel (same broadcast-matrix Arrow
    matmul shape as assignment)."""
    c = centroids.astype("float64")
    key = ("mindist", c.shape, c.tobytes())
    cached = _KERNEL_CACHE.get(key)
    if cached is not None:
        return cached
    c_sq = (c * c).sum(axis=1)

    @F.pandas_udf("double")
    def mindist(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="float64")
        x = np.stack(vecs.to_numpy())
        x_sq = (x * x).sum(axis=1)
        d = x_sq[:, None] + c_sq[None, :] - 2.0 * (x @ c.T)
        return pd.Series(np.min(d, axis=1))

    _KERNEL_CACHE[key] = mindist
    return mindist


def _farthest_init(df: DataFrame, k: int, vec_col: str,
                   id_col: str) -> np.ndarray:
    """Deterministic farthest-first traversal (Gonzalez 1985 k-center
    2-approx — the RNG-free cousin of k-means++ D² seeding): start from
    the min-id vector, then repeatedly take the vector farthest from the
    chosen set (ties → lower id).  Each round is one scan + a
    TakeOrderedAndProject of ONE row — k-1 small jobs, no shuffle, fully
    reproducible on any partitioning."""
    first = df.select(id_col, vec_col).orderBy(id_col).limit(1).collect()
    if not first:
        raise ValueError("empty input")
    chosen = [np.array(first[0][1], dtype="float64")]
    for _ in range(1, k):
        mud = _min_dist_udf(np.stack(chosen))
        r = (
            df.select(id_col, F.col(vec_col).alias("_v"))
            .withColumn("_d", mud(F.col("_v")))
            .orderBy(F.col("_d").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()[0]
        )
        chosen.append(np.array(r["_v"], dtype="float64"))
    return np.stack(chosen)


def kmeans_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 10,
    tol: float = 1e-6,
    init: str = "first",
) -> tuple[np.ndarray, DataFrame]:
    """Fit k-means; returns (centroids k x d, df with ``cluster`` column).

    Stops early when no centroid moves more than ``tol`` (L2).  Empty
    clusters keep their previous centroid (deterministic, no resampling).

    ``init``: ``"first"`` seeds with the k lowest-id vectors (cheapest,
    one job); ``"farthest"`` runs the deterministic farthest-first
    traversal — k-1 extra one-row jobs, but seeds spread across the data
    so a clustered id-order (e.g. first k ids all from one crawl shard)
    cannot collapse the fit into one region.
    """
    # persist for the duration of the fit: init (especially farthest) and
    # every iteration re-read the input; without this the full source
    # lineage — scans, casts, normalization — re-executes each time
    from pyspark import StorageLevel

    if init not in ("first", "farthest"):
        raise ValueError(f"init must be first|farthest, got {init!r}")
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if init == "farthest":
            cent = _farthest_init(df, k, vec_col, id_col)
        else:
            init_rows = (
                df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
            )
            cent = np.array([r[1] for r in init_rows], dtype="float64")
            if len(cent) < k:
                raise ValueError(f"need >= {k} rows to init {k} clusters")
        for _ in range(max_iter):
            assigned = kmeans_assign(df, cent, vec_col)
            sums = (
                assigned.select("cluster", F.posexplode(vec_col).alias("pos", "v"))
                .groupBy("cluster", "pos")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_cent = cent.copy()
            counts = np.zeros(k, dtype="int64")
            for r in sums:
                new_cent[r["cluster"], r["pos"]] = r["s"] / r["n"]
                counts[r["cluster"]] = r["n"]
            shift = float(np.sqrt(((new_cent - cent) ** 2).sum(axis=1)).max())
            cent = new_cent
            if shift <= tol:
                break
        return cent, kmeans_assign(df, cent, vec_col)
    finally:
        # marks the cache droppable; the returned frame's lineage stays
        # valid and recomputes from source when next used
        df.unpersist()


def kmeans_fit_unrolled(
    df: DataFrame,
    k: int,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[np.ndarray, DataFrame]:
    """Engine-portable k-means fit: a FIXED number of Lloyd iterations,
    seeded with the ``k`` lowest-id vectors, where every float operation
    has a fixed, replayable order — assignment via :func:`l2_assign`
    (rounded-distance argmin, first-index tie-break) and centroid
    updates as order-free DECIMAL(38,12) sums cast to double.  An SQL
    oracle can therefore replay the WHOLE fit, iteration by iteration
    (the batch-analytics counterpart of :func:`kmeans_fit`, whose
    float-sum updates are partitioning-dependent and honestly
    pytest-only).  Empty clusters keep their previous centroid.

    At scale the per-iteration cost is one map-only assignment plus one
    (cluster, dim)-bounded aggregate — k*d rows to the driver per
    iteration, the same bounded-seed collect pattern as
    train_ivf_centroids (reference analog: the AggregateOperations
    fold over a grouped stage, AggregateOperations.java:94).

    Returns ``(centroids k x d, df with 'cluster' column from the final
    centroids)``.
    """
    from pyspark import StorageLevel

    seed_rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    cent = np.array([r[1] for r in seed_rows], dtype="float64")
    if len(cent) < k:
        raise ValueError(f"need >= {k} rows to init {k} clusters")
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for _ in range(iters):
            assigned = l2_assign(df, cent, vec_col)
            sums = (
                assigned.select(
                    "cluster",
                    F.posexplode(F.col(vec_col).cast("array<double>"))
                    .alias("pos", "v"))
                .groupBy("cluster", "pos")
                .agg(F.sum(F.col("v").cast("decimal(38,12)")).alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_cent = cent.copy()
            for r in sums:
                # float(Decimal) is correctly rounded — the same
                # nearest-double the engines produce for
                # CAST(decimal AS DOUBLE); division by the exact int
                # count is one more deterministic double op.
                new_cent[r["cluster"], r["pos"]] = float(r["s"]) / r["n"]
            cent = new_cent
        return cent, l2_assign(df, cent, vec_col)
    finally:
        df.unpersist()


def train_ivf_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 10,
    init: str = "first",
) -> list[list[float]]:
    """Spherical k-means centroids for the IVF index
    (operators/similarity.ivf_build_index / ivf_assign).

    IVF partitions by COSINE distance, so vectors are L2-normalized
    before the fit — Lloyd's in L2 on the unit sphere is then cosine
    clustering.  Returns plain ``list[list[float]]``, the literal
    centroid format the IVF functions embed in the plan (k x d doubles —
    tiny, travels with the task binary, no broadcast needed).

    Train on a deterministic sample at 100 TB (e.g.
    ``operators.sampling.stratified_sample``); k-means quality needs only
    ~1000 x k vectors, not the corpus.
    """
    norm = (
        df.select(
            id_col,
            F.col(vec_col).cast("array<double>").alias(vec_col),
        )
        .withColumn(
            "_n",
            # zero-norm guard: an all-zero embedding would otherwise divide
            # by 0 and poison centroid averages/argmins with NaN/Inf
            F.greatest(
                F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, y: a + y * y)),
                F.lit(1e-12),
            ),
        )
        .select(
            id_col,
            F.transform(vec_col, lambda x: x / F.col("_n")).alias(vec_col),
        )
    )
    cent, _ = kmeans_fit(norm, k, vec_col=vec_col, id_col=id_col,
                         max_iter=max_iter, init=init)
    return cent.tolist()


def pca_fit(df: DataFrame, vec_col: str = "embedding", n_components: int = 2,
            n_merge: int = 64):
    """Distributed PCA fit over an embedding column — corpus drift
    analysis, visualization axes, and decorrelated features for the
    similarity operators, computed without ever shuffling a vector.

    Two-level moment aggregation (the RowMatrix Gramian shape):

    1. **map-only partials** — each input partition folds its Arrow
       batches into ONE ``(n, Σx, Σxxᵀ)`` row (d + d² doubles, numpy),
       so the exchange carries #partitions tiny rows, not the corpus;
    2. **salted merge** — partials hash into ``n_merge`` groups, each
       summed by one task; only ``n_merge`` rows ever reach the driver
       (at d=64 that is 64 × ~33 KB regardless of corpus size).

    The driver finishes with the d×d eigendecomposition (numpy ``eigh``
    — d is embedding width, trivially in-memory).  Component signs are
    fixed deterministically (largest-|loading| element positive, ties →
    lower index) so repeated runs and different partitionings agree up
    to float summation order.

    Returns ``(mean, components, explained_var)``: ``components`` is
    ``n_components × d``, rows ordered by descending eigenvalue.  Feed
    to :func:`pca_project` (map-only Column expression) to score.
    """
    import pandas as pd

    d_probe = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if d_probe is None:
        raise ValueError("pca_fit on an empty DataFrame")
    dim = d_probe["d"]

    src = df.select(F.col(vec_col).cast("array<double>").alias("v"))

    def _partial(batches):
        n = 0
        s = np.zeros(dim)
        ss = np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["v"].to_numpy())
            n += x.shape[0]
            s += x.sum(axis=0)
            ss += x.T @ x
        if n:
            yield pd.DataFrame({"n": [n], "s": [s], "ss": [ss.ravel()]})

    partials = src.mapInPandas(
        _partial, "n long, s array<double>, ss array<double>")

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "n": [int(pdf["n"].sum())],
            "s": [np.sum(np.stack(pdf["s"].to_numpy()), axis=0)],
            "ss": [np.sum(np.stack(pdf["ss"].to_numpy()), axis=0)],
        })

    merged = (
        partials.withColumn(
            "salt", F.pmod(F.spark_partition_id(), F.lit(n_merge)))
        .groupBy("salt")
        .applyInPandas(lambda pdf: _merge(pdf.drop(columns=["salt"])),
                       "n long, s array<double>, ss array<double>")
        .collect()
    )
    n = sum(r["n"] for r in merged)
    s = np.sum([np.asarray(r["s"]) for r in merged], axis=0)
    ss = np.sum([np.asarray(r["ss"]) for r in merged], axis=0).reshape(dim, dim)
    mean = s / n
    cov = (ss - np.outer(s, s) / n) / max(n - 1, 1)
    eigval, eigvec = np.linalg.eigh(cov)          # ascending
    order = np.argsort(eigval)[::-1][:n_components]
    comps = eigvec[:, order].T                    # (n_components, d)
    # deterministic sign: the largest-|loading| element of each component
    # is made positive (first such index on ties)
    for j in range(comps.shape[0]):
        i = int(np.argmax(np.abs(comps[j])))
        if comps[j][i] < 0:
            comps[j] = -comps[j]
    return mean, comps, eigval[order]


def pca_project(df: DataFrame, mean, components, vec_col: str = "embedding",
                out_prefix: str = "pc", round_digits: int | None = None) -> DataFrame:
    """Score rows against fitted (or fixed literal) PCA axes — map-only.

    Each component is a pure Column expression ``Σ v[i]·w[i] − c`` where
    ``c = Σ mean[i]·w[i]`` folds to a Python scalar at plan time: the
    weights travel inside the task binary, the fold runs in whole-stage
    codegen, nothing shuffles and nothing is broadcast.  With
    ``round_digits`` the output is a deterministic engine-portable
    function of the inputs (same sequential fold a SQL twin evaluates) —
    the convention :func:`l2_assign` uses for its gate.
    """
    mean = [float(x) for x in mean]
    out = df
    for j, comp in enumerate(components):
        w = [float(x) for x in comp]
        c = 0.0
        for m_i, w_i in zip(mean, w):             # same sequential fold
            c += m_i * w_i
        expr = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"),
                       F.array(*[F.lit(x) for x in w]),
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, y: acc + y,
        ) - F.lit(c)
        if round_digits is not None:
            expr = F.round(expr, round_digits)
        out = out.withColumn(f"{out_prefix}{j + 1}", expr)
    return out


def _l2_lit(vec_col: str, center: list[float], round_digits: int = 9):
    """Rounded squared L2 between a vector column and one LITERAL center
    — the single-centroid slice of :func:`l2_assign`'s distance array
    (same fold order, same half-away rounding, SQL-twinnable)."""
    return F.round(
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.array(*[F.lit(float(x)) for x in center]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ),
        round_digits,
    )


def coreset_kcenter(df: DataFrame, k: int, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    round_digits: int = 9) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — the
    diversity-maximizing data-pruning primitive (Sener & Savarese 2018
    core-set active learning; the selection half of embedding-based
    corpus pruning): start from the lowest-id vector, then repeatedly
    take the point FARTHEST from everything selected so far.  The
    resulting set 2-approximates the optimal k-center cover, i.e. it
    spreads over the embedding space instead of oversampling dense
    modes the way random selection does.

    Determinism contract (gate-portable): distances are squared L2
    ROUNDED to ``round_digits`` at every step (same convention as
    :func:`l2_assign`), the running min-distance is a ``least`` of
    rounded values, and argmax ties break toward the lower id — so any
    engine replaying the arithmetic selects the identical sequence.

    Plan: each of the k−1 iterations is a MAP-ONLY distance update
    against the newest center (a d-double literal riding the task
    binary) followed by a top-1 ``orderBy(desc(min_dist), id)`` —
    TakeOrdered, no full sort.  One vector (d doubles) returns to the
    driver per iteration, independent of corpus size;
    ``localCheckpoint`` per iteration keeps the plan O(1), and each
    iteration frees the checkpoint of the one before (nothing is left
    in executor storage on return).  k is capped
    at 256 — beyond that train IVF/k-means centroids instead.

    Returns ``(sel_order, <id_col>, dist)`` — ``dist`` is the coverage
    distance at selection time (NULL for the seed); fewer than k rows
    when the corpus is smaller.
    """
    if not 1 <= k <= 256:
        raise ValueError("k must be in [1, 256]")
    base = (
        df.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .localCheckpoint()
    )
    first_rows = base.orderBy(id_col).limit(1).collect()
    if not first_rows:
        raise ValueError("empty input")
    first = first_rows[0]
    selected = [(1, first[id_col], None)]
    chosen = [first[id_col]]
    cur = base.withColumn(
        "__m", _l2_lit(vec_col, list(first[vec_col]), round_digits)
    ).localCheckpoint()
    unpersist_checkpoint(base)
    for i in range(2, k + 1):
        cand = (cur.filter(~F.col(id_col).isin(chosen))
                .orderBy(F.desc("__m"), id_col).limit(1).collect())
        if not cand:
            break
        row = cand[0]
        selected.append((i, row[id_col], float(row["__m"])))
        chosen.append(row[id_col])
        prev = cur
        cur = cur.withColumn(
            "__m",
            F.least("__m", _l2_lit(vec_col, list(row[vec_col]),
                                   round_digits)),
        ).localCheckpoint()
        unpersist_checkpoint(prev)
    unpersist_checkpoint(cur)
    spark = df.sparkSession
    from pyspark.sql.types import (DoubleType, IntegerType as _IT,
                                   StructField, StructType)

    schema = StructType([
        StructField("sel_order", _IT(), False),
        StructField(id_col, df.schema[id_col].dataType, True),
        StructField("dist", DoubleType(), True),
    ])
    return spark.createDataFrame(selected, schema)


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> list[tuple]:
    """Per-label mean vectors ("class prototypes") with exact decimal
    per-dimension accumulation: posexplode → one (label, dim) aggregate
    → a LABELS×DIMS-row driver collect (bounded by construction — for
    10 labels × 64 dims that is 640 rows, never data).  Each centroid
    value is ``CAST(decimal_sum AS DOUBLE)/count`` — one correctly
    rounded division, so any engine derives the identical doubles.

    Returns ``[(label, [float, ...]), ...]`` sorted by label.
    """
    per = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
    rows = (
        per.groupBy("label", "pos")
        .agg(F.sum(F.col("v").cast("decimal(28,12)")).alias("s"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], {})[r["pos"]] = float(r["s"]) / r["n"]
    return [
        (lab, [vals[p] for p in range(len(vals))])
        for lab, vals in sorted(by_label.items())
    ]


def label_centroid_confusion(df: DataFrame, label_col: str = "label",
                             vec_col: str = "embedding") -> DataFrame:
    """Nearest-class-centroid confusion counts — the class-separability
    probe of a training-data profile (a dataset whose labels can't even
    be recovered by their own prototypes is noisy or mislabeled):
    every vector is assigned to the nearest per-label mean
    (:func:`label_centroids` exact-decimal prototypes,
    :func:`l2_assign` rounded-L2 argmin with the first-index tie-break
    = lowest label, since the centroid list is label-sorted), and the
    (true, assigned) membership matrix comes back as counts.

    Plan: one bounded centroid aggregate (LABELS×DIMS rows to the
    driver), then a map-only literal-centroid assignment + one count
    aggregate — two scans total, nothing data-sized ever moves.

    Returns ``(label, assigned_label, n_vectors)``.
    """
    cents = label_centroids(df, label_col, vec_col)
    labels = [lab for lab, _ in cents]
    assigned = l2_assign(df, [c for _, c in cents], vec_col=vec_col)
    lab_arr = F.array(*[F.lit(lab) for lab in labels])
    return (
        assigned.withColumn(
            "assigned_label", F.element_at(lab_arr, F.col("cluster") + 1))
        .groupBy(F.col(label_col).alias("label"), "assigned_label")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("label", "assigned_label")
    )


def embedding_standardize(df: DataFrame, vec_col: str = "embedding",
                          out_col: str = "std_embedding",
                          eps: float = 1e-9) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column —
    the feature-scaling step before distance-based ops (k-means, L2
    ANN, coresets) when dimensions carry different scales: one bounded
    moment aggregate (DIMS rows of exact-decimal sum/sumsq to the
    driver, never data), then a map-only ``(x - mean) / std`` with the
    per-dim constants as literals in the task binary.

    ``std`` is the population standard deviation from the exact
    decimal moments (one correctly rounded sqrt per dim);
    near-constant dims (std <= eps) pass through centered but
    unscaled (dividing by ~0 would explode noise).

    Adds ``out_col`` (array<double>); original column untouched.
    """
    per = df.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
    rows = (
        per.groupBy("pos")
        .agg(F.sum(F.col("v").cast("decimal(38,12)")).alias("s"),
             F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
             .alias("s2"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    import math

    stats = {}
    for r in rows:
        n = r["n"]
        mean = float(r["s"]) / n
        var = max(float(r["s2"]) / n - mean * mean, 0.0)
        stats[r["pos"]] = (mean, math.sqrt(var))
    dims = len(stats)
    means = F.array(*[F.lit(stats[p][0]) for p in range(dims)])
    stds = F.array(*[F.lit(stats[p][1]) for p in range(dims)])
    v = F.col(vec_col).cast("array<double>")
    idx = F.sequence(F.lit(1), F.lit(dims))
    out = F.transform(idx, lambda i: F.when(
        F.element_at(stds, i) > F.lit(float(eps)),
        (F.element_at(v, i) - F.element_at(means, i))
        / F.element_at(stds, i),
    ).otherwise(F.element_at(v, i) - F.element_at(means, i)))
    return df.withColumn(out_col, out)


def knn_label_disagreement(df: DataFrame, k: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           label_col: str = "label",
                           queries: DataFrame | None = None) -> DataFrame:
    """Label-noise screening by neighborhood voting (the
    confident-learning-style signal): for every vector, the fraction of
    its k nearest neighbors (round-6 cosine, id tiebreak) carrying a
    DIFFERENT label.  A clean, separable dataset scores low; rows with
    high disagreement are mislabeled or sit on class boundaries — the
    review queue for label audits.

    Plan: the all-pairs scoring uses the corpus AS the query set — at
    profiling sizes this is the exact O(n²/batch) Arrow kernel of
    :func:`~hazelcast_jet_spark.operators.similarity.cosine_topk`; at
    corpus scale swap the neighbor stage for the ANN index
    (ivf_pq_topk shortlist + re-rank) and keep the voting unchanged.
    The vote itself is one bounded aggregate over n·k rows.

    ``queries`` restricts the audited rows (neighbors always come from
    the full ``df``) — the sampled-audit mode.

    Returns ``(id_col, label, n_diff, disagreement)`` with
    ``disagreement = n_diff / k``.
    """
    from hazelcast_jet_spark.operators.similarity import cosine_topk

    nn = cosine_topk(df, queries if queries is not None else df,
                     k=k, id_col=id_col, vec_col=vec_col)
    labels = df.select(F.col(id_col), F.col(label_col))
    q_lab = labels.select(F.col(id_col).alias("query_id"),
                          F.col(label_col).alias("__ql"))
    c_lab = labels.select(F.col(id_col).alias("corpus_id"),
                          F.col(label_col).alias("__cl"))
    voted = (
        nn.join(F.broadcast(q_lab), "query_id")
        .join(F.broadcast(c_lab), "corpus_id")
        .groupBy("query_id", "__ql")
        .agg(F.sum((~F.col("__cl").eqNullSafe(F.col("__ql")))
                   .cast("bigint")).alias("n_diff"))
    )
    return voted.select(
        F.col("query_id").alias(id_col),
        F.col("__ql").alias(label_col),
        "n_diff",
        (F.col("n_diff").cast("double") / F.lit(float(k)))
        .alias("disagreement"),
    )


def anova_f_per_dim(df: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label",
                    round_digits: int = 6) -> DataFrame:
    """One-way ANOVA F statistic per embedding dimension against a
    label — the feature-relevance screen for vector columns (which
    dims actually separate the classes; the continuous-vs-categorical
    companion of :func:`~hazelcast_jet_spark.operators.profile.
    categorical_association`):

        F = (SSB / (g - 1)) / (SSW / (n - g))

    with between/within sums of squares from exact per-(dim, label)
    decimal moments — ONE posexplode aggregate bounded at dims·labels
    rows, then a dims-sized reduce; nothing data-sized after the first
    aggregation.  Per-group and grand means are correctly-rounded
    doubles of exact decimal sums, and SSB/SSW combine them in fixed
    order, so the statistic hashes identically on a SQL oracle.

    Returns ``(pos, n, g, f_stat)`` — NULL f_stat when SSW is 0
    (perfect separation or constant dim: the ratio is degenerate
    either way).
    """
    from pyspark.sql.window import Window

    per = df.select(
        F.col(label_col).alias("__lab"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
    cells = (
        per.groupBy("pos", "__lab")
        .agg(F.sum(F.col("v").cast("decimal(38,12)")).alias("s"),
             F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
             .alias("s2"),
             F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("pos")
    tot_s = F.sum(F.col("s")).over(w)
    tot_n = F.sum(F.col("n")).over(w)
    tot_s2 = F.sum(F.col("s2")).over(w)
    g = F.count(F.lit(1)).over(w)
    gm = tot_s.cast("double") / tot_n
    cm = F.col("s").cast("double") / F.col("n")
    ssb_term = (F.col("n") * (cm - gm) * (cm - gm)).cast("decimal(38,12)")
    per_pos = (
        cells.select(
            "pos", ssb_term.alias("__ssb"),
            tot_s2.alias("__ts2"), tot_s.alias("__ts"),
            tot_n.alias("__tn"), g.alias("__g"))
        .groupBy("pos")
        .agg(F.sum("__ssb").cast("double").alias("ssb"),
             F.first("__ts2").alias("ts2"), F.first("__ts").alias("ts"),
             F.first("__tn").alias("n"), F.first("__g").alias("g"))
    )
    gmean = F.col("ts").cast("double") / F.col("n")
    sst = F.col("ts2").cast("double") - F.col("n") * gmean * gmean
    ssw = sst - F.col("ssb")
    f = (F.col("ssb") / (F.col("g") - F.lit(1))) / (ssw / (F.col("n") - F.col("g")))
    return per_pos.select(
        "pos", F.col("n"), F.col("g"),
        F.round(F.when(ssw > 0, f), round_digits).alias("f_stat"),
    )


def embedding_centroid_drift(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-space drift monitor per label: the L2 distance between
    the exact mean vectors of two deterministic halves of the data
    (even vs odd ids — swap in time/batch for production) — the vector
    twin of the scalar drift family (ks/psi/w1): "has this class's
    representation moved?".

    Centroid sums accumulate as DECIMAL(38,12) per (label, half, dim)
    — order-free, one bounded aggregate (labels × 2 × dims rows to the
    driver, the bounded-seed collect pattern); the distance folds the
    per-dim squared differences in dim order with plain IEEE doubles,
    so an oracle replays it term for term.

    Returns ``(label, n_even, n_odd, drift)`` (NULL drift when a half
    is empty).
    """
    half = (F.col(id_col) % 2 == 0).cast("int").alias("__even")
    sums = (df.select(F.col(label_col).alias("__l"), half,
                      F.posexplode(F.col(vec_col).cast("array<double>"))
                      .alias("__p", "__v"))
            .groupBy("__l", "__even", "__p")
            .agg(F.sum(F.col("__v").cast("decimal(38,12)")).alias("__s"),
                 F.count(F.lit(1)).alias("__n"))
            .collect())
    by_label: dict = {}
    for r in sums:
        d = by_label.setdefault(r["__l"], {0: {}, 1: {}})
        d[r["__even"]][r["__p"]] = (float(r["__s"]) / r["__n"], r["__n"])
    rows = []
    for label in sorted(by_label):
        halves = by_label[label]
        n_even = next(iter(halves[1].values()))[1] if halves[1] else 0
        n_odd = next(iter(halves[0].values()))[1] if halves[0] else 0
        if halves[0] and halves[1]:
            import math

            acc = 0.0
            for p in sorted(halves[1]):
                diff = halves[1][p][0] - halves[0][p][0]
                acc = acc + diff * diff
            # math.sqrt, not **0.5: sqrt is correctly rounded in every
            # engine (pow(x, 0.5) carries no such guarantee)
            drift = round(math.sqrt(acc), round_digits) + 0.0
        else:
            drift = None
        rows.append((label, n_even, n_odd, drift))
    spark = df.sparkSession
    label_t = dict(df.dtypes)[label_col]
    return spark.createDataFrame(
        rows, f"label {label_t}, n_even bigint, n_odd bigint, drift double") \
        .orderBy("label")


def fisher_separation(df: DataFrame, vec_col: str = "embedding",
                      label_col: str = "label",
                      round_digits: int = 6) -> DataFrame:
    """Fisher-style class-separation profile of a labeled embedding
    table: per label the mean within-class scatter and the distance of
    the class centroid to the global centroid, plus the one-number
    separation ratio

        fisher = (Σ_l n_l·||μ_l − μ||² / N) / (Σ_l SS_within_l / N)

    — between-class over within-class variance, the embedding-quality
    screen that says whether labels are separable at all BEFORE anyone
    trains a probe on them (complements anisotropy, which sees a shared
    direction but not class structure).

    Exactness at scale: one posexplode → one (label, dim) aggregate
    with DECIMAL coordinate sums S and square-sums Q (the standardize
    convention).  SS_within_l = Σ_dim (Q_d − S_d²/n) folds the per-dim
    double terms through DECIMAL(38,12); centroids are S/n doubles and
    the global centroid derives from the per-label sums (a ≤|labels|·d
    table), so the corpus shuffles exactly once.

    Returns ``(label, n_vecs, mean_within, centroid_dist,
    fisher_ratio)`` ordered by label — the ratio repeated per row.
    """
    vec = F.col(vec_col).cast("array<double>")
    per = (df.filter(F.col(vec_col).isNotNull())
           .select(F.col(label_col).alias("label"),
                   F.posexplode(vec).alias("pos", "v")))
    dd = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    dims = (per.groupBy("label", "pos")
            .agg(F.count(F.lit(1)).alias("__n"),
                 dd(F.col("v")).alias("__s"),
                 dd(F.col("v") * F.col("v")).alias("__q")))
    nd = F.col("__n").cast("double")
    within_term = F.col("__q") - F.col("__s") * F.col("__s") / nd
    # global per-dim sums via a per-pos window over the tiny
    # (label, dim) table — a groupBy + join-back would consume `dims`
    # twice and recompute the corpus explode (plan-pinned to one scan)
    from pyspark.sql import Window
    wpos = Window.partitionBy("pos")
    j = (dims
         .withColumn("__gs", F.sum(F.col("__s").cast("decimal(38,12)"))
                     .over(wpos).cast("double"))
         .withColumn("__gn", F.sum("__n").over(wpos)))
    mu_l = F.col("__s") / nd
    mu_g = F.col("__gs") / F.col("__gn").cast("double")
    dist_term = (mu_l - mu_g) * (mu_l - mu_g)
    per_label = (j.groupBy("label")
                 .agg(F.max("__n").alias("n_vecs"),
                      F.sum(within_term.cast("decimal(38,12)"))
                      .cast("double").alias("__ssw"),
                      F.sum(dist_term.cast("decimal(38,12)"))
                      .cast("double").alias("__d2")))
    # totals via a global window over the |labels|-row table — an
    # agg + crossJoin-back would consume per_label twice and recompute
    # the corpus explode subtree (plan-pinned to one scan)
    from pyspark.sql import Window
    wall = Window.partitionBy()
    ssb = (F.sum((F.col("n_vecs").cast("double") * F.col("__d2"))
                 .cast("decimal(38,12)")).over(wall).cast("double"))
    ssw_all = (F.sum(F.col("__ssw").cast("decimal(38,12)")).over(wall)
               .cast("double"))
    fisher = F.round(ssb / ssw_all, round_digits) + F.lit(0.0)
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    return (per_label
            .select("label", "n_vecs",
                    r6(F.col("__ssw") / F.col("n_vecs").cast("double"))
                    .alias("mean_within"),
                    r6(F.sqrt(F.round(F.col("__d2"), 9)))
                    .alias("centroid_dist"),
                    fisher.alias("fisher_ratio"))
            .orderBy("label"))


def centroid_distances(df: DataFrame, vec_col: str = "embedding",
                       label_col: str = "label",
                       round_digits: int = 6) -> DataFrame:
    """Pairwise label-centroid distance matrix — the class
    CONFUSABILITY map that :func:`fisher_separation`'s one-number ratio
    summarizes away: the closest centroid pairs are where a classifier
    trained on these embeddings will actually bleed, and where label
    noise concentrates (compare near_dup_label_confusion, which finds
    the noise at the instance grain).

    One posexplode → one (label, dim) DECIMAL aggregate (the corpus
    shuffles once); the pair join runs on the |labels|·dim centroid
    table.  Per-dim squared gaps DECIMAL-accumulate; one rounded sqrt
    (round-9-before-sqrt, the l2 convention).

    Returns ``(label_a, label_b, dist)`` for ``label_a < label_b``,
    ordered by (label_a, label_b).
    """
    vec = F.col(vec_col).cast("array<double>")
    dims = (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(label_col).alias("label"),
                    F.posexplode(vec).alias("pos", "v"))
            .groupBy("label", "pos")
            .agg((F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
                  / F.count(F.lit(1)).cast("double")).alias("__m")))
    a = dims.select(F.col("label").alias("label_a"), "pos",
                    F.col("__m").alias("__ma"))
    b = dims.select(F.col("label").alias("label_b"), "pos",
                    F.col("__m").alias("__mb"))
    gap = (F.col("__ma") - F.col("__mb")) * (F.col("__ma") - F.col("__mb"))
    return (a.join(b, "pos")
            .filter(F.col("label_a") < F.col("label_b"))
            .groupBy("label_a", "label_b")
            .agg(F.sum(gap.cast("decimal(38,12)")).cast("double")
                 .alias("__d2"))
            .select("label_a", "label_b",
                    (F.round(F.sqrt(F.round(F.col("__d2"), 9)),
                             round_digits) + F.lit(0.0)).alias("dist"))
            .orderBy("label_a", "label_b"))
