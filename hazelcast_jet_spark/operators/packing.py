"""Sequence packing: assign documents to fixed token-budget bins.

The training-data step after tokenization — documents are concatenated
into fixed-size context windows ("bins") before batching.  Two variants:

- :func:`pack_concat` — streaming-concatenation packing: documents are
  laid end-to-end in a deterministic order and a document belongs to the
  bin where its first token lands.  Pure window arithmetic (one shuffle
  per stratum partition, integer math only), so it scales to 100 TB and
  is bit-identical on any engine — this is the oracle-gated path.
- :func:`pack_greedy` — greedy next-fit packing: a document that would
  overflow the current bin opens a new one (no document straddles bins).
  Sequential recurrence per stratum, a keyed ordered scan; the stratum
  (e.g. ``source``) is the parallelism unit, which matches real
  pipelines where packing runs per shard.

Reference analog: none — Hazelcast Jet has no packing operator; this is
part of the beyond-reference LLM-pipeline surface (build brief Phase 5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hazelcast_jet_spark.streaming.stateful import (appended_schema,
                                                    map_stateful_batch)


def pack_concat(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Add a ``bin_id`` column: the bin where the document's first token
    lands when documents are concatenated in ``order_col`` order.

    bin_id = (exclusive running sum of tokens) // budget — all-integer,
    engine-exact.  Documents may straddle a bin boundary; they count in
    the bin they start in.  One window shuffle; at scale, partition by a
    stratum column (``partition_cols``) so no single global sort exists.
    """
    parts = partition_cols or []
    w = (
        Window.partitionBy(*parts)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    # `div` is true integral division (bigint), exact at any running-sum
    # magnitude — a double-divide-then-cast would lose exactness past 2^53
    return (
        df.withColumn("_prior", prior.cast("bigint"))
        .withColumn("bin_id", F.expr(f"_prior div {int(budget)}"))
        .drop("_prior")
    )


def pack_greedy(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Greedy next-fit packing: walk documents in ``order_col`` order per
    stratum; if adding a document would exceed ``budget``, close the bin
    and open the next.  Documents larger than the budget get a bin of
    their own.  No document straddles bins (unlike :func:`pack_concat`).

    The recurrence is inherently sequential *within* a stratum, so the
    stratum is the parallelism unit (one scan group per stratum) — at
    100 TB, pack per shard/source, never globally.
    """
    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bins, cur_bin, cur_tok = [], 0, 0
        for t in pdf[token_col].astype("int64"):
            if cur_tok > 0 and cur_tok + t > budget:
                cur_bin, cur_tok = cur_bin + 1, 0
            bins.append(cur_bin)
            cur_tok += t
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    parts = partition_cols or []
    if not parts and df.rdd.getNumPartitions() > 1:
        # A global pack is a single sequential task by construction: be
        # loud about serializing a large input (pack per shard/source).
        import warnings

        warnings.warn(
            "pack_greedy without partition_cols collapses a "
            f"{df.rdd.getNumPartitions()}-partition input to ONE sequential "
            "task; pass partition_cols to pack per stratum at scale",
            ResourceWarning, stacklevel=2)
    return map_stateful_batch(df if parts else df.coalesce(1), parts, _pack,
                              appended_schema(df, "bin_id bigint"),
                              order_col)


def pack_stats(packed: DataFrame, token_col: str,
               partition_cols: list[str] | None = None) -> DataFrame:
    """Per-bin occupancy stats for a packed DataFrame."""
    parts = (partition_cols or []) + ["bin_id"]
    return packed.groupBy(*parts).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).cast("bigint").alias("total_tokens"),
    )


def padding_efficiency(df: DataFrame, len_col: str,
                       boundaries: list[int]) -> DataFrame:
    """Padding-waste accounting for length-bucketed batching: sequences
    are padded up to the smallest bucket boundary >= their length
    (sequences above the last boundary are TRUNCATED to it — the
    max-seq-len convention), and the op reports, per bucket, how much
    of the padded volume is real tokens — the metric that decides
    bucket boundaries for a training run (the measurement companion of
    :func:`pack_sequences`, which eliminates the waste instead).

    Map-only bucket assignment + one aggregate.  Returns per bucket:
    ``(bucket_len, n_seqs, sum_len, padded, waste_frac)`` where
    ``padded = n_seqs * bucket_len`` and
    ``waste_frac = 1 - sum_real/padded`` (real = len capped at the
    boundary), as a fixed-order double division.
    """
    if not boundaries or sorted(boundaries) != list(boundaries):
        raise ValueError("boundaries must be a non-empty ascending list")
    ln = F.col(len_col)
    bucket = None
    for b in reversed(boundaries):
        bucket = F.when(ln <= b, F.lit(b)) if bucket is None else \
            F.when(ln <= b, F.lit(b)).otherwise(bucket)
    bucket = F.when(ln > boundaries[-1],
                    F.lit(boundaries[-1])).otherwise(bucket)
    real = F.least(ln, F.lit(boundaries[-1]))
    agg = (
        df.select(bucket.alias("bucket_len"), ln.alias("l"),
                  real.alias("real"))
        .groupBy("bucket_len")
        .agg(F.count(F.lit(1)).alias("n_seqs"),
             F.sum("l").alias("sum_len"),
             F.sum("real").alias("sum_real"))
    )
    padded = F.col("n_seqs") * F.col("bucket_len")
    waste = (F.lit(1.0)
             - F.col("sum_real").cast("double") / padded.cast("double"))
    return agg.select(
        "bucket_len", "n_seqs", "sum_len",
        padded.alias("padded"), waste.alias("waste_frac"),
    ).orderBy("bucket_len")
