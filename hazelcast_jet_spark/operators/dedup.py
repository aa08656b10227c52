"""Deduplication operators (SURVEY Phase 5 — training-data pipeline core).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup, all as declarative
DataFrame plans:

* hashes are built from **md5 strings** (engine-portable: DuckDB computes
  the identical value, so the correctness oracle is bit-exact; at 100 TB
  swap `_h` for xxhash64 with one line if raw speed matters more than
  portability),
* candidate generation is a **band-bucket self-join** (shuffle on the
  bucket key), never an O(n²) cross join,
* verification (true Jaccard) runs only on candidate pairs.

Scale shape: shingle/minhash computation is per-row (map-only, no
shuffle); the LSH join shuffles (band, bucket) pairs — n_bands × n_rows
small records; skewed buckets (boilerplate docs) are AQE-split.
"""

from __future__ import annotations

import pandas as pd
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hazelcast_jet_spark.operators.graph_local import (bounded_arrow,
                                                       min_root_components)
from hazelcast_jet_spark.operators.text import normalize_text
from hazelcast_jet_spark.session import ensure_parallelism


#: bounded registry of persisted shingle bases (ADVICE r1: persist()
#: without unpersist leaked for the session).  An LRU of size 2 instead
#: of GC-tied release: Spark's CacheManager matches persisted plans
#: structurally, so the MinHash and n-gram operators over the same input
#: SHARE one cached shingling — freeing it the moment one query's plan
#: is dropped would force the next operator to re-shingle the corpus
#: (measured: +3 s per query at sf0.1).  Two entries bound memory while
#: keeping the common back-to-back-dedup-ops pattern cache-hot.
_CACHED_BASES: list[DataFrame] = []


def _register_cache(cached: DataFrame) -> None:
    # entries from other (possibly stopped) sessions are evicted first:
    # sameResult matches plans ACROSS sessions, so without this a stale
    # dead-session entry would shadow the new session's base and leak it
    for prev in list(_CACHED_BASES):
        if prev.sparkSession is not cached.sparkSession:
            _CACHED_BASES.remove(prev)
            try:
                prev.unpersist(False)
            except Exception:
                pass  # that session is gone
    for prev in _CACHED_BASES:
        if prev is cached or prev._jdf.queryExecution().logical().sameResult(
            cached._jdf.queryExecution().logical()
        ):
            return
    _CACHED_BASES.append(cached)
    while len(_CACHED_BASES) > 2:
        old = _CACHED_BASES.pop(0)
        try:
            old.unpersist(False)
        except Exception:
            pass  # session already stopped


def _h(seed: int, c: Column) -> Column:
    """Portable seeded hash: md5 of seed-prefixed input (hex string).
    String min/max is a total order shared by every engine."""
    return F.md5(F.concat(F.lit(f"s{seed}:"), c))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-shingles of the normalized text (distinct).

    Built with ONE overlapping-lookahead regex pass —
    ``\\b(?=((?:[a-z0-9]+ ){k-1}[a-z0-9]+))`` captures the k-gram
    starting at every word boundary — instead of the r11 zip-shift +
    ``transform`` shape: higher-order array lambdas are CodegenFallback
    (interpreted once per token), while ``regexp_extract_all`` is a
    single compiled-regex scan of the normalized string.  ~3× faster at
    equal output (the capture order IS position order, so even the
    array order matches the zip-shift form bit-for-bit; pinned by
    tests).  Normalized text contains only ``[a-z0-9]`` runs separated
    by single spaces, so ``\\b`` fires exactly at token starts (at a
    token END the lookahead meets a space and fails).  Docs shorter
    than k tokens fall back to one whole-text shingle.
    """
    nm = normalize_text(col)
    toks = F.split(nm, " ")
    n = F.size(toks)
    pat = r"\b(?=((?:[a-z0-9]+ ){%d}[a-z0-9]+))" % (k - 1)
    sh = F.regexp_extract_all(nm, F.lit(pat), 1)
    return F.array_distinct(
        F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _window_grams(nm: Column, toks: Column, k: int) -> Column:
    """Array of the k-token window STRINGS at every position (position
    order) of a normalized text — ONE overlapping-lookahead regex pass
    (the r12 :func:`shingles` discipline) instead of a ``transform``
    over ``concat_ws(slice(t, i, k))``, which is CodegenFallback AND
    rebuilds O(k) tokens per window (O(n·k) string copying per doc).
    Captures are bit-identical: normalized text is single-space-joined
    ``[a-z0-9]`` runs, so ``\\b`` fires exactly at token starts.  Docs
    shorter than k tokens fall back to one whole-text window."""
    pat = r"\b(?=((?:[a-z0-9]+ ){%d}[a-z0-9]+))" % (k - 1)
    return F.when(F.size(toks) >= k,
                  F.regexp_extract_all(nm, F.lit(pat), 1)) \
            .otherwise(F.array(F.concat_ws(" ", toks)))


def _minhash_fn(seed: int):
    """Single-parameter element lambda for F.transform, seed captured by
    closure.  NEVER write ``lambda s, j=j: ...`` here: a two-parameter
    lambda makes transform() pass the ELEMENT INDEX as the second
    argument, silently clobbering the seed default — the signature would
    still be a valid (internally consistent) MinHash family, but an
    UNDOCUMENTED one that differs per expression instantiation, which
    breaks cross-run signature stability (persisted index probes) and
    silently diverges from the md5('s{j}:'||shingle) family the oracles
    and the docs promise."""
    return lambda s: _h(seed, s)


def minhash_signature(col: Column | str, num_hashes: int = 16, k: int = 3) -> Column:
    """MinHash signature: per seed j, min over shingles of h_j(shingle).
    An array<string> of length num_hashes."""
    sh = shingles(col, k)
    return F.array(*[F.array_min(F.transform(sh, _minhash_fn(j))) for j in range(num_hashes)])


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized-text fingerprint: keeps the min-id row per
    group (deterministic winner).  Hash-groupBy: one shuffle on the md5."""
    from hazelcast_jet_spark.operators.text import fingerprint
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def jaccard(a: Column, b: Column) -> Column:
    """n-gram Jaccard similarity of two shingle arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 16, bands: int = 8, k: int = 3,
                      threshold: float = 0.8,
                      max_bucket: int | None = None) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    shingle → minhash → band → bucket-join → Jaccard-verify.  Bands of
    rows = num_hashes/bands minhashes concatenated; docs sharing any band
    bucket become candidates; candidates are verified with true Jaccard on
    shingle sets.  Returns (id_a, id_b, jaccard_sim) with id_a < id_b.

    ``max_bucket`` is the hot-bucket guard (VERDICT r11 "What's wrong
    #1"): a boilerplate-heavy corpus can put 10⁶ docs in ONE band bucket,
    making the bucket self-join quadratic.  Buckets over the cap switch
    from all-pairs to a *representative chain* — every member pairs only
    with the bucket's min id — so candidates stay linear per bucket while
    :func:`pairs_to_groups` still recovers the same connected components
    for true-duplicate mega-buckets (the chain is a spanning set).  This
    is the engine's analog of the reference's partition backpressure
    (ConcurrentInboundEdgeStream.java): bound the skewed unit of work
    instead of letting one hot key stall the job.  Default ``None``
    preserves exact all-pairs output.
    """
    rows_per_band = num_hashes // bands
    df = ensure_parallelism(df)
    # base feeds three branches (signatures + both verify sides); persist
    # the compact (id, shingles) projection so the scan+shingling runs
    # once.  MEMORY_AND_DISK ≈ materializing an intermediate table — the
    # standard shape for multi-use intermediates at any scale.
    base = df.select(F.col(id_col).alias("id"), shingles(text_col, k).alias("sh")).persist()

    # map-only minhash over the CACHED shingle arrays: 8 array_min/
    # transform expressions per row — JVM, zero shuffle, zero Python.
    # (r1 built signatures with explode → groupBy(min), which shuffled
    # |docs| × |shingles| rows — folded per VERDICT r1 / NOTES; measured
    # here: expr 0.4 s vs grouped 4.3 s cold at sf0.1, because the
    # shingling cost that motivated the grouped path is already paid once
    # by the persisted base)
    sigs = base.select(
        "id",
        F.array(*[
            F.array_min(F.transform(F.col("sh"), _minhash_fn(j)))
            for j in range(num_hashes)
        ]).alias("sig"),
    )
    bucketed = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws("|", *[F.col("sig")[b * rows_per_band + r]
                                             for r in range(rows_per_band)])).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    chain = None
    if max_bucket is not None:
        # one window agg over the SAME (band, bucket) key the join
        # shuffles on — no extra exchange shape, just a count + min
        wb = Window.partitionBy("band", "bucket")
        bucketed = (bucketed
                    .withColumn("_n", F.count(F.lit(1)).over(wb))
                    .withColumn("_rep", F.min("id").over(wb)))
        # over-cap buckets: linear representative chain (rep = min id,
        # so id_a < id_b holds by construction)
        chain = (bucketed.filter((F.col("_n") > max_bucket)
                                 & (F.col("id") != F.col("_rep")))
                 .select(F.col("_rep").alias("id_a"), F.col("id").alias("id_b")))
        bucketed = bucketed.filter(F.col("_n") <= max_bucket).drop("_n", "_rep")
    l = bucketed.alias("l")
    r = bucketed.alias("r")
    cands = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    if chain is not None:
        cands = cands.unionByName(chain)
    cands = cands.dropDuplicates(["id_a", "id_b"])
    # verify only the (few) candidates with true Jaccard on shingle sets
    sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    _register_cache(base)
    return (
        cands.join(sh_a, "id_a").join(sh_b, "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, threshold: float = 0.5,
                        min_df: int = 1, max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index
    (explode shingles → join on shingle → count common → Jaccard).
    One shuffle keyed by shingle; no cross join.

    The index join costs O(Σ df²) over shingle document-frequencies, so
    frequency pruning is the 100 TB knob: ``max_df`` drops boilerplate
    shingles (a header shared by 10⁶ docs would otherwise build one 10¹²
    -pair reducer) and ``min_df`` drops singleton shingles, which can
    never contribute to a pair (min_df=2 is a free ~halving of the index;
    values > 2 trade recall for speed).  Pruning affects CANDIDATE
    generation only — the Jaccard itself is still computed on full
    shingle sets, so the similarity values are exact; pairs whose every
    common shingle is pruned are missed (that is the documented
    approximation, identical in spirit to the LSH band trade-off).
    """
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), shingles(text_col, k).alias("sh")
    ).persist()
    sizes = base.select("id", F.size("sh").alias("n"))
    inv = base.select("id", F.explode("sh").alias("s"))
    pruned = min_df > 1 or max_df is not None
    if pruned:
        dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
        cond = F.col("_df") >= min_df
        if max_df is not None:
            cond = cond & (F.col("_df") <= max_df)
        inv = inv.join(dfreq.filter(cond).select("s"), "s")
    common = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if pruned:
        # the pruned index undercounts intersections — recompute the exact
        # Jaccard on the full shingle sets of the surviving candidates
        sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        _register_cache(base)
        return (
            common.select("id_a", "id_b")
            .join(sh_a, "id_a").join(sh_b, "id_b")
            .select(
                "id_a", "id_b",
                F.round(inter / (F.size("sh_a") + F.size("sh_b") - inter), 6).alias("jaccard_sim"),
            )
            .filter(F.col("jaccard_sim") >= threshold)
        )
    _register_cache(base)
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def containment_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3, threshold: float = 0.8,
                      min_df: int = 1, max_df: int | None = None) -> DataFrame:
    """Asymmetric near-dup pairs by shingle-set CONTAINMENT
    ``|A∩B| / min(|A|, |B|)`` — the quote / excerpt / boilerplate-
    wrapper detector.  A short document fully embedded in a long one has
    containment 1.0 but Jaccard ``|A|/|B|`` (arbitrarily low), so
    :func:`ngram_jaccard_pairs` structurally cannot find it; training-
    data dedup needs both lenses (Broder 1997 distinguishes resemblance
    from containment for exactly this case).

    Same inverted-index shape and 100 TB knobs as
    :func:`ngram_jaccard_pairs`: one shuffle keyed by shingle, O(Σ df²)
    candidate join bounded by ``max_df`` (drops boilerplate shingles)
    and ``min_df`` (singletons can never pair).  Pruning affects
    candidates only — survivors re-verify on full shingle sets, so
    emitted containment values are exact.
    """
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), shingles(text_col, k).alias("sh")
    ).persist()
    sizes = base.select("id", F.size("sh").alias("n"))
    inv = base.select("id", F.explode("sh").alias("s"))
    pruned = min_df > 1 or max_df is not None
    if pruned:
        dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
        cond = F.col("_df") >= min_df
        if max_df is not None:
            cond = cond & (F.col("_df") <= max_df)
        inv = inv.join(dfreq.filter(cond).select("s"), "s")
    common = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if pruned:
        sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        _register_cache(base)
        return (
            common.select("id_a", "id_b")
            .join(sh_a, "id_a").join(sh_b, "id_b")
            .select(
                "id_a", "id_b",
                F.round(inter / F.least(F.size("sh_a"), F.size("sh_b")), 6)
                .alias("containment"),
            )
            .filter(F.col("containment") >= threshold)
        )
    _register_cache(base)
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("common") / F.least("n_a", "n_b"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


#: default signature width: 63 bits is the widest that stays non-negative
#: in a BIGINT (no sign-bit handling needed on either engine); at 100 TB a
#: 16-bit space (65k distinct signatures) makes every band bucket
#: quadratic, while 63 bits with ≥16-bit bands keeps buckets near-unique
#: (VERDICT r2 "What's wrong" #4).
SIMHASH_DEFAULT_BITS = 63


def _simhash_bit(b: int) -> tuple[int, int]:
    """(hex-nibble index, bit-within-nibble) for signature bit ``b``.

    Two bits per md5 hex nibble — a uniform derivation that scales to 63
    bits from the 32-nibble digest (the old parity-per-nibble form capped
    at 32).  Must stay in lockstep with the DuckDB oracle twin
    (__spark_entry__._simhash_sql) and simhash_udf."""
    return b >> 1, b & 1


def simhash(col: Column | str, bits: int = SIMHASH_DEFAULT_BITS) -> Column:
    """SimHash over word tokens using md5-derived per-token bits: bit b of
    the signature = majority vote over tokens of bit b of h(token).
    Returns a non-negative bigint (bits ≤ 63 so the sign bit stays clear
    on both engines — DuckDB's >> on BIGINT is arithmetic).

    Reference expression form (one md5 pass per BIT); use
    :func:`simhash_udf` in hot paths."""
    if not 1 <= bits <= 63:
        raise ValueError("simhash bits must be in [1, 63] (BIGINT, sign bit clear)")
    toks = F.split(normalize_text(col), " ")

    def vote_merge(b: int):
        nib, shift = _simhash_bit(b)
        return lambda a, t: a + F.when(
            F.shiftright(
                F.conv(F.substring(F.md5(t), nib + 1, 1), 16, 10).cast("int"), shift
            ).bitwiseAND(F.lit(1)) == 1,
            F.lit(1),
        ).otherwise(F.lit(-1))

    acc = F.lit(0).cast("bigint")
    for b in range(bits):
        votes = F.aggregate(toks, F.lit(0), vote_merge(b))
        acc = acc + F.when(votes > 0, F.lit(2 ** b)).otherwise(F.lit(0)).cast("bigint")
    return acc


_SIMHASH_UDF_CACHE: dict = {}


def simhash_udf(bits: int = SIMHASH_DEFAULT_BITS):
    """Arrow-vectorized :func:`simhash`: one md5 per token (the expression
    form recomputes ``md5(t)`` once per BIT — 16 interpreted passes over
    the token array).  Bit-identical to the expression/oracle: same
    normalization (ASCII-equivalent lower/strip across Python, the JVM and
    DuckDB — the test corpus is ASCII; use the expression form if a corpus
    needs locale-sensitive case folding), same md5 nibble-parity votes."""
    import hashlib
    import re as _re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if not 1 <= bits <= 63:
        raise ValueError("simhash bits must be in [1, 63] (BIGINT, sign bit clear)")
    # memoized: a rebuilt-per-call pandas_udf is a new python function
    # object, which makes each plan novel and defeats the JVM's analysis/
    # codegen caches (same rationale as similarity._KERNEL_CACHE)
    cached = _SIMHASH_UDF_CACHE.get(bits)
    if cached is not None:
        return cached
    # bit b of the signature reads bit (b & 1) of md5 hex nibble (b >> 1)
    # — same _simhash_bit derivation as the expression form and the oracle
    nib_idx = np.array([b >> 1 for b in range(bits)])
    nib_shift = np.array([b & 1 for b in range(bits)], dtype=np.uint8)
    weights = np.array([1 << b for b in range(bits)], dtype=np.int64)

    @pandas_udf("bigint")
    def sh(texts: pd.Series) -> pd.Series:
        # Batch-level token vocabulary: md5 runs once per DISTINCT token
        # in the batch instead of once per occurrence (corpora reuse
        # words heavily — ~50× fewer md5 calls, bit-identical votes
        # because the per-occurrence vote just re-reads the same digest).
        vocab: dict = {}
        tok_idx_lists = []
        for t in texts:
            if t is None:
                # expression form: aggregate over a null token array →
                # null votes → every CASE falls to 0; oracle agrees
                tok_idx_lists.append(None)
                continue
            norm = _re.sub(r"\s+", " ", _re.sub(r"[^a-z0-9]+", " ", t.lower())).strip()
            toks = norm.split(" ")
            idxs = np.empty(len(toks), dtype=np.int64)
            for i, tok in enumerate(toks):
                j = vocab.get(tok)
                if j is None:
                    j = len(vocab)
                    vocab[tok] = j
                idxs[i] = j
            tok_idx_lists.append(idxs)
        if vocab:
            digests = np.frombuffer(
                b"".join(hashlib.md5(tok.encode("utf-8")).digest() for tok in vocab),
                dtype=np.uint8,
            ).reshape(-1, 16)
            # hex-nibble order: high nibble of byte j is hex char 2j
            nibbles = np.empty((digests.shape[0], 32), dtype=np.uint8)
            nibbles[:, 0::2] = digests >> 4
            nibbles[:, 1::2] = digests & 15
            # per-distinct-token signed votes, (vocab, bits)
            signed = 2 * ((nibbles[:, nib_idx] >> nib_shift) & 1).astype(np.int32) - 1
        out = []
        for idxs in tok_idx_lists:
            if idxs is None:
                out.append(0)
                continue
            votes = signed[idxs].sum(axis=0)
            out.append(int(weights[votes > 0].sum()))
        return pd.Series(out, dtype="int64")

    _SIMHASH_UDF_CACHE[bits] = sh
    return sh


def simhash_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       bits: int = SIMHASH_DEFAULT_BITS) -> DataFrame:
    """Group docs by identical SimHash (hamming-0 buckets; for hamming ≤ d
    see :func:`simhash_near_dup_pairs`)."""
    return (
        ensure_parallelism(df).select(F.col(id_col), simhash_udf(bits)(F.col(text_col)).alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_bands(bits: int, hamming: int) -> list[tuple[int, int]]:
    """(shift, width) spans splitting a ``bits``-bit signature into
    ``hamming + 1`` contiguous bands — by pigeonhole, two signatures
    within hamming distance d agree exactly on at least one band."""
    nb = hamming + 1
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    spans, lo = [], 0
    for w in widths:
        spans.append((lo, w))
        lo += w
    return spans


def hamming_near_dup_pairs(sig_df: DataFrame, id_col: str = "id",
                           sig_col: str = "sig",
                           bits: int = SIMHASH_DEFAULT_BITS,
                           hamming: int = 2,
                           max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ d over ANY bigint signature
    column — the rotated-band probe: candidates share one of the d+1
    signature bands (an exact, recall-1 filter by pigeonhole), verified
    with bit_count(xor); the shuffle carries (id, band, bandbits) longs
    and never pairs across buckets.  Backs both text simhash
    (:func:`simhash_near_dup_pairs`) and image aHash
    (operators/multimodal.image_near_dups) — any 63-bit-convention
    fingerprint plugs in.

    ``max_bucket`` mirrors :func:`minhash_lsh_pairs`' hot-bucket guard:
    band buckets over the cap emit a linear representative chain
    (every member vs the bucket's min-id row) instead of all pairs, so
    a mega-bucket of identical fingerprints stays O(bucket) while the
    chain still spans its true-duplicate component for
    :func:`pairs_to_groups`.  Default ``None`` = exact all-pairs."""
    sig = sig_df.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sh"))
    bucketed = sig.select(
        "id", "sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright("sh", lo).bitwiseAND(F.lit((1 << w) - 1)).alias("bb"),
            )
            for i, (lo, w) in enumerate(simhash_bands(bits, hamming))
        ])).alias("x"),
    ).select("id", "sh", "x.band", "x.bb")
    chain = None
    if max_bucket is not None:
        wb = Window.partitionBy("band", "bb")
        # min(struct(id, sh)) orders by id first, so _rep carries the
        # bucket's min-id row WITH its signature (needed for the verify)
        bucketed = (bucketed
                    .withColumn("_n", F.count(F.lit(1)).over(wb))
                    .withColumn("_rep", F.min(F.struct("id", "sh")).over(wb)))
        chain = (bucketed.filter((F.col("_n") > max_bucket)
                                 & (F.col("id") != F.col("_rep.id")))
                 .select(
                     F.col("_rep.id").alias("id_a"), F.col("id").alias("id_b"),
                     F.bit_count(F.col("_rep.sh").bitwiseXOR(F.col("sh")))
                     .alias("hamming_dist")))
        bucketed = bucketed.filter(F.col("_n") <= max_bucket).drop("_n", "_rep")
    l, r = bucketed.alias("l"), bucketed.alias("r")
    pairs = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bb") == F.col("r.bb"))
               & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming_dist"),
        )
    )
    if chain is not None:
        pairs = pairs.unionByName(chain)
    return (
        pairs.filter(F.col("hamming_dist") <= hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           bits: int = SIMHASH_DEFAULT_BITS, hamming: int = 2,
                           max_bucket: int | None = None) -> DataFrame:
    """SimHash near-duplicate pairs at hamming distance ≤ d — the
    :func:`hamming_near_dup_pairs` band probe over text simhash
    signatures (same band-bucket-join shape as MinHash LSH).

    At the default 63 bits / hamming 2 the three bands are 21 bits wide
    (2^21 bucket values), so band buckets stay near-singleton at 100 TB;
    a 16-bit signature would make every bucket quadratic (VERDICT r2)."""
    sig = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), simhash_udf(bits)(F.col(text_col)).alias("sh")
    )
    return hamming_near_dup_pairs(sig, "id", "sh", bits=bits, hamming=hamming,
                                  max_bucket=max_bucket)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ``>= min_overlap``
    distinct word k-shingles with ANY benchmark document.

    Returns (id_col, overlap) for contaminated corpus docs — the standard
    pre-training step of dropping training documents that leak an eval
    set.  The benchmark's distinct shingle set is tiny next to the corpus
    (eval sets are thousands of docs vs billions), so it is broadcast:
    the corpus side is a map-side semi-match (explode -> broadcast hash
    join) followed by ONE groupBy on the contaminated minority — no
    corpus-wide shuffle of full rows at 100 TB.
    """
    bench_sh = (
        benchmark.select(F.explode(shingles(text_col, k)).alias("s"))
        .distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col), F.explode(shingles(text_col, k)).alias("s")
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "s")
        .groupBy(id_col)
        .agg(F.count_distinct("s").alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
    )


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs via winnowing fingerprints (text.winnow_fingerprints):
    docs sharing >= ``min_shared`` distinct fingerprints.

    Candidate generation is an equi-join on the fingerprint value —
    winnowing's coverage guarantee (any shared run of >= k+w-1 chars
    shares a fingerprint) makes this exhaustive for long overlaps without
    an all-pairs compare.  ``max_df`` drops fingerprints appearing in
    more than that many docs (boilerplate phrases — the hot-bucket guard,
    same idea as ngram_jaccard_pairs' max_df) before the self-join.
    """
    from .text import normalize_text

    # STAGED projections, not one nested Column: a free-variable expression
    # inside a higher-order-function lambda is re-evaluated PER ELEMENT, so
    # normalize_text's regexes inside the k-gram lambda would cost O(len²)
    # per doc (same trap the shingles() docstring documents).  Each stage
    # below references only a plain column; aliases used several times are
    # non-cheap, so CollapseProject keeps them materialized once per row.
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("norm"))
    hashed = base.select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("norm") - (k - 1), F.lit(1))),
            lambda i: F.conv(
                F.substring(F.md5(F.substr(F.col("norm"), i, F.lit(k))), 1, 12),
                16, 10).cast("bigint"),
        ).alias("hs"),
    )
    mins = hashed.select(
        "id",
        F.when(
            F.size("hs") >= w,
            F.transform(F.sequence(F.lit(1), F.size("hs") - (w - 1)),
                        lambda i: F.array_min(F.slice("hs", i, w))),
        ).otherwise(F.array(F.array_min("hs"))).alias("mins"),
    )
    fp = mins.select("id", F.explode(F.array_distinct("mins")).alias("fp")).distinct()
    # PERSIST the (id, fp) projection: it feeds the df-filter aggregate AND
    # both sides of the self-join, and Spark's broadcast joins defeat
    # exchange reuse here — without the persist the whole normalize→md5→
    # window-minima pipeline executes 4x (explain showed 4 parquet scans).
    # The frame is two longs per fingerprint, tiny next to the text it came
    # from, so MEMORY_AND_DISK is safe at any scale.  (This is also why the
    # O(n·log w) sparse-table minima rewrite was reverted in r3: it cut the
    # warm per-pass cost 3.5→2.9 s but its log-depth zip_with tree pushed
    # COLD analysis+codegen to 7.3 s; computing the naive form ONCE beats
    # computing a cleverer form 4x either way.)
    from pyspark import StorageLevel

    fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
    if max_df is not None:
        ok = (fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
              .filter(F.col("df") <= max_df).select("fp"))
        fp = fp.join(ok, "fp", "left_semi")
    l, r = fp.alias("l"), fp.alias("r")
    return (
        l.join(r, (F.col("l.fp") == F.col("r.fp"))
               & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
) -> DataFrame:
    """Per-document duplicated-long-span statistics (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": exact
    substring duplication, there via suffix arrays; here the Spark-
    practical token-window form): a doc's ``k``-token windows that appear
    verbatim in at least one OTHER document.

    Complements the set-similarity family — ngram_jaccard measures
    overall overlap, winnowing samples fingerprints; this counts exact
    long spans, the signal used to CUT duplicated text rather than drop
    whole docs.  Returns ``(id_col, n_spans, n_dup_spans, dup_fraction)``
    for every doc with at least one window (short docs count as one
    whole-text span).

    Shape: staged projections (tokens once per row), explode of
    DISTINCT-per-doc window hashes (md5 12-hex prefix as bigint — the
    engine-portable idiom), one groupBy for document frequency, join
    back, per-doc agg.  Everything shuffles as (hash, id) longs;
    the corpus text never moves twice.

    Precision note: the 48-bit hash prefix starts producing birthday
    collisions (two different spans sharing a hash ⇒ a span counted as
    duplicated that isn't) once the corpus holds ~10^7 distinct spans;
    the effect only ever OVERcounts dup_fraction slightly.  For exact
    stats on a larger corpus, widen the prefix (or use the full digest)
    at the cost of string-width shuffle rows.
    """
    from .text import normalize_text

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        normalize_text(text_col).alias("__nm"))
    # window STRINGS via one regex pass (see _window_grams), hashed with
    # the identical md5-prefix→bigint conversion — same values, no
    # per-window slice/concat rebuild
    grams = toks.select(
        "id",
        F.transform(
            _window_grams(F.col("__nm"), F.split("__nm", " "), k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10)
            .cast("bigint"),
        ).alias("hs"),
    )
    spans = grams.select(
        "id", F.explode(F.array_distinct("hs")).alias("h"))
    docfreq = spans.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        spans.join(docfreq, "h")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("df") > 1).cast("bigint")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6))
    )


def dup_span_stats_multi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ks: tuple[int, ...] = (4, 8, 16),
) -> DataFrame:
    """Multi-grain exact-substring duplication profile — the
    multi-length-span form of :func:`dup_span_stats` (Lee et al. 2022
    cut spans at several lengths; a single k misses both short
    boilerplate and long near-whole-doc copies).

    ONE pass over the corpus for every grain: tokens are computed once
    per row, each grain's distinct window hashes are tagged with the
    grain and flattened into one explode, and a single (k, hash)
    document-frequency shuffle serves all grains — the k-fold cost is
    in the map-side hash arrays, never in extra corpus scans or extra
    shuffles.  Hashes travel as 12-hex md5 prefixes (the engine-portable
    idiom; same birthday-collision note as dup_span_stats).

    Returns ``(id_col, k, n_spans, n_dup_spans, dup_fraction)`` — one
    row per document per grain.
    """
    from .text import normalize_text

    if not ks or any(k < 1 for k in ks) or len(set(ks)) != len(ks):
        raise ValueError(f"ks must be distinct positive ints, got {ks}")

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        normalize_text(text_col).alias("__nm"))

    def _grams(k: int):
        # single-argument lambdas only: a two-parameter F.transform
        # lambda receives (element, INDEX), which would silently shadow
        # any default-bound k; k is closed over via this factory instead
        def _tag(h):
            return F.struct(F.lit(k).cast("int").alias("k"), h.alias("h"))

        # window strings via one regex pass per grain (_window_grams),
        # hashed with the identical md5 12-hex prefix — same values
        hs = F.transform(
            _window_grams(F.col("__nm"), F.split("__nm", " "), k),
            lambda s: F.substring(F.md5(s), 1, 12))
        return F.transform(F.array_distinct(hs), _tag)

    spans = (toks.select(
        "id", F.explode(F.flatten(F.array(*[_grams(k) for k in ks])))
        .alias("kh"))
        .select("id", F.col("kh.k").alias("k"), F.col("kh.h").alias("h")))
    docfreq = spans.groupBy("k", "h").agg(F.count(F.lit(1)).alias("df"))
    return (
        spans.join(docfreq, ["k", "h"])
        .groupBy(F.col("id").alias(id_col), "k")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("df") > 1).cast("bigint")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6))
    )


def cut_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
) -> DataFrame:
    """The CUT step of substring dedup (Lee et al. 2022): remove from
    each document every token covered by a ``k``-token window that
    appears verbatim in at least one OTHER document — keep the document,
    drop the boilerplate span.  A duplicated substring of length ≥ k is
    exactly the union of its duplicated k-windows, so "token covered by
    ≥1 duplicated window" reproduces the paper's span removal at token
    granularity.

    Shape: same (hash, id) long-only shuffle as :func:`dup_span_stats`
    for document frequency, then each doc's few duplicated hashes come
    back as one bounded ``collect_set`` and the span masking runs as
    array higher-order functions doc-locally (no second pass over the
    corpus text).  Docs shorter than ``k`` tokens have no window and are
    returned unchanged.

    Returns ``(id_col, n_tokens, n_kept, clean_text)`` where
    ``clean_text`` is the normalized surviving text (kept tokens joined
    by one space).
    """
    from .text import normalize_text

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(text_col), " ").alias("t"))
    n = F.size("t")
    hash_at = lambda i: F.conv(
        F.substring(F.md5(F.concat_ws(" ", F.slice("t", i, k))), 1, 12),
        16, 10).cast("bigint")
    # grams feeds three branches (df count, dup join, final masking) —
    # persist so the tokenize + per-window md5 pipeline runs once
    grams = toks.select(
        "id", "t",
        F.when(n >= k,
               F.transform(F.sequence(F.lit(1), n - (k - 1)),
                           lambda i: hash_at(i)))
        .otherwise(F.array().cast("array<bigint>")).alias("hs"),
    ).persist()
    _register_cache(grams)
    spans = grams.select("id", F.explode(F.array_distinct("hs")).alias("h"))
    docfreq = spans.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    dup_per_doc = (
        spans.join(docfreq, "h")
        .filter(F.col("df") > 1)
        .groupBy("id")
        .agg(F.collect_set("h").alias("dup_hs"))
    )
    j = grams.join(dup_per_doc, "id", "left").withColumn(
        "dup_hs", F.coalesce("dup_hs", F.array().cast("array<bigint>")))
    # flags[s] = window starting at 0-based s is duplicated
    flags = F.transform("hs", lambda h: F.array_contains("dup_hs", h))
    # 0-based token i is cut iff ANY window start s in
    # [max(0, i-k+1), min(i, W-1)] is flagged (W = n-k+1 windows)
    W = F.size("hs")
    idx = F.transform("t", lambda x, i: F.struct(x.alias("x"), i.alias("i")))
    lo = lambda i: F.greatest(i - (k - 1), F.lit(0))
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            F.slice(F.col("__flags"),
                    lo(s["i"]) + 1,
                    F.least(s["i"], W - 1) - lo(s["i"]) + 1),
            lambda f: f,
        ),
    )
    return (
        j.withColumn("__flags", flags)
        .select(
            F.col("id").alias(id_col),
            F.size("t").alias("n_tokens"),
            F.size(kept).alias("n_kept"),
            F.concat_ws(" ", F.transform(kept, lambda s: s["x"]))
            .alias("clean_text"),
        )
    )


#: pair (edge row) count up to which pairs_to_groups and graph.wcc solve
#: the components on the driver (one bounded Arrow collect, ~16 B/row)
#: instead of the distributed loop; 0 disables the small path.
#: Parameterized for deployments where driver memory is tighter than the
#: default.
_PAIRS_COLLECT_THRESHOLD = int(
    os.environ.get("SPARK_GRAFT_CC_COLLECT_THRESHOLD", "200000"))


def pairs_to_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                    max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: turn the pair lists the
    LSH operators emit (minhash_lsh_pairs, simhash_near_dup_pairs,
    winnow_dup_pairs, cosine_dedup_pairs) into dedup GROUPS — the step
    that decides which document survives (keep min id per group).

    Min-label propagation WITH pointer doubling: every node starts
    labeled with itself; each round takes the min label over its
    neighborhood, then compresses one hop (label ← label(label) — labels
    are always node ids, so the lookup is a self-join).  Neighbor-step
    alone needs diameter rounds; with hop compression convergence is
    O(log diameter), so ``max_iter=20`` handles components of diameter
    ~2^20 instead of 20 — adversarial chains stop being a correctness
    ceiling and each saved round saves a full join+checkpoint job.
    Returns (node, group) where group = min doc id reachable.

    At 100 TB the iterated frame is only the nodes that appear in pairs
    (the contaminated minority), never the corpus.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # Size-adaptive execution (the broadcast-join analog, r12
    # optimization round): the iterated frame is only the nodes that
    # appear in PAIRS — at any corpus scale the near-dup pair set is the
    # contaminated minority, and below the threshold the whole loop
    # (3-5 rounds × checkpoint+probe jobs) costs more in driver-
    # synchronized job latency than one bounded collect.  Union-find
    # with min-root tracking returns the IDENTICAL (node, min reachable
    # id) labeling (pytest-pinned equal to the distributed loop); above
    # the threshold, with NULL ids, or when the caller disables it, the
    # O(log d) distributed iteration below is unchanged.  Bound: the
    # probe is ONE job collecting ≤ threshold+1 pairs (the directed edge
    # list below is twice that, so this is the 2·threshold directed-edge
    # bound), taken BEFORE anything is checkpointed.
    tbl = bounded_arrow(e, _PAIRS_COLLECT_THRESHOLD)
    if tbl is not None and not (tbl.column("src").null_count
                                or tbl.column("dst").null_count):
        node_type = e.schema["src"].dataType
        nodes, roots = min_root_components(tbl)
        return pairs.sparkSession.createDataFrame(
            pd.DataFrame({"node": nodes, "group": roots}),
            T.StructType([T.StructField("node", node_type),
                          T.StructField("group", node_type)]))
    # materialize the edge list ONCE: every round joins against it, and
    # without the checkpoint each round would re-execute the (potentially
    # expensive) upstream pair-generation plan — an LSH candidate join —
    # from scratch.  The edge list is two longs per pair, tiny vs the
    # corpus that produced it.
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    prev_cp = None
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neigh, labels.node == neigh.src, "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(F.col("label"),
                        F.coalesce(F.col("nmin"), F.col("label"))).alias("_mid"),
            )
        )
        # pointer doubling: a label is itself a node id, so one self-join
        # compresses a hop — _mid's own current label is at least as small
        lmap = stepped.select(
            F.col("node").alias("_pnode"), F.col("_mid").alias("_plabel"))
        new_labels = (
            stepped.join(lmap, stepped["_mid"] == lmap["_pnode"], "left")
            .select(
                "node",
                F.least(F.col("_mid"),
                        F.coalesce(F.col("_plabel"), F.col("_mid"))).alias("label"),
                # convergence flag computed IN the round — the probe below
                # is then a filter over the checkpointed frame, not a
                # second join of new vs old labels
                (F.least(F.col("_mid"),
                         F.coalesce(F.col("_plabel"), F.col("_mid")))
                 < F.col("_old")).alias("_chg"),
            )
        )
        # checkpoint FIRST (cut lineage, compute the round once), then read
        # the convergence probe from the checkpointed frame — computing
        # `changed` off the raw plan would execute the round's join twice
        cp = new_labels.localCheckpoint(eager=True)
        changed = cp.filter(F.col("_chg")).limit(1).count()
        if prev_cp is not None:
            prev_cp.unpersist()  # drop the previous round's checkpoint blocks
        labels = cp.drop("_chg")
        prev_cp = cp
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("group"))


def keep_best(df: DataFrame, pairs: DataFrame, score: Column,
              id_col: str = "doc_id", id_a: str = "id_a",
              id_b: str = "id_b", max_iter: int = 20) -> DataFrame:
    """Keep-policy over dup groups: instead of blindly keeping the min-id
    member, keep the BEST-scoring member of each near-dup group (ties →
    lowest id) — e.g. the highest text.quality_score copy of a
    boilerplate cluster.  This is the keep/drop decision production
    pipelines actually want after pairs_to_groups.

    ``score``: a Column evaluated over ``df`` (round it if it must be
    engine-portable).  Returns one row per group:
    ``(group_id, keep_id, keep_score, group_size)``.  Docs in no pair
    are their own implicit groups and are not listed — filter the corpus
    with an anti-join on (all group members minus keepers) to apply.

    Plan: the connected-components labels join the scored docs once
    (keyed on id), then ONE window partitioned by group computes the
    argmax and the size together — no second shuffle.
    """
    groups = pairs_to_groups(pairs, id_a, id_b, max_iter)
    scored = df.select(F.col(id_col).alias("node"), score.alias("__score"))
    j = groups.join(scored, "node")
    wp = Window.partitionBy("group")
    wo = wp.orderBy(F.col("__score").desc(), F.col("node").asc())
    return (
        j.withColumn("__rn", F.row_number().over(wo))
        .withColumn("group_size", F.count(F.lit(1)).over(wp))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("group").alias("group_id"),
            F.col("node").alias("keep_id"),
            F.col("__score").alias("keep_score"),
            "group_size",
        )
    )


# ---------------------------------------------------------------------------
# Incremental MinHash+LSH: dedup a NEW batch against a persisted index
# ---------------------------------------------------------------------------

def minhash_index_build(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 16,
                        bands: int = 8, k: int = 3,
                        mode: str = "overwrite",
                        epoch: int | None = None) -> None:
    """Materialize the LSH dedup index for incremental use — the
    production shape where the corpus grows daily and each new batch
    dedups against everything already ingested WITHOUT re-shingling or
    re-hashing the existing corpus.

    Two co-located parquet tables under ``path``:

    - ``buckets/``  (id, band, bucket) partitioned BY band — the
      candidate-join side.  A probe joins on (band, bucket) equi-keys;
      partitioning by band lets each band's probe prune to 1/bands of
      the index scan.
    - ``shingles/`` (id, sh) — the exact-verify side, touched only for
      the (few) candidate ids via an equi-join.

    ``mode="append"`` is the daily increment: one map-only
    signature/shingle pass over just the new docs, two appends, no
    rewrite of existing index files.  (Compact small appended files
    periodically with any parquet compactor; the layout is plain
    parquet on purpose — no bespoke format to migrate.)
    """
    rows_per_band = num_hashes // bands
    base = df.select(F.col(id_col).alias("id"),
                     shingles(text_col, k).alias("sh")).persist()
    sigs = base.select(
        "id",
        F.array(*[
            F.array_min(F.transform(F.col("sh"), _minhash_fn(j)))
            for j in range(num_hashes)
        ]).alias("sig"),
    )
    bucketed = sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *[F.col("sig")[b * rows_per_band + r]
                                         for r in range(rows_per_band)])).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # With ``epoch`` set, writes land under epoch=<n> subdirectories —
    # the layout minhash_index_streaming_ingest uses (idempotent replays,
    # partition discovery exposes `epoch` as an ignorable column).  Seed a
    # stream-managed index with epoch=-1; do NOT mix the flat layout and
    # the epoch layout under one path (parquet partition discovery
    # rejects mixed trees).
    bsuffix = f"/epoch={epoch}" if epoch is not None else ""
    bucketed_writer = bucketed.write.mode(mode)
    if epoch is None:
        bucketed_writer = bucketed_writer.partitionBy("band")
    bucketed_writer.parquet(f"{path}/buckets{bsuffix}")
    base.write.mode(mode).parquet(f"{path}/shingles{bsuffix}")
    base.unpersist()


def minhash_index_probe(spark, path: str, new_docs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 16, bands: int = 8, k: int = 3,
                        threshold: float = 0.8,
                        max_bucket: int | None = None,
                        before_epoch: int | None = None) -> DataFrame:
    """Near-dup pairs between a NEW batch and the persisted index
    (:func:`minhash_index_build`) — returns
    ``(index_id, new_id, jaccard_sim)``.

    Cost model at corpus scale: the new batch (small) is shingled and
    hashed map-only; the candidate join touches only index bucket rows
    whose (band, bucket) keys the new batch actually produces — with
    AQE the probe side builds a broadcast/hash side from the batch, so
    the index's billions of bucket rows are filtered, never fully joined;
    the exact verify reads only candidate ids from the shingle store.
    Yesterday's corpus pays ZERO recompute.  ``max_bucket`` drops
    over-popular buckets (boilerplate) on the INDEX side, same contract
    as minhash_lsh_pairs' production knob.

    After accepting the batch, call :func:`minhash_index_build` with
    ``mode="append"`` on the same docs to fold them into the index.
    """
    idx_buckets = spark.read.parquet(f"{path}/buckets")
    idx_shingles_raw = spark.read.parquet(f"{path}/shingles")
    if before_epoch is not None:
        # epoch-layout indexes only: restrict to epochs strictly before
        # `before_epoch` (partition-pruned).  This is what makes a
        # REPLAYED streaming epoch idempotent — without it the replay
        # would probe its own already-written epoch and emit self-pairs
        # the original run never saw.
        idx_buckets = idx_buckets.filter(F.col("epoch") < before_epoch)
        idx_shingles_raw = idx_shingles_raw.filter(
            F.col("epoch") < before_epoch)
    tomb = _load_tombstones(spark, path, before_epoch)
    if tomb is not None:
        # retracted docs never candidate again; left_anti on the tiny
        # broadcast tombstone set, applied BEFORE the bucket-popularity
        # cap so a hot bucket shrunk by retractions can come back under it
        idx_buckets = idx_buckets.join(F.broadcast(tomb), "id", "left_anti")
        idx_shingles_raw = idx_shingles_raw.join(
            F.broadcast(tomb), "id", "left_anti")
    if max_bucket is not None:
        wb = Window.partitionBy("band", "bucket")
        idx_buckets = (
            idx_buckets.withColumn("_n", F.count(F.lit(1)).over(wb))
            .filter(F.col("_n") <= max_bucket).drop("_n")
        )
    idx_shingles = idx_shingles_raw

    rows_per_band = num_hashes // bands
    nb = new_docs.select(F.col(id_col).alias("id"),
                         shingles(text_col, k).alias("sh")).persist()
    _register_cache(nb)
    new_sigs = nb.select(
        "id",
        F.array(*[
            F.array_min(F.transform(F.col("sh"), _minhash_fn(j)))
            for j in range(num_hashes)
        ]).alias("sig"),
    )
    new_buckets = new_sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *[F.col("sig")[b * rows_per_band + r]
                                         for r in range(rows_per_band)])).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    cands = (
        idx_buckets.alias("l")
        .join(new_buckets.alias("r"),
              (F.col("l.band") == F.col("r.band"))
              & (F.col("l.bucket") == F.col("r.bucket")))
        .select(F.col("l.id").alias("index_id"), F.col("r.id").alias("new_id"))
        .dropDuplicates(["index_id", "new_id"])
    )
    sh_i = idx_shingles.select(F.col("id").alias("index_id"),
                               F.col("sh").alias("sh_i"))
    sh_n = nb.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_n"))
    return (
        cands.join(sh_i, "index_id").join(sh_n, "new_id")
        .select("index_id", "new_id",
                F.round(jaccard(F.col("sh_i"), F.col("sh_n")), 6).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )


def minhash_index_streaming_ingest(stream_docs: DataFrame, index_path: str,
                                   pairs_path: str, checkpoint: str,
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   num_hashes: int = 16, bands: int = 8,
                                   k: int = 3, threshold: float = 0.8,
                                   max_bucket: int | None = None):
    """Continuous incremental dedup: a STREAM of new documents probes the
    persisted LSH index per micro-batch, emits cross near-dup pairs, and
    folds the batch into the index — the streaming form of the daily-
    ingest shape (new docs also dedup against earlier micro-batches).

    Exactly-once on plain parquet, without transactions: every write
    inside the foreachBatch lands under an ``epoch=<batch_id>``
    directory with mode=overwrite, so a REPLAYED batch (crash between
    sink commit and checkpoint commit) simply rewrites the same
    directories with identical deterministic content — idempotent, the
    same discipline as the engine's other epoch-keyed sinks.  Readers
    see ``epoch`` as a partition column and ignore it.

    Batch-vs-stream parity note: pairs are emitted against the index
    state BEFORE the batch (plus the batch's own internal pairs via the
    self-probe of its appended buckets in later batches) — identical to
    running build/probe per arriving chunk by hand, which is what the
    contract test pins.
    """
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ingest_epoch(batch_df, batch_id, index_path, pairs_path, text_col,
                     id_col, num_hashes, bands, k, threshold, max_bucket)

    return (
        stream_docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _fs_exists(spark, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API, so it answers
    correctly on every filesystem Spark can write to (HDFS/S3A/ABFS/
    local).  The previous ``os.path.isdir`` only saw the driver's local
    disk: on an object-store index path it was ALWAYS false, silently
    skipping the cross-batch probe while the index kept growing."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def ingest_epoch(batch_df: DataFrame, batch_id: int, index_path: str,
                 pairs_path: str, text_col: str = "text",
                 id_col: str = "doc_id", num_hashes: int = 16,
                 bands: int = 8, k: int = 3, threshold: float = 0.8,
                 max_bucket: int | None = None) -> None:
    """One epoch of :func:`minhash_index_streaming_ingest`, exposed so
    replay idempotence is directly testable: re-running an epoch must
    rewrite byte-identical content.  The probe is restricted to epochs
    STRICTLY BEFORE this one (``before_epoch``) — a replayed epoch's
    own already-written index rows would otherwise join against the
    batch and emit self-pairs the original run never produced."""
    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    try:
        # the batch's INTERNAL pairs (new-vs-new) ...
        pairs = minhash_lsh_pairs(
            batch_df, text_col, id_col, num_hashes, bands, k,
            threshold).selectExpr("id_a AS index_id", "id_b AS new_id",
                                  "jaccard_sim")
        # ... plus CROSS pairs against everything ingested before it, so
        # the union over all epochs equals one LSH pass over the whole
        # corpus (every pair is within-batch or cross-batch)
        if _fs_exists(spark, f"{index_path}/buckets"):
            pairs = pairs.unionByName(minhash_index_probe(
                spark, index_path, batch_df, text_col, id_col,
                num_hashes, bands, k, threshold, max_bucket,
                before_epoch=batch_id))
        (pairs.write.mode("overwrite")
         .parquet(f"{pairs_path}/epoch={batch_id}"))
        # fold the batch into the index, epoch-keyed for idempotence
        rows_per_band = num_hashes // bands
        base = batch_df.select(
            F.col(id_col).alias("id"), shingles(text_col, k).alias("sh"))
        sigs = base.select(
            "id",
            F.array(*[
                F.array_min(F.transform(F.col("sh"), _minhash_fn(j)))
                for j in range(num_hashes)
            ]).alias("sig"))
        bucketed = sigs.select(
            "id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws(
                        "|", *[F.col("sig")[b * rows_per_band + r]
                               for r in range(rows_per_band)])).alias("bucket"),
                ) for b in range(bands)
            ])).alias("bb"),
        ).select("id", "bb.band", "bb.bucket")
        for sub, frame in (("buckets", bucketed), ("shingles", base)):
            (frame.write.mode("overwrite")
             .parquet(f"{index_path}/{sub}/epoch={batch_id}"))
    finally:
        batch_df.unpersist()


# ---------------------------------------------------------------------------
# Index maintenance: tombstones + compaction
# ---------------------------------------------------------------------------
# A continuously-ingested LSH index (minhash_index_streaming_ingest) only
# ever GROWS: one epoch directory of small files per micro-batch, and no
# way to retract a document (takedowns, license revocations, corpus
# re-curation).  These two ops close that gap with the same plain-parquet
# discipline as the index itself — no bespoke format, no transaction log.


def _index_fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _list_epochs(spark, path: str) -> list[int]:
    """Epoch partition numbers under ``path`` (empty if none)."""
    fs, jvm = _index_fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("epoch="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def _load_tombstones(spark, index_path: str,
                     before_epoch: int | None = None):
    """The retracted-id set as a 1-column ``id`` DataFrame, or None if no
    tombstones exist.  With ``before_epoch`` set, only tombstones written
    at strictly-earlier epochs apply — the same replay-idempotence
    convention as the bucket/shingle epoch filter."""
    tpath = f"{index_path}/tombstones"
    # a compaction that consumed every tombstone leaves the parent dir
    # empty — reading it would fail schema inference, so require epochs
    if not _fs_exists(spark, tpath) or not _list_epochs(spark, tpath):
        return None
    tomb = spark.read.parquet(tpath)
    if before_epoch is not None and "epoch" in tomb.columns:
        tomb = tomb.filter(F.col("epoch") < before_epoch)
    return tomb.select("id").distinct()


def minhash_index_retract(ids_df: DataFrame, index_path: str, epoch: int,
                          id_col: str = "doc_id") -> None:
    """Tombstone retracted documents (takedown / license revocation /
    re-curation): the ids stop matching as index-side candidates on every
    subsequent :func:`minhash_index_probe`, WITHOUT rewriting any index
    file — the physical rows go at the next :func:`minhash_index_compact`.

    ``epoch`` convention: pass the id of the LAST INGESTED batch.  A
    tombstone takes effect for probes at strictly LATER epochs (and for
    un-epoch-filtered probes), mirroring the bucket/shingle
    ``before_epoch`` filter — so a replayed epoch still sees exactly the
    index state its original run saw, and compaction up to that epoch
    consumes the tombstone together with the data it retracts.
    Re-running the retraction is idempotent (overwrite of the same
    directory with the same deterministic content).

    Scale shape: the tombstone set is assumed small relative to the
    corpus (retractions are exceptional); the probe applies it as a
    broadcast left_anti join.  A retraction wave large enough to matter
    in the join should be followed by a compaction, which folds it into
    the data and resets the set to empty.
    """
    (ids_df.select(F.col(id_col).alias("id")).distinct()
     .write.mode("overwrite")
     .parquet(f"{index_path}/tombstones/epoch={epoch}"))


def minhash_index_compact(spark, index_path: str,
                          upto_epoch: int | None = None,
                          max_bucket: int | None = None) -> dict:
    """Fold every epoch directory ``<= upto_epoch`` (default: all) into
    ONE epoch directory, physically dropping tombstoned ids and
    (optionally) permanently shedding over-popular buckets — the
    maintenance pass a 100 TB continuous-ingest dedup index needs to keep
    file counts bounded and takedowns actually deleted from disk.

    Semantics pin (tested): probing the compacted index is EQUAL to
    probing the uncompacted index with its tombstones applied, which in
    turn equals a fresh :func:`minhash_index_build` over the surviving
    documents.  ``max_bucket`` here materializes the probe-time cap: a
    (band, bucket) group with more than ``max_bucket`` member ids is
    boilerplate by definition and its bucket rows are dropped for good
    (their shingle rows stay — exact-verify for OTHER buckets'
    candidates still works).

    The rewrite lands at ``epoch=<upto_epoch>`` so later epochs'
    ``before_epoch`` replay filters still see all compacted history.
    NOT concurrency-safe: stop the ingest stream (or run between
    batches) — same discipline as any parquet compactor.  Consumed
    tombstone epochs are deleted; tombstones written at later epochs
    survive untouched.

    Returns ``{"epochs_compacted": n, "target_epoch": e,
    "ids_dropped": n_tombstoned}``.
    """
    bucket_epochs = _list_epochs(spark, f"{index_path}/buckets")
    if not bucket_epochs:
        raise ValueError(
            f"no epoch directories under {index_path}/buckets — compaction "
            "only applies to the epoch layout (build with epoch=, or via "
            "the streaming ingest)")
    if upto_epoch is None:
        upto_epoch = bucket_epochs[-1]
    todo = [e for e in bucket_epochs if e <= upto_epoch]
    tomb_epochs = [e for e in _list_epochs(spark, f"{index_path}/tombstones")
                   if e <= upto_epoch]
    tomb = None
    n_dropped = 0
    if tomb_epochs:
        tomb = (spark.read.parquet(f"{index_path}/tombstones")
                .filter(F.col("epoch") <= upto_epoch)
                .select("id").distinct().persist())
        n_dropped = tomb.count()

    fs, jvm = _index_fs(spark, index_path)
    hpath = jvm.org.apache.hadoop.fs.Path
    results = {}
    for sub in ("buckets", "shingles"):
        df = (spark.read.parquet(f"{index_path}/{sub}")
              .filter(F.col("epoch") <= upto_epoch).drop("epoch"))
        if tomb is not None:
            df = df.join(F.broadcast(tomb), "id", "left_anti")
        if sub == "buckets" and max_bucket is not None:
            wb = Window.partitionBy("band", "bucket")
            df = (df.withColumn("_n", F.count(F.lit(1)).over(wb))
                  .filter(F.col("_n") <= max_bucket).drop("_n"))
        # write-rename dance: the target epoch dir is one of the inputs,
        # so stage the rewrite next to the table, then swap directories
        tmp = f"{index_path}/{sub}__compact_tmp"
        df.write.mode("overwrite").parquet(tmp)
        results[sub] = tmp
    # inputs fully materialized — now swap: delete consumed epoch dirs
    # (and consumed tombstones), move each tmp into place
    for sub in ("buckets", "shingles"):
        for e in todo:
            fs.delete(hpath(f"{index_path}/{sub}/epoch={e}"), True)
        fs.rename(hpath(results[sub]),
                  hpath(f"{index_path}/{sub}/epoch={upto_epoch}"))
    for e in tomb_epochs:
        fs.delete(hpath(f"{index_path}/tombstones/epoch={e}"), True)
    if tomb is not None:
        tomb.unpersist()
    return {"epochs_compacted": len(todo), "target_epoch": upto_epoch,
            "ids_dropped": n_dropped}


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    unit: str = "fingerprint",
    shingle_k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, how
    many content units they share, plus the Jaccard overlap of their
    unit sets — the "is dataset B just a re-crawl of dataset A?" audit
    that decides which sources are worth ingesting and where dedup will
    bite.  ``unit`` picks the granularity:

    - ``"fingerprint"`` — whole-document exact-duplicate prints
      (md5 of normalized text): re-crawl / mirror detection;
    - ``"shingle"`` — word ``shingle_k``-grams (the minhash shingle
      set): phrase-level near-dup contamination, nonzero long before
      whole documents collide.

    Plan at scale: one distinct on (unit, source) compacts map-side;
    one exchange on the unit collects each unit's sorted source set
    (bounded by the source count, so never hot); pairs enumerate
    in-task; per-source distinct counts come off the same compacted
    frame and join back broadcast (the source dimension is tiny).
    Document payloads never shuffle — only hashes/shingles and source
    names.

    Returns ``(source_a, source_b, n_shared, n_a, n_b, jaccard)`` for
    ``source_a < source_b``, ordered.
    """
    from hazelcast_jet_spark.operators.text import fingerprint

    base = df.filter(F.col(text_col).isNotNull()
                     & F.col(source_col).isNotNull())
    if unit == "fingerprint":
        fs = base.select(fingerprint(text_col).alias("__fp"),
                         F.col(source_col).alias("__s")).distinct()
    elif unit == "shingle":
        fs = (
            base.select(F.explode(shingles(text_col, shingle_k))
                        .alias("__fp"),
                        F.col(source_col).alias("__s"))
            .distinct()
        )
    else:
        raise ValueError("unit must be 'fingerprint' or 'shingle'")
    per_source = fs.groupBy("__s").agg(F.count(F.lit(1)).alias("__n"))
    sets = fs.groupBy("__fp").agg(
        F.sort_array(F.collect_set("__s")).alias("__srcs"))
    pair_expr = F.filter(
        F.flatten(F.transform(
            F.col("__srcs"),
            lambda a: F.transform(F.col("__srcs"),
                                  lambda b: F.struct(a.alias("a"),
                                                     b.alias("b"))),
        )),
        lambda s: s["a"] < s["b"],
    )
    shared = (
        sets.select(F.explode(pair_expr).alias("__p"))
        .groupBy(F.col("__p.a").alias("source_a"),
                 F.col("__p.b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = per_source.select(F.col("__s").alias("source_a"),
                           F.col("__n").alias("n_a"))
    nb = per_source.select(F.col("__s").alias("source_b"),
                           F.col("__n").alias("n_b"))
    j = shared.join(F.broadcast(na), "source_a") \
              .join(F.broadcast(nb), "source_b")
    jac = F.round(
        F.col("n_shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        round_digits)
    return j.select("source_a", "source_b", "n_shared", "n_a", "n_b",
                    jac.alias("jaccard")).orderBy("source_a", "source_b")


def minhash_estimate_vs_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Sketch-calibration audit: for every LSH candidate pair, the
    MinHash similarity ESTIMATE (matching signature components /
    ``num_hashes`` — the unbiased Jaccard estimator) next to the exact
    shingle Jaccard.  At 100 TB the exact verify is the expensive step;
    this measures, on the candidates themselves, how far the estimator
    you would rely on actually sits from the truth (and therefore what
    thresholds are safe to act on sketch-only).

    Same plan as :func:`minhash_lsh_pairs` — cached (id, shingles)
    projection, map-only signatures, band bucket join — plus one
    zip_with over the two signatures per candidate.

    Returns ``(id_a, id_b, est_sim, exact_sim, abs_err)``, id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    df = ensure_parallelism(df)
    base = df.select(F.col(id_col).alias("id"),
                     shingles(text_col, k).alias("sh")).persist()
    sigs = base.select(
        "id", "sh",
        F.array(*[
            F.array_min(F.transform(F.col("sh"), _minhash_fn(j)))
            for j in range(num_hashes)
        ]).alias("sig"))
    bucketed = sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *[
                    F.col("sig")[b * rows_per_band + r]
                    for r in range(rows_per_band)])).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    l, r = bucketed.alias("l"), bucketed.alias("r")
    cands = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"]))
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                     F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                     F.col("sig").alias("sig_b"))
    _register_cache(base)
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
        lambda m: m))
    est = F.round(matches.cast("double") / F.lit(float(num_hashes)),
                  round_digits)
    exact = F.round(jaccard(F.col("sh_a"), F.col("sh_b")), round_digits)
    return (
        cands.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_sim"),
                exact.alias("exact_sim"),
                (F.round(F.abs(est - exact), round_digits)
                 + F.lit(0.0)).alias("abs_err"))
        .orderBy("id_a", "id_b"))


def dedup_group_quality(
    pairs: DataFrame,
    sim_col: str = "jaccard_sim",
    id_a: str = "id_a",
    id_b: str = "id_b",
    round_digits: int = 6,
) -> DataFrame:
    """Over-merge audit for near-dup groups: connected components glue
    documents together transitively (A~B, B~C puts A with C even when
    sim(A,C) is low), so before dropping every non-minimum member you
    want each group's edge-similarity profile — a big group held
    together by one weak edge is a dedup FALSE MERGE about to delete
    distinct documents.

    Per group: member count, verified-edge count, the weakest and the
    mean edge similarity (decimal-accumulated).  Runs entirely on the
    pair/group tables the LSH operators already produced — no second
    pass over the corpus.

    Returns ``(group_id, group_size, n_edges, min_sim, mean_sim)``.
    """
    # the pair table feeds THREE consumers (the component fold, the
    # size rollup via groups, and the edge-similarity aggregate) — on a
    # lazy LSH plan the whole candidate+verify pipeline would re-execute
    # per consumer (9 parquet scans in the gate's final plan before
    # this; guide §2.4/§3.3 materialize-shared-subtrees).  Pairs are the
    # contaminated minority, so the checkpoint is small at any corpus
    # scale.
    pairs = pairs.localCheckpoint()
    groups = pairs_to_groups(pairs, id_a, id_b)
    sizes = groups.groupBy(F.col("group").alias("group_id")).agg(
        F.count(F.lit(1)).alias("group_size"))
    edges = pairs.join(
        groups.select(F.col("node").alias(id_a),
                      F.col("group").alias("group_id")), id_a)
    s = F.col(sim_col)
    estats = edges.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.min(s).alias("min_sim"),
        F.round(F.sum(s.cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1)), round_digits).alias("mean_sim"))
    return (sizes.join(estats, "group_id")
            .orderBy("group_id"))


def prefix_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_chars: int = 24,
    source_col: str | None = None,
) -> DataFrame:
    """Shared-prefix duplicate detection: documents whose normalized
    text starts with the same ``prefix_chars`` characters — the crawl-
    artifact signal (boilerplate headers, mirrored templates) that
    whole-document fingerprints miss when tails differ and shingle
    methods dilute across a long body.

    One substring projection + one hash groupBy; emits only groups with
    more than one document.  Returns ``(prefix, n_docs[, n_sources])``.
    """
    if prefix_chars < 1:
        raise ValueError("prefix_chars must be >= 1")
    from .text import normalize_text

    pre = F.substring(normalize_text(text_col), 1, prefix_chars)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if source_col is not None:
        aggs.append(F.count_distinct(F.col(source_col)).alias("n_sources"))
    return (df.groupBy(pre.alias("prefix")).agg(*aggs)
            .filter(F.col("n_docs") > 1)
            .orderBy("prefix"))


def near_dup_label_confusion(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.8,
    round_digits: int = 6,
) -> DataFrame:
    """Label consistency over near-duplicate pairs: for every MinHash-LSH
    pair, the (unordered) label pair of its two sides — the annotation-
    noise / wrong-language-mirror audit.  Off-diagonal cells are
    near-identical documents carrying DIFFERENT labels: at training time
    those pairs should collapse to one label or be dropped, and a heavy
    off-diagonal against one label pair usually means one side of a
    mirrored corpus is mis-tagged.

    Cost is the LSH pair table (the dedup run's own price) plus two
    id-keyed joins of the tiny label projection; the confusion aggregate
    runs on the pair table, never the corpus.

    Returns ``(label_a, label_b, n_pairs, mean_sim)`` with
    ``label_a <= label_b``, ordered.
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col, num_hashes, bands, k,
                              threshold)
    lab = df.select(F.col(id_col).alias("__id"),
                    F.col(label_col).alias("__lab"))
    j = (pairs
         .join(lab.withColumnRenamed("__id", "id_a")
               .withColumnRenamed("__lab", "__la"), "id_a")
         .join(lab.withColumnRenamed("__id", "id_b")
               .withColumnRenamed("__lab", "__lb"), "id_b"))
    la = F.least(F.col("__la"), F.col("__lb"))
    lb = F.greatest(F.col("__la"), F.col("__lb"))
    cnt = F.count(F.lit(1))
    return (j.select(la.alias("label_a"), lb.alias("label_b"),
                     F.col("jaccard_sim"))
            .groupBy("label_a", "label_b")
            .agg(cnt.alias("n_pairs"),
                 (F.round(F.sum(F.col("jaccard_sim").cast("decimal(18,12)"))
                          .cast("double") / cnt.cast("double"), round_digits)
                  + F.lit(0.0)).alias("mean_sim"))
            .orderBy("label_a", "label_b"))


def chunk_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    chunk_tokens: int = 12,
    round_digits: int = 6,
) -> DataFrame:
    """Chunk-grain duplication: split every document's NORMALIZED text
    into fixed ``chunk_tokens``-token chunks, fingerprint each chunk,
    and report per source how many chunks repeat corpus-wide — the
    boilerplate measure at exactly the granularity RAG retrieval and
    sequence packing consume (doc-level dedup misses a shared footer;
    span stats count n-grams; this counts the unit you'd actually
    deduplicate a chunk store by).

    Map-only chunk explode (the chunk_documents shape) + one md5
    groupBy for corpus-wide chunk frequencies + one per-source
    aggregate.

    Returns ``(source, n_chunks, n_dup_chunks, dup_chunk_rate)``
    ordered by source.
    """
    from hazelcast_jet_spark.operators.text import chunk_documents

    base = df.select(F.col(id_col).alias("id"),
                     F.col(source_col).alias("source"),
                     F.col(text_col).alias("__txt"))
    # chunk_documents normalizes internally (the dedup canonical form)
    chunks = chunk_documents(base, id_col="id", text_col="__txt",
                             chunk_tokens=chunk_tokens, overlap=0,
                             keep_cols=["source"])
    fp = chunks.select("source", F.md5(F.col("chunk_text")).alias("__fp"))
    fp = fp.withColumn(
        "__dup",
        (F.count(F.lit(1)).over(Window.partitionBy("__fp")) > 1)
        .cast("bigint"))
    return (fp.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("__dup").alias("n_dup_chunks"))
            .select("source", "n_chunks", "n_dup_chunks",
                    (F.round(F.col("n_dup_chunks").cast("double")
                             / F.col("n_chunks").cast("double"),
                             round_digits) + F.lit(0.0))
                    .alias("dup_chunk_rate"))
            .orderBy("source"))


def lsh_band_diagnostics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.8,
    round_digits: int = 6,
) -> DataFrame:
    """Per-band LSH tuning diagnostics: how many candidate pairs each
    band contributes and what fraction verify at the Jaccard threshold
    — the measurement behind the (bands, rows-per-band) knob.  Uniform
    low precision across bands = the banding is too permissive (wasted
    verify compute); one saturated band = a degenerate minhash slot or
    boilerplate bucket to cap.

    Same plan as :func:`minhash_lsh_pairs` with the band kept through
    candidate generation: a pair colliding in 3 bands is counted (and
    verified) in each — the per-band workload is exactly what you pay,
    which is the point of the diagnostic.

    Returns ``(band INT, n_candidate_pairs, n_verified, precision)``
    ordered by band.
    """
    rows_per_band = num_hashes // bands
    df = ensure_parallelism(df)
    base = df.select(F.col(id_col).alias("id"),
                     shingles(text_col, k).alias("sh")).persist()
    sigs = base.select(
        "id",
        F.array(*[
            F.array_min(F.transform(F.col("sh"), _minhash_fn(j)))
            for j in range(num_hashes)
        ]).alias("sig"))
    bucketed = sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(
                    "|", *[F.col("sig")[b * rows_per_band + r]
                           for r in range(rows_per_band)])).alias("bucket"),
            ) for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    l, r = bucketed.alias("l"), bucketed.alias("r")
    cands = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.band").alias("band"),
                F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["band", "id_a", "id_b"]))
    sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    _register_cache(base)
    verified = (
        cands.join(sh_a, "id_a").join(sh_b, "id_b")
        .select("band",
                (F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
                 >= F.lit(threshold)).cast("bigint").alias("__ok")))
    return (verified.groupBy("band")
            .agg(F.count(F.lit(1)).alias("n_candidate_pairs"),
                 F.sum("__ok").alias("n_verified"))
            .select(F.col("band").cast("int").alias("band"),
                    "n_candidate_pairs", "n_verified",
                    (F.round(F.col("n_verified").cast("double")
                             / F.col("n_candidate_pairs").cast("double"),
                             round_digits) + F.lit(0.0)).alias("precision"))
            .orderBy("band"))
