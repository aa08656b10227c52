"""In-engine BPE tokenizer training and application (Sennrich, Haddow &
Birch 2016, "Neural Machine Translation of Rare Words with Subword
Units") — the LEARN half of corpus-scale tokenization
(:func:`~hazelcast_jet_spark.operators.text.build_vocab` covers word-id
vocabularies; this learns the subword segmentation itself).

Scale shape — the part that matters at 100 TB:

- The corpus is scanned EXACTLY ONCE, to build the word-frequency
  table.  Every BPE iteration after that runs on the vocab table
  (|distinct words| rows, counts attached) — corpus size never enters
  the merge loop.  This is the textbook distributed-BPE decomposition:
  pair statistics over (word, count) are identical to pair statistics
  over the raw corpus.
- Each iteration: one vocab-bounded aggregation (adjacent-pair counts
  weighted by word count) + one 1-row driver read (the argmax pair) +
  one map-only fold rewriting the symbol arrays.  The vocab frame is
  localCheckpoint-ed per iteration so analysis cost stays O(1) per
  merge instead of re-walking an ever-deeper plan.
- Merge application is a LEFT-TO-RIGHT NON-OVERLAPPING fold — the
  greedy semantics of the reference implementation — expressed as a
  JVM ``aggregate`` HOF (no Python in the loop).

Determinism: ties on pair count break by (first, second) symbol
ascending, so the merge sequence is a pure function of the corpus —
re-runs, repartitions, and independent engines agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hazelcast_jet_spark.operators.graph_local import unpersist_checkpoint
from hazelcast_jet_spark.operators.text import tokens

#: terminal symbol appended to every word (Sennrich's </w> convention:
#: lets the model distinguish "low" the word from "low" the prefix)
WORD_END = "</w>"

_EMPTY = "CAST(array() AS array<string>)"


def _char_syms(word: Column) -> Column:
    """Initial symbol array of a word: its characters + the terminal.
    Guarded for the empty string — Spark's ``sequence(1, 0)`` DESCENDS
    ([1, 0]) instead of yielding an empty range."""
    idx = F.when(F.length(word) > 0,
                 F.sequence(F.lit(1), F.length(word))
                 ).otherwise(F.expr("CAST(array() AS array<int>)"))
    chars = F.transform(idx, lambda i: word.substr(i, F.lit(1)))
    return F.concat(chars, F.array(F.lit(WORD_END)))


def merge_fold(syms: Column, a: str, b: str) -> Column:
    """Apply ONE merge (a, b) → "ab" to a symbol array: greedy
    left-to-right non-overlapping, as a JVM aggregate fold (equivalent
    to the reference implementation's scan, and to a delimited-string
    ``replace`` — the property the SQL oracle uses)."""
    merged = F.lit(a + b)
    return F.aggregate(
        syms, F.expr(_EMPTY),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_fit(df: DataFrame, text_col: str = "text", n_merges: int = 32,
            min_pair_count: int = 2) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a corpus.  Returns the ordered
    merge list — feed it to :func:`bpe_segments` (JVM path, small merge
    lists) or :func:`bpe_apply_pandas` (vectorized path, full-size
    tokenizers).

    Stops early when no pair reaches ``min_pair_count`` (merging
    singletons memorizes noise).  One corpus scan total; see module
    docstring for the per-iteration shape.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    )
    cur = words.select("n", _char_syms(F.col("w")).alias("syms"))
    cur = cur.localCheckpoint(eager=True)
    big = 1 << 20
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        z = F.arrays_zip(
            F.slice(F.col("syms"), 1, big).alias("x"),
            F.slice(F.col("syms"), 2, big).alias("y"))
        pairs = (
            cur.select("n", F.explode(z).alias("p"))
            .filter(F.col("p.y").isNotNull())
            .groupBy(F.col("p.x").alias("a"), F.col("p.y").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        nxt = cur.select("n", merge_fold(F.col("syms"), a, b).alias("syms"))
        nxt = nxt.localCheckpoint(eager=True)
        unpersist_checkpoint(cur)
        cur = nxt
    unpersist_checkpoint(cur)
    return merges


def bpe_segments(col: Column | str, merges: list[tuple[str, str]]) -> Column:
    """Segment whole-text into BPE symbols with the learned merges —
    all JVM expressions (tokenize → per-word char symbols → one fold
    per merge), flattened across the text's words.

    Expression depth grows with ``len(merges)``; right for gate-sized
    or demonstration merge lists (≲ 32).  Production-size tokenizers
    (10k+ merges) should use :func:`bpe_apply_pandas`.
    """
    c = F.col(col) if isinstance(col, str) else col

    def _segment_word(w: Column) -> Column:
        s = _char_syms(w)
        for a, b in merges:
            s = merge_fold(s, a, b)
        return s

    words = F.filter(tokens(c), lambda w: F.length(w) > 0)
    return F.flatten(F.transform(words, _segment_word))


def bpe_apply_pandas(df: DataFrame, text_col: str, merges: list[tuple[str, str]],
                     out_col: str = "bpe_syms") -> DataFrame:
    """Vectorized merge application for full-size merge lists: one
    left-to-right pass PER MERGE per DISTINCT word (identical semantics
    to :func:`merge_fold`'s sequential fold — by construction, not by
    luck: rank-priority re-scanning can diverge from sequential
    application when two merges produce the same symbol), memoized per
    batch (corpora repeat words heavily, so the amortized cost per row
    is a dict lookup), via mapInPandas — Arrow batches in, list columns
    out.  Identical output to :func:`bpe_segments` (property-tested) —
    including the word split: Java's ``\\s`` is ASCII-only
    (``[ \\t\\n\\x0B\\f\\r]``) while Python's ``str.split()`` splits on
    any Unicode whitespace (NBSP, U+2028, ...), so this path splits
    with the explicit Java class, not ``str.split``."""
    import re

    import pandas as pd

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(StringType()))])

    def _encode_word(w: str, cache: dict) -> list[str]:
        got = cache.get(w)
        if got is not None:
            return got
        syms = list(w) + [WORD_END]
        for a, b in merges:
            if len(syms) < 2:
                break
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[w] = syms
        return syms

    # Java \s, exactly (tokens() splits on it JVM-side); empties dropped
    # like bpe_segments' length>0 filter, which also makes trim moot.
    _java_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def _run(batches):
        cache: dict = {}
        for pdf in batches:
            texts = pdf[text_col]
            col = []
            for t in texts:
                if t is None:
                    col.append(None)
                    continue
                syms: list[str] = []
                for w in _java_ws.split(t):
                    if w:
                        syms.extend(_encode_word(w, cache))
                col.append(syms)
            pdf = pdf.copy()
            pdf[out_col] = pd.Series(col, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(_run, out_schema)
