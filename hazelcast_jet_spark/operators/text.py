"""Text analysis operators for training-data pipelines (SURVEY Phase 5).

All hot-path logic is pyspark built-in expressions (JVM, whole-stage
codegen) — no Python UDFs — so these run at full scan speed on a 100 TB
documents table.  Every operator is also expressible in ANSI SQL for the
DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: deliberately small, deterministic English marker set for the n-gram /
#: stopword language heuristic (shared with the SQL oracle — keep in sync).
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the canonical token counter's base)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    """Token counting: whitespace tokens of non-empty trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(tokens(c)))


#: BPE-ish pre-tokenization pattern (GPT-2-style, simplified to what both
#: Spark (Java regex) and DuckDB (RE2) support identically): letter runs,
#: digit runs, or single non-space symbols.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def regex_tokens(col: Column | str) -> Column:
    """BPE-ish regex tokenization (the subword-count basis); returns the
    token array.  Jet has no analog — training-data pipeline extension."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)


def regex_token_count(col: Column | str) -> Column:
    return F.size(regex_tokens(col))


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are English stopwords (marker-word score)."""
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return hits / F.size(toks)


def lang_id(col: Column | str, threshold: float = 0.05) -> Column:
    """Heuristic language ID: texts whose stopword ratio clears the
    threshold are tagged 'en', else 'unknown'.  (A real model would be a
    pandas UDF via map_using_service; this keeps the 100 TB scan JVM-side.)"""
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(F.lit("unknown"))


def quality_score(col: Column | str) -> Column:
    """Quality scoring: mean word length + alpha-char ratio + stopword
    presence, scaled to [0, ~3].  Deterministic arithmetic only."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    n_tok = token_count(c)
    mean_word_len = n_alpha / F.greatest(n_tok, F.lit(1))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    return (
        F.least(mean_word_len / F.lit(8.0), F.lit(1.0))
        + alpha_ratio
        + F.least(stopword_ratio(c) * 10.0, F.lit(1.0))
    )


def normalize_text(col: Column | str) -> Column:
    """Canonical form used by fingerprinting + exact dedup: lowercase,
    strip non-alphanumerics to spaces, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text.  md5 (not Spark's
    xxhash64) so the value is engine-independent — DuckDB/Trino/Spark all
    agree, which makes dedup joins portable across engines."""
    return F.md5(normalize_text(col))


def tf_idf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
           log_idf: bool = False) -> DataFrame:
    """TF-IDF over a documents table (the reference's flagship
    ``examples/tf-idf`` pipeline, there a hand-built fork/join DAG of
    tokenize → groupBy → hashJoin; here three declarative aggregations).

    Returns ``(id_col, term, tf, df, tf_idf)``.  Terms come from
    :func:`normalize_text` + whitespace split, the same canonicalization
    the dedup operators use.  Document count is joined in as a broadcast
    1-row aggregate — no separate driver action, the whole plan stays lazy.

    ``log_idf=False`` (default) scores ``tf * N / df`` — multiplicative
    idf with only IEEE mul/div, bit-identical across engines, so the
    correctness gate can hash it.  ``log_idf=True`` gives the textbook
    ``tf * ln(N/df)`` (libm ``log`` may differ by ulps across engines —
    fine for ranking, not for exact-hash comparison).
    """
    terms = (
        df.select(id_col, F.explode(F.split(normalize_text(text_col), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n_docs))
    if log_idf:
        score = F.col("tf").cast("double") * F.log(
            F.col("n_docs").cast("double") / F.col("df").cast("double"))
    else:
        score = (F.col("tf").cast("double") * F.col("n_docs").cast("double")) / F.col("df").cast("double")
    return scored.select(id_col, "term", "tf", "df", score.alias("tf_idf"))


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass feature extraction over a documents table."""
    from hazelcast_jet_spark.session import ensure_parallelism

    return ensure_parallelism(df).select(
        "*",
        token_count(text_col).alias("n_tokens"),
        F.round(stopword_ratio(text_col), 6).alias("stopword_ratio"),
        lang_id(text_col).alias("lang_pred"),
        F.round(quality_score(text_col), 6).alias("quality"),
        fingerprint(text_col).alias("fp"),
    )


def winnow_fingerprints(col: Column | str, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm) — the build brief's 'document fingerprinting
    (rolling hash)' component, strictly stronger than the whole-doc md5
    :func:`fingerprint`: robust to local edits and position shifts.

    Character k-grams of the normalized text are hashed (md5 prefix as a
    bigint — engine-portable, same idiom as operators/sketch.py), and
    each window of ``w`` consecutive k-gram hashes contributes its
    minimum; the distinct minima are the fingerprint set.  Two documents
    sharing a sufficiently long run of text are GUARANTEED to share a
    fingerprint (winnowing's coverage property), so near-dup candidate
    generation is an equi-join on fingerprints — never all-pairs.

    All JVM expressions (transform/sequence/slice/array_min): per-row
    cost O(len·w) with zero Python; returns array<bigint> sorted
    ascending for deterministic cross-engine comparison.  Docs shorter
    than k chars fingerprint their whole normalized text.

    .. warning:: Convenience single-Column form — the normalization
       subtree is a free variable inside the k-gram lambda, so Spark
       re-evaluates it per element (O(len²) per doc).  For bulk corpus
       fingerprinting use the staged projections in
       ``operators.dedup.winnow_dup_pairs``, which materialize the
       normalized text and the hash array once per row (~30x faster).
    """
    norm = normalize_text(col)
    n = F.length(norm)
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.conv(F.substring(F.md5(F.substr(norm, i, F.lit(k))), 1, 12),
                         16, 10).cast("bigint"),
    )
    nh = F.size(hashes)
    mins = F.when(
        nh >= w,
        F.transform(F.sequence(F.lit(1), nh - (w - 1)),
                    lambda i: F.array_min(F.slice(hashes, i, w))),
    ).otherwise(F.array(F.array_min(hashes)))
    return F.array_sort(F.array_distinct(mins))


def word_ngrams(tokens: Column | str, n: int = 2) -> Column:
    """NON-distinct word n-grams of a token-array column (zip-shift shape,
    one pass, no index lambdas).  Pass a materialized token array column —
    not an expression — so nothing heavy re-evaluates per element.  Docs
    shorter than n words yield an empty array.  Distinct shingles for
    dedup live in operators.dedup.shingles; this keeps multiplicity for
    repetition statistics (Gopher-style quality rules)."""
    toks = F.col(tokens) if isinstance(tokens, str) else tokens
    big = 1 << 20
    fields = [toks.alias("t0")] + [
        F.concat(F.slice(toks, j + 1, big), F.array(*[F.lit(None)] * j)).alias(f"t{j}")
        for j in range(1, n)
    ]
    z = F.arrays_zip(*fields)
    grams = F.transform(
        z,
        lambda x: F.when(
            x[f"t{n-1}"].isNotNull(), F.concat_ws(" ", *[x[f"t{j}"] for j in range(n)])
        ),
    )
    return F.array_compact(grams)


def gopher_quality_flags(
    col: Column | str,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.3,
    min_stopword_hits: int = 2,
) -> Column:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 "quality
    filtering" — public paper; the reference has no analog, this is a
    training-data pipeline extension) as a struct of per-rule booleans plus
    an overall ``pass`` flag.

    Every rule is a row-local JVM expression — the 100 TB corpus scan stays
    map-only and whole-stage-codegen'd; the repetition rule (top-2-gram
    coverage) is deliberately NOT here because it needs the explode/groupBy
    pipeline (see ``__spark_entry__.repetition_top_ngram``) — compose the
    two frames on doc_id when both families of rules are wanted.

    Rules: word count in [min_words, max_words]; mean word length (alpha
    chars per token) in [min_mean_word_len, max_mean_word_len]; symbol
    (non-alphanumeric, non-space) character ratio ≤ max_symbol_ratio; at
    least min_stopword_hits DISTINCT stopwords present.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    mean_wl = n_alpha / F.greatest(n_tok, F.lit(1))
    n_sym = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    sym_ratio = n_sym / F.greatest(F.length(c), F.lit(1))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    sw_hits = F.size(F.array_intersect(F.transform(tokens(c), F.lower), sw))
    ok_words = (n_tok >= min_words) & (n_tok <= max_words)
    ok_mean_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_symbols = sym_ratio <= max_symbol_ratio
    ok_stopwords = sw_hits >= min_stopword_hits
    return F.struct(
        ok_words.alias("ok_words"),
        ok_mean_wl.alias("ok_mean_word_len"),
        ok_symbols.alias("ok_symbol_ratio"),
        ok_stopwords.alias("ok_stopwords"),
        (ok_words & ok_mean_wl & ok_symbols & ok_stopwords).alias("pass"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 0,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Split documents into fixed-size token chunks with optional overlap —
    the context-window chunking step of an LLM training/RAG pipeline (no
    reference analog; extension).  Chunk ``i`` covers whitespace tokens
    ``[i*stride, i*stride + chunk_tokens)`` with ``stride = chunk_tokens -
    overlap``; the final chunk may be short, and a doc shorter than one
    chunk yields exactly one chunk.

    Pure map-side explode (sequence → transform → explode): zero shuffles,
    so a 100 TB corpus chunks at scan speed and downstream ops see rows
    already co-partitioned with their source doc.  Token array is
    materialized once per row before the per-chunk lambda (staged
    projection — the winnow_dup_pairs lesson).

    Returns ``(id_col, *keep_cols, chunk_id, chunk_text, chunk_n_tokens)``
    — ``keep_cols`` ride along map-side (no join-back needed to recover
    doc metadata like language or source).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    keep_cols = list(keep_cols or [])
    toks = df.select(
        F.col(id_col), *keep_cols,
        F.split(normalize_text(text_col), " ").alias("_toks")
    )
    n = F.size("_toks")
    # integer ceil-div (engine-exact at any n, no double rounding):
    # n_chunks = ceil((n - overlap) / stride), floored at 1
    n_chunks = F.greatest(
        F.expr(f"(size(_toks) - {overlap} + {stride - 1}) div {stride}").cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.slice(F.col("_toks"), i * stride + 1, chunk_tokens).alias("ctoks"),
        ),
    )
    return (
        toks.select(F.col(id_col), *keep_cols, F.explode(chunks).alias("c"))
        .select(
            id_col, *keep_cols,
            F.col("c.chunk_id").alias("chunk_id"),
            F.concat_ws(" ", F.col("c.ctoks")).alias("chunk_text"),
            F.size("c.ctoks").alias("chunk_n_tokens"),
        )
    )


#: tracking query parameters stripped by canonicalize_url (utm_* handled
#: by pattern; these exact keys too) — keep in sync with the SQL oracle
TRACKING_PARAMS = ("fbclid", "gclid", "ref", "source")


def canonicalize_url(col: Column | str) -> Column:
    """Canonical URL form for dedup-by-URL (the C4/web-crawl keep-one-per-
    URL rule; no reference analog — training-data pipeline extension):

    - lowercase scheme+host, strip the scheme (http/https collapse)
    - strip a leading ``www.``
    - strip the fragment (``#…``)
    - strip tracking query params (``utm_*`` + TRACKING_PARAMS), and the
      whole ``?`` when nothing survives
    - strip a trailing slash on the path

    Chained regexp_replace — map-only JVM, full-scan speed; patterns are
    RE2-safe (no lookaround) so the same SQL runs on any oracle engine.
    Deliberately conservative: it does NOT sort surviving query params or
    decode percent-escapes (either can change semantics on real sites).
    """
    c = F.col(col) if isinstance(col, str) else col
    u = F.lower(F.trim(c))
    u = F.regexp_replace(u, r"^https?://", "")          # scheme off
    u = F.regexp_replace(u, r"^www\.", "")              # www off
    u = F.regexp_replace(u, r"#.*$", "")                # fragment off
    # tracking params: utm_* and the known keys, with their values
    tracked = "utm_[a-z]+|" + "|".join(TRACKING_PARAMS)
    u = F.regexp_replace(u, r"([?&])(" + tracked + r")=[^&#]*", "$1")
    u = F.regexp_replace(u, r"\?&+", "?")               # ?&& -> ?
    u = F.regexp_replace(u, r"&&+", "&")                # && -> &
    u = F.regexp_replace(u, r"[?&]$", "")               # dangling ? or &
    u = F.regexp_replace(u, r"/\?", "?")                # path slash before query
    u = F.regexp_replace(u, r"/$", "")                  # trailing slash
    return u


def unigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_df: DataFrame | None = None,
    alpha: float = 0.0,
) -> DataFrame:
    """Per-document unigram language-model surprisal — the CCNet-style
    quality signal (Wenzek et al. 2020 score with a KenLM; here a unigram
    MLE trained on ``lm_df`` or, by default, the corpus itself): returns
    ``(id_col, n_tokens, mean_nll)`` where mean_nll = mean over tokens of
    ``-ln p(token)``.  High surprisal ⇒ unusual/garbled text; low ⇒
    boilerplate.  Sort ascending for "most templated", descending for
    "most out-of-distribution".

    Scale shape: one explode + two aggregations (the tf_idf pattern) —
    the vocabulary aggregate is tiny next to the corpus and joins back
    broadcast at moderate vocab sizes (AQE decides at 100 TB);
    the corpus is never collected.  ``alpha`` adds Laplace smoothing
    (needed when scoring docs against a foreign LM whose vocabulary may
    not cover them; unseen tokens then cost ``-ln(alpha / (N + alpha·V))``).

    Cross-engine determinism: ``ln`` is bit-identical (correctly-rounded
    libm on both engines — probed), and per-token logs are accumulated in
    DECIMAL(18,12) (exact, order-independent) before one final double
    division, so the result hashes identically on any oracle engine.
    """
    toks = (
        df.select(F.col(id_col), F.explode(
            F.split(normalize_text(text_col), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    # training needs only the token stream — lm_df does NOT need id_col
    train = toks if lm_df is None else (
        lm_df.select(F.explode(
            F.split(normalize_text(text_col), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    vocab = train.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size"))
    probs = vocab.crossJoin(F.broadcast(totals)).select(
        "term",
        ((F.col("c") + F.lit(alpha))
         / (F.col("n_total") + F.lit(alpha) * F.col("v_size"))).alias("p"),
    )
    joined = toks.join(probs, "term", "left")
    if alpha > 0:
        unseen = (F.lit(alpha)).cast("double")  # numerator for c = 0
        denom_probs = F.broadcast(totals)
        joined = joined.crossJoin(denom_probs).withColumn(
            "p",
            F.coalesce(
                F.col("p"),
                unseen / (F.col("n_total") + F.lit(alpha) * F.col("v_size"))),
        )
    nll = (-F.log("p")).cast("decimal(18,12)")
    return (
        joined.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum(nll).alias("_s"))
        .select(
            id_col, "n_tokens",
            F.round(F.col("_s").cast("double") / F.col("n_tokens"), 6)
            .alias("mean_nll"),
        )
    )


def url_host(col: Column | str) -> Column:
    """Host of a URL (after :func:`canonicalize_url` semantics: scheme and
    ``www.`` stripped, lowercased) — the group key for per-domain corpus
    stats (compose with :func:`~hazelcast_jet_spark.operators.sketch.
    heavy_hitters` for top-domain reports).  Map-only."""
    c = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(F.regexp_replace(F.lower(F.trim(c)),
                                          r"^https?://", ""), r"^www\.", "")
    return F.regexp_replace(u, r"[/?#].*$", "")


#: PII patterns chosen to behave identically under Java regex (Spark) and
#: RE2 (DuckDB/most engines): no backrefs, no lookaround.  Dict order is
#: the default redaction order — most specific first, because the loose
#: phone pattern would otherwise swallow SSNs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def scrub_pii(col: Column | str, kinds: tuple[str, ...] = ("email", "ssn", "ipv4", "phone")) -> Column:
    """Redact PII spans with ``[<KIND>]`` tokens — the privacy-filter step
    of a training-data pipeline.  Chained regexp_replace, map-only JVM
    (full scan speed at 100 TB); patterns avoid Java-vs-RE2 dialect
    divergence so the same SQL runs on any oracle engine."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return c


def pii_counts(col: Column | str) -> Column:
    """Struct of per-kind PII match counts (for audit/reporting)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(*[
        F.size(F.regexp_extract_all(c, F.lit(p), 0)).alias(kind)
        for kind, p in PII_PATTERNS.items()
    ])


#: ln(2) as the exact double both engines divide by for nats → bits
_LN2 = 0.6931471805599453


def char_entropy(col: Column | str, round_digits: int = 6) -> Column:
    """Shannon entropy (bits/char) of a document's character
    distribution — the randomness/boilerplate quality signal: near-zero
    for repeated-character spam, low for templated boilerplate,
    anomalously high for base64/binary junk; natural-language prose
    sits in a stable mid band (used as a cheap pre-filter alongside
    :func:`gopher_quality_flags`).

    Pure Column expression, map-only, whole-stage codegen.  Counting is
    ONE fold over the SORTED char array (run-length counting): sort
    groups equal chars into runs, the fold closes a term each time the
    char changes — O(len·log len) per document with no nested loop.
    (The naive ``transform(array_distinct, c -> count(filter(...)))``
    shape is O(len·distinct) and, worse, Catalyst does not CSE the
    char-split across nested lambdas, so the split itself re-executes
    per distinct char — measured 5.1 s → ~1 s at sf0.1.)

    Engine-portable determinism (the :func:`unigram_lm_score`
    convention): per-run terms ``-(p·ln p)`` are cast to
    DECIMAL(18,12) and summed exactly — the result is independent of
    enumeration order, so the SQL oracle may count per distinct char —
    then one double division by ln 2 and a final round.  NULL text →
    NULL; empty text → 0.0.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)

    def term(run: Column) -> Column:
        return (-(run / n) * F.log(run / n)).cast("decimal(18,12)")

    # Run-length counting via ONE native regex over the sorted string:
    # `(?s)(.)\1*` greedily matches each maximal equal-char run (DOTALL
    # so newline runs aren't skipped), so the interpreted lambda executes
    # once per RUN (≤ distinct chars, ~dozens) instead of once per CHAR.
    # The r12 before-shape was a per-char fold carrying a
    # (prev, run, decimal-sum) struct through Catalyst's interpreted
    # higher-order path — measured 4.0 s at sf0.1 for 1.5 M chars; the
    # regex form runs the same corpus in ~1 s with bit-identical output
    # (same run lengths, same DECIMAL(18,12) terms, exact decimal sum is
    # order-free).  array_join propagates NULL input (concat_ws would
    # turn NULL into "").  Unicode note: the regex counts a surrogate
    # PAIR as one char where the old code-unit fold counted two — both
    # conventions only coincide with the per-code-point oracle on BMP
    # text, which the corpus contract guarantees.
    runs = F.regexp_extract_all(
        F.array_join(F.array_sort(F.split(c, "")), ""),
        F.lit(r"(?s)(.)\1*"), F.lit(0))
    s = F.aggregate(
        runs,
        F.lit(0).cast("decimal(28,12)"),
        lambda acc, run: (acc + term(F.length(run))).cast("decimal(28,12)"),
    )
    bits = s.cast("double") / F.lit(_LN2)
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(bits, round_digits))


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Per-document BIGRAM language-model surprisal with interpolated
    unigram backoff — the step up from :func:`unigram_lm_score` toward
    the CCNet/KenLM quality signal: per bigram token,

        nll = −ln( λ·p(w₂|w₁) + (1−λ)·p(w₂) )

    with MLE estimates from the corpus itself (``p(w₂|w₁) =
    c(w₁w₂)/c(w₁·)``).  Bigram surprisal separates "common words in
    impossible order" (shuffled/generated junk — high) from genuinely
    common phrases (boilerplate — low), which a unigram model cannot.

    Returns ``(id_col, n_bigrams, mean_nll)``; docs under 2 words have
    no bigram features and are omitted.

    Scale shape: the gram stream is built map-only (zip-shift
    ``word_ngrams``) and persists across its two consumers; the bigram
    /context/unigram count tables are vocabulary-bounded aggregates
    that join back (broadcast at moderate vocab, AQE decides at
    100 TB); totals come from an unpartitioned window over the tiny
    unigram table, never a driver round-trip.  The corpus itself
    shuffles only for the per-doc aggregate.

    Determinism (the :func:`unigram_lm_score` convention): every
    probability is a double quotient of exact integers combined in a
    fixed expression order, ``ln`` is bit-identical across engines, and
    per-gram nll terms accumulate in DECIMAL(18,12) before one final
    double division — hashes identically on a SQL oracle engine.
    ``lam`` should be an exact binary fraction (default 0.75).
    """
    from pyspark.sql.window import Window

    from hazelcast_jet_spark.operators.dedup import _register_cache

    toks = df.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("__t"))
    grams = (
        toks.filter(F.size("__t") >= 2)
        .select(id_col, F.explode(word_ngrams("__t", 2)).alias("__gram"))
        .persist()
    )
    _register_cache(grams)
    uni = (
        toks.select(F.explode("__t").alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w").agg(F.count(F.lit(1)).alias("__c_u"))
    )
    all_w = Window.partitionBy()  # vocabulary-sized table: one tiny partition
    uni = uni.withColumn("__n_total", F.sum("__c_u").over(all_w))
    bg = grams.groupBy("__gram").agg(F.count(F.lit(1)).alias("__c_bg"))
    bg = bg.withColumn("__w1", F.substring_index("__gram", " ", 1)) \
           .withColumn("__w2", F.substring_index("__gram", " ", -1))
    ctx = bg.groupBy("__w1").agg(F.sum("__c_bg").alias("__c_ctx"))
    p = (
        F.lit(float(lam)) * (F.col("__c_bg") / F.col("__c_ctx"))
        + F.lit(1.0 - float(lam)) * (F.col("__c_u") / F.col("__n_total"))
    )
    probs = (
        bg.join(F.broadcast(ctx), "__w1")
        .join(F.broadcast(uni.withColumnRenamed("__w", "__w2")), "__w2")
        .select("__gram", (-F.log(p)).cast("decimal(18,12)").alias("__nll"))
    )
    return (
        grams.join(probs, "__gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("__nll").alias("__s"))
        .select(
            id_col, "n_bigrams",
            F.round(F.col("__s").cast("double") / F.col("n_bigrams"), 6)
            .alias("mean_nll"),
        )
    )


def build_vocab(df: DataFrame, text_col: str = "text",
                size: int = 4096) -> DataFrame:
    """Deterministic word-level vocabulary of the ``size`` most frequent
    normalized tokens: ``(term, token_id)`` with ids 1..size assigned by
    (frequency desc, term asc) — reproducible on any engine/partitioning.
    Id 0 is reserved for OOV (:func:`tokenize_ids`'s ``unk_id``).

    One explode + one vocabulary-bounded aggregate; the ranking window
    runs unpartitioned over the vocab-sized table only (the dsir/tf_idf
    totals pattern — never over the corpus).
    """
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(
            F.split(normalize_text(text_col), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term").agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy().orderBy(F.col("__c").desc(), F.col("term"))
    return (
        counts.withColumn("token_id", F.row_number().over(w).cast("int"))
        .filter(F.col("token_id") <= size)
        .select("term", "token_id")
    )


def tokenize_ids(df: DataFrame, vocab: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 unk_id: int = 0) -> DataFrame:
    """Tokenize documents to id sequences against a vocabulary — the
    corpus-scale "apply the tokenizer" step feeding sequence packing
    (:mod:`~hazelcast_jet_spark.operators.packing`).  Word-level lookup
    stands in for a subword encoder; the plumbing (order-preserving id
    arrays, OOV accounting, broadcast vocab) is exactly what a BPE
    encoder wrapped in a pandas UDF would reuse.

    Returns ``(id_col, ids array<int>, n_tokens, n_unk)`` with ``ids``
    in original token order; OOV tokens map to ``unk_id``.  Empty
    normalized tokens are dropped; docs with no tokens are omitted.

    Scale: posexplode (map-only) → broadcast vocab join (the vocab is
    ``size`` rows by construction) → one per-doc aggregate rebuilding
    order via ``array_sort(collect_list(struct(pos, id)))`` — a single
    corpus shuffle keyed by document, same class as any per-doc
    feature aggregate.
    """
    toks = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(normalize_text(text_col), " "))
            .alias("__pos", "__term"))
        .filter(F.col("__term") != "")
    )
    joined = toks.join(F.broadcast(vocab.withColumnRenamed("term", "__term")),
                       "__term", "left")
    tid = F.coalesce(F.col("token_id"), F.lit(int(unk_id))).cast("int")
    return (
        joined.select(
            id_col, "__pos", tid.alias("__tid"),
            F.col("token_id").isNull().cast("bigint").alias("__unk"))
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tid"))),
                lambda s: s["__tid"],
            ).alias("ids"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__unk").alias("n_unk"),
        )
    )


def ngram_novelty(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty vs everything that came BEFORE it in
    ``id_col`` order: how many of the doc's distinct n-grams appear in
    no lower-id document.  The corpus-freshness metric of dataset
    analyses (a near-copy of earlier data scores ≈0; genuinely new text
    scores ≈1) — complements the pairwise dedup ops with a cheap
    per-doc scalar that needs NO pair enumeration.

    Plan at scale — two bounded shuffles, no self-join, no pair blowup:

    1. distinct ``(gram, id)`` explode, then per-gram MIN(id) — the
       map-side partial min keeps shuffle rows at
       distinct-grams-per-partition, and the aggregated "first seen"
       table has one row per distinct gram in the corpus;
    2. the exploded grams rejoin that table ON GRAM (partitioning
       reused from the aggregation) and reduce per doc: a gram is
       novel iff this doc IS its first-seen id.

    Compare: a pairwise formulation (every doc × every earlier doc
    sharing a gram) is quadratic in duplication depth; this is linear
    in corpus gram volume however deep the duplication.

    Returns ``(id_col, n_grams BIGINT, n_novel BIGINT, novelty
    DOUBLE)``; docs with fewer than ``n`` words have 0 grams and NULL
    novelty.
    """
    toks = tokens(F.col(text_col))
    grams = (
        df.select(F.col(id_col).alias("_id"),
                  F.explode(F.array_distinct(
                      word_ngrams(toks, n))).alias("_gram"))
    )
    first_seen = grams.groupBy("_gram").agg(F.min("_id").alias("_first"))
    per_doc = (
        grams.join(first_seen, "_gram")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(F.when(F.col("_id") == F.col("_first"), 1)
                   .otherwise(0)).alias("n_novel"))
    )
    # docs too short for any gram still deserve a row (0, 0, NULL)
    base = df.select(F.col(id_col).alias("_id"))
    return (
        base.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(F.col("n_grams") > 0,
                   F.col("n_novel") / F.col("n_grams")).alias("novelty"),
        )
    )


def bm25_scores(df: DataFrame, query_terms: list[str],
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term query
    (Robertson & Zaragoza 2009) — the retrieval scorer completing the
    text-analysis family next to :func:`tf_idf` (corpus statistics) and
    the LM surprisal scores (fluency):

        score(d) = sum_t idf_t * tf / (tf + k1*(1 - b + b*|d|/avgdl))

    with the Lucene idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    (always positive, stable for df > N/2).

    Plan at scale: ONE corpus scan — a single per-doc token aggregation
    carries the doc length AND one conditional-sum tf per query term;
    tf rows unpivot from that bounded frame (docs x |terms| max), and
    N/avgdl/df are tiny aggregates broadcast back.  The per-doc
    aggregate's consumers share an identical subtree, so Spark's
    exchange reuse materializes it once.  Nothing is collected.

    Determinism: ``ln`` is correctly-rounded libm on both engines (the
    unigram-LM convention); per-term contributions are IEEE doubles
    accumulated in DECIMAL(18,12) — exact, order-independent — and cast
    back once, so the score hashes identically on a SQL oracle.

    Returns ``(id_col, n_hits, bm25)`` for documents matching at least
    one query term; ``n_hits`` = number of distinct query terms present.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    toks = (
        df.select(F.col(id_col), F.explode(
            F.split(normalize_text(text_col), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    # ONE token aggregation carries doc length AND every query term's tf
    # (a per-term conditional sum) — the per-doc frame then feeds tf
    # rows, document frequencies and the corpus stats; its identical
    # aggregate subtree is exchange-reused at runtime, so the corpus is
    # scanned once.
    aggs = [F.count(F.lit(1)).alias("dl")]
    for i, t in enumerate(terms):
        aggs.append(F.sum(F.when(F.col("term") == t, 1).otherwise(0))
                    .alias(f"__tf{i}"))
    per = toks.groupBy(id_col).agg(*aggs)
    # keep the corpus aggregate's input columns identical to tf's (a
    # zero-valued dependency on every __tf column) so Catalyst's column
    # pruning can't diverge the two subtrees — with identical children
    # the per-doc aggregate's exchange is REUSED, not recomputed
    # (verified: ReusedExchange in the executed plan).
    keep_dl = F.col("dl")
    for i in range(len(terms)):
        keep_dl = keep_dl + F.lit(0) * F.col(f"__tf{i}")
    corpus = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep_dl.cast("decimal(18,6)")).alias("sum_dl"))
    stack = ", ".join(
        f"'{t}', CAST(__tf{i} AS BIGINT)" for i, t in enumerate(terms))
    tf = (
        per.selectExpr(id_col, "dl",
                       f"stack({len(terms)}, {stack}) AS (term, tf)")
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = (F.col("sum_dl").cast("double") / F.col("n_docs"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5)))
    contrib = (
        idf * F.col("tf")
        / (F.col("tf")
           + F.lit(float(k1))
           * (F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .select(F.col(id_col), contrib.alias("c"))
    )
    return (
        scored.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"),
             F.sum(F.col("c").cast("decimal(18,12)"))
             .cast("double").alias("bm25"))
    )


def compression_ratio(df: DataFrame, text_col: str = "text",
                      out_col: str = "compression_ratio",
                      level: int = 6) -> DataFrame:
    """Deflate compression ratio per document — the classic
    low-information detector (boilerplate, repeated templates, and
    base64/random noise sit at the two extremes: highly compressible
    ≈ templated, incompressible ≈ encoded junk; natural prose lands in
    between).  Complements :func:`char_entropy` (character-level) with
    a string-structure-level signal that catches LONG-RANGE repetition
    entropy can't see.

    Arrow-batched ``mapInPandas`` over the stdlib zlib codec — the
    documented exception to "stay JVM-side": there is no JVM-expression
    deflate, and zlib at a FIXED level is deterministic bytes-for-bytes
    across platforms (RFC 1951 fixed algorithm), so results are
    reproducible (though not SQL-oracle-expressible — this operator is
    pytest-pinned, not gate-oracled).

    ``ratio = compressed_bytes / utf8_bytes`` (NULL text → NULL;
    empty → NULL, a ratio of header bytes over zero is noise).
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())])

    def run(batches):
        import zlib

        for pdf in batches:
            vals = []
            for t in pdf[text_col]:
                if t is None or len(t) == 0:
                    vals.append(None)
                    continue
                raw = t.encode("utf-8")
                vals.append(len(zlib.compress(raw, level)) / len(raw))
            pdf = pdf.copy()
            pdf[out_col] = pd.Series(vals, index=pdf.index, dtype="float64")
            yield pdf

    return df.mapInPandas(run, out_schema)


def collocations(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", min_count: int = 5,
                 top_k: int = 20, round_digits: int = 6) -> DataFrame:
    """Collocation mining by pointwise mutual information — which word
    PAIRS occur together far more than chance (the phrase/terminology
    extractor of corpus analysis, and the signal behind phrase-aware
    tokenizers):

        PMI(a, b) = ln( p(a,b) / (p(a) p(b)) )

    over adjacent-bigram and unigram frequencies of the normalized
    token stream.  ``min_count`` drops rare pairs (PMI is famously
    noisy at low counts); ``top_k`` ranks by (PMI desc, pair asc).

    Plan at scale: the gram stream aggregates once per arity (the
    bigram-LM shape — vocab-bounded tables, corpus never re-enters);
    unigram totals join back broadcast; the final rank runs on the
    ≥min_count pair table.  All probabilities are double quotients of
    exact integer counts in fixed order; ``ln`` is correctly-rounded
    libm — the statistic hashes exactly on a SQL oracle.

    Returns ``(term_a, term_b, n_pair, pmi)``, top_k rows.
    """
    from pyspark.sql.window import Window

    toks = (
        df.select(F.col(id_col), F.posexplode(
            F.split(normalize_text(text_col), " ")).alias("p", "term"))
        .filter(F.col("term") != "")
    )
    w = Window.partitionBy(id_col).orderBy("p")
    pairs = (
        toks.withColumn("nxt", F.lead("term").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("term").alias("term_a"), F.col("nxt").alias("term_b"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_uni"))
    tot = uni.agg(F.sum("n_uni").alias("n_tok"),
                  F.sum(F.lit(1)).alias("_vocab"))
    npairs = pairs.agg(F.sum("n_pair").alias("n_pair_tot"))
    ua = uni.select(F.col("term").alias("term_a"), F.col("n_uni").alias("na"))
    ub = uni.select(F.col("term").alias("term_b"), F.col("n_uni").alias("nb"))
    j = (pairs.join(F.broadcast(ua), "term_a")
         .join(F.broadcast(ub), "term_b")
         .crossJoin(F.broadcast(tot))
         .crossJoin(F.broadcast(npairs)))
    p_ab = F.col("n_pair").cast("double") / F.col("n_pair_tot")
    p_a = F.col("na").cast("double") / F.col("n_tok")
    p_b = F.col("nb").cast("double") / F.col("n_tok")
    pmi = F.round(F.log(p_ab / (p_a * p_b)), round_digits)
    ranked = j.select("term_a", "term_b", "n_pair", pmi.alias("pmi"))
    wr = Window.orderBy(F.col("pmi").desc(), "term_a", "term_b")
    return (
        ranked.withColumn("__r", F.row_number().over(wr))
        .filter(F.col("__r") <= top_k)
        .drop("__r")
    )


def readability(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                round_digits: int = 6) -> DataFrame:
    """Syllable-heuristic readability metrics per document — the
    classic lexical half of Flesch/Gunning-style scoring (the corpus
    has no sentence punctuation, so the sentence-length term is
    honestly out of scope and the composite is labeled a PROXY):

    - ``n_words``        words of the normalized token stream
    - ``n_syllables``    vowel-group count per word (``[aeiouy]+``
      runs, clamped to >= 1 — the standard cheap syllable estimator),
      summed
    - ``avg_syllables``  n_syllables / n_words
    - ``pct_complex``    fraction of words with >= 3 vowel groups
      (Gunning's "complex word")
    - ``flesch_proxy``   206.835 - 84.6 * avg_syllables (Flesch
      reading-ease with the missing words-per-sentence term dropped)

    All map-only JVM array expressions (split -> transform with
    regexp_extract_all -> aggregate); no exchange at all — the shape
    that runs at input bandwidth on 100 TB.  Ratios are fixed-order
    double quotients of exact integers; the score replays bit-for-bit
    in SQL.  Documents with zero words are dropped (metrics undefined).
    """
    toks = F.filter(F.split(normalize_text(text_col), " "),
                    lambda t: t != "")
    syl = F.transform(
        toks,
        lambda t: F.greatest(
            F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0)),
            F.lit(1)),
    )
    out = (
        df.select(F.col(id_col), syl.alias("__syl"))
        .select(
            id_col,
            F.size("__syl").alias("n_words"),
            F.aggregate("__syl", F.lit(0).cast("long"),
                        lambda acc, x: acc + x.cast("long"))
            .alias("n_syllables"),
            F.size(F.filter("__syl", lambda s: s >= F.lit(3)))
            .alias("n_complex"),
        )
        .filter(F.col("n_words") > 0)
    )
    avg_syl = (F.col("n_syllables").cast("double")
               / F.col("n_words").cast("double"))
    pct_complex = (F.col("n_complex").cast("double")
                   / F.col("n_words").cast("double"))
    return out.select(
        id_col, "n_words", "n_syllables",
        F.round(avg_syl, round_digits).alias("avg_syllables"),
        F.round(pct_complex, round_digits).alias("pct_complex"),
        F.round(F.lit(206.835) - F.lit(84.6) * avg_syl,
                round_digits).alias("flesch_proxy"),
    )


def source_term_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between sources' unigram
    distributions — "which corpora speak the same language?" (domain
    mixing, re-crawl detection at the DISTRIBUTION level, transfer
    pairing).  0 = identical term mix; ln 2 = disjoint vocabularies.

    The naive JSD needs terms present in EITHER source; this
    implementation needs only the INNER join: for a term in p only,
    the contribution is ``p_t/2 * ln 2``, and those mass sums are
    ``1 − sum_{shared} p_t`` — so

        JSD = sum_shared[ p/2·ln(2p/(p+q)) + q/2·ln(2q/(p+q)) ]
              + (1 − P∩)/2·ln2 + (1 − Q∩)/2·ln2

    with every per-term contribution DECIMAL(18,12)-accumulated (the
    BM25/PMI convention: order-free exact sums of fixed-order double
    terms), closing arithmetic fixed-order double — a SQL oracle
    replays the statistic bit-for-bit.

    Plan at scale: ONE corpus aggregate builds the vocab-bounded
    (source, term, n) table; per-source totals broadcast back; the
    pair space is one term-keyed self-join of that table (a term shared
    by s sources yields s·(s−1)/2 rows — bounded by the SOURCE count
    squared per term, and sources are a small dimension by nature).
    The corpus itself never re-enters.

    Returns ``(source_a, source_b, n_shared_terms, jsd)`` for
    ``source_a < source_b``, ordered.
    """
    import math

    ln2 = F.lit(math.log(2.0))
    toks = (
        df.filter(F.col(text_col).isNotNull()
                  & F.col(source_col).isNotNull())
        .select(F.col(source_col).alias("__s"),
                F.explode(F.split(normalize_text(text_col), " "))
                .alias("__t"))
        .filter(F.col("__t") != "")
    )
    uni = toks.groupBy("__s", "__t").agg(F.count(F.lit(1)).alias("__n"))
    tot = uni.groupBy("__s").agg(F.sum("__n").alias("__ns"))
    u = (uni.join(F.broadcast(tot), "__s")
         .select("__s", "__t",
                 (F.col("__n").cast("double")
                  / F.col("__ns").cast("double")).alias("__p")))
    a = u.select(F.col("__s").alias("source_a"), F.col("__t"),
                 F.col("__p").alias("__pa"))
    b = u.select(F.col("__s").alias("source_b"), F.col("__t"),
                 F.col("__p").alias("__pb"))
    pairs = a.join(b, "__t").filter(F.col("source_a") < F.col("source_b"))
    pa, pb = F.col("__pa"), F.col("__pb")
    contrib = ((pa / F.lit(2.0)) * F.log(F.lit(2.0) * pa / (pa + pb))
               + (pb / F.lit(2.0)) * F.log(F.lit(2.0) * pb / (pa + pb)))
    agg = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_terms"),
        F.sum(contrib.cast("decimal(18,12)")).alias("__c"),
        F.sum(pa.cast("decimal(18,12)")).alias("__pm"),
        F.sum(pb.cast("decimal(18,12)")).alias("__qm"),
    )
    jsd = (F.col("__c").cast("double")
           + (F.lit(1.0) - F.col("__pm").cast("double")) / F.lit(2.0) * ln2
           + (F.lit(1.0) - F.col("__qm").cast("double")) / F.lit(2.0) * ln2)
    return agg.select(
        "source_a", "source_b", "n_shared_terms",
        F.round(jsd, round_digits).alias("jsd"),
    ).orderBy("source_a", "source_b")


def lexical_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Type-token lexical-diversity profile per document: token count,
    distinct-type count, type-token ratio, and Herdan's C
    (``log V / log N`` — the length-robust TTR variant; Herdan 1960).
    Low diversity flags templated/boilerplate text the Gopher rules
    miss (a 500-token page of 12 repeated phrases passes every
    length/symbol gate).

    Pure JVM expressions over normalized whitespace tokens — map-only,
    zero shuffles, runs inside the same corpus scan as the other
    row-local quality signals at any scale.
    """
    t = F.split(normalize_text(text_col), " ")
    nt = F.size(t)
    ty = F.size(F.array_distinct(t))
    ttr = F.round(ty.cast("double") / nt.cast("double"), round_digits)
    herdan = F.when(
        (nt > 1) & (ty > 0),
        F.round(F.log(ty.cast("double")) / F.log(nt.cast("double")),
                round_digits))
    return df.select(
        F.col(id_col), nt.alias("n_tokens"), ty.alias("n_types"),
        ttr.alias("ttr"), herdan.alias("herdan_c"))


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoints: tuple[int, ...] = (50, 100, 200, 400),
) -> DataFrame:
    """Heaps'-law vocabulary growth: the distinct vocabulary size (and
    cumulative token count) after the first ``N`` documents in id
    order, for a ladder of checkpoints — the corpus-scaling diagnostic
    behind "will more crawl keep adding words?".

    Shape: one explode → per-term ``min(doc_id)`` (the term's first
    document), one id-only ranking join, then ONE aggregate producing
    every checkpoint as a conditional sum — the corpus text is read
    once and only (term, first_id) pairs shuffle.  The id-rank window
    sorts only the id projection; at 100 TB replace it with a
    precomputed ingest ordinal.
    """
    from pyspark.sql import Window

    if not checkpoints or any(c < 1 for c in checkpoints):
        raise ValueError(f"checkpoints must be positive, got {checkpoints}")
    ranks = df.select(F.col(id_col).alias("__id")).withColumn(
        "__r", F.row_number().over(Window.orderBy("__id")))
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__t"))
    first = toks.groupBy("__t").agg(F.min("__id").alias("__id"))
    first_r = first.join(ranks, "__id").select("__t", "__r")
    tok_n = df.select(
        F.col(id_col).alias("__id"),
        token_count(text_col).alias("__n")).join(ranks, "__id")
    # every checkpoint is a conditional sum in ONE aggregate per input
    # (two single-row frames), then unpivoted — no per-checkpoint jobs
    va = first_r.agg(*[
        F.sum((F.col("__r") <= n).cast("bigint")).alias(f"__v{n}")
        for n in checkpoints])
    ta = tok_n.agg(
        *[F.sum((F.col("__r") <= n).cast("bigint")).alias(f"__d{n}")
          for n in checkpoints],
        *[F.sum(F.when(F.col("__r") <= n, F.col("__n"))
                .otherwise(F.lit(0)).cast("bigint")).alias(f"__t{n}")
          for n in checkpoints])
    wide = va.crossJoin(ta)
    stacked = wide.select(F.explode(F.array(*[
        F.struct(
            F.lit(n).cast("int").alias("checkpoint"),
            F.col(f"__d{n}").alias("n_docs"),
            F.col(f"__v{n}").alias("vocab_size"),
            F.col(f"__t{n}").alias("cum_tokens"))
        for n in checkpoints])).alias("c"))
    return stacked.select("c.checkpoint", "c.n_docs", "c.vocab_size",
                          "c.cum_tokens").orderBy("checkpoint")


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
    round_digits: int = 6,
) -> DataFrame:
    """Zipf's-law fit over the term frequency distribution: OLS of
    ``ln(freq)`` on ``ln(rank)`` for the ``top_n`` most frequent terms
    (rank by count desc, term asc — deterministic).  A healthy natural
    corpus fits slope ≈ −1; templated or synthetic text bends the
    curve.  Returns one row ``(n_terms, slope, intercept)``.

    Moments accumulate as exact decimals (the linear_trend convention)
    so the slope is bit-stable under any partitioning; per-row ``ln``
    products are plain IEEE doubles.  The top-N ranking window runs on
    the term-count table; at 100 TB cut the tail with a count floor or
    heavy_hitters first.
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(F.split(normalize_text(text_col), " "))
                  .alias("__t"))
        .filter(F.col("__t") != "")
        .groupBy("__t").agg(F.count(F.lit(1)).alias("__n")))
    ranked = counts.withColumn(
        "__r", F.row_number().over(
            Window.orderBy(F.col("__n").desc(), F.col("__t")))) \
        .filter(F.col("__r") <= top_n)
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__n").cast("double"))

    def _dacc(c):
        return F.sum(c.cast("decimal(28,12)")).cast("double")

    g = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dacc(x).alias("sx"), _dacc(y).alias("sy"),
        _dacc(x * y).alias("sxy"), _dacc(x * x).alias("sxx"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    # a single-term corpus has den == 0 (0/0 NaN diverges between
    # engines): slope/intercept are explicitly NULL below 2 points on
    # both sides (the oracle carries the matching CASE WHEN n > 1).
    fit_ok = F.col("n") > 1
    return g.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.when(fit_ok, F.round(slope, round_digits) + F.lit(0.0))
        .alias("slope"),
        F.when(fit_ok, F.round(intercept, round_digits) + F.lit(0.0))
        .alias("intercept"))


def vocab_coverage_curve(
    df: DataFrame,
    text_col: str = "text",
    sizes: tuple[int, ...] = (100, 500, 1000, 2000),
    round_digits: int = 6,
) -> DataFrame:
    """Tokenizer-vocabulary sizing curve: for each candidate vocab size
    N, the fraction of ALL token occurrences covered by the N most
    frequent terms (rank by count desc, term asc) — the curve that
    decides how large a vocab (or how aggressive a BPE merge budget)
    the corpus actually needs before OOV tokens stop mattering.

    One term-count aggregate; ranking runs on the term table; every
    size is a conditional sum in ONE final aggregate.  Coverage ratios
    are exact-integer quotients (one double division, rounded).

    Returns ``(vocab_size INT, n_terms, covered_tokens, total_tokens,
    coverage)``.
    """
    from pyspark.sql import Window

    if not sizes or any(s < 1 for s in sizes):
        raise ValueError(f"sizes must be positive, got {sizes}")
    counts = (
        df.select(F.explode(F.split(normalize_text(text_col), " "))
                  .alias("__t"))
        .filter(F.col("__t") != "")
        .groupBy("__t").agg(F.count(F.lit(1)).alias("__n")))
    ranked = counts.withColumn(
        "__r", F.row_number().over(
            Window.orderBy(F.col("__n").desc(), F.col("__t"))))
    agg = ranked.agg(
        F.sum("__n").alias("__tot"),
        *[F.sum(F.when(F.col("__r") <= s, F.col("__n"))
                .otherwise(F.lit(0))).alias(f"__c{s}") for s in sizes],
        *[F.sum((F.col("__r") <= s).cast("bigint")).alias(f"__k{s}")
          for s in sizes])
    stacked = agg.select(F.explode(F.array(*[
        F.struct(
            F.lit(s).cast("int").alias("vocab_size"),
            F.col(f"__k{s}").alias("n_terms"),
            F.col(f"__c{s}").cast("bigint").alias("covered_tokens"),
            F.col("__tot").cast("bigint").alias("total_tokens"))
        for s in sizes])).alias("c")).select("c.*")
    return stacked.withColumn(
        "coverage",
        F.round(F.col("covered_tokens").cast("double")
                / F.col("total_tokens").cast("double"), round_digits)) \
        .orderBy("vocab_size")


def token_length_histogram(df: DataFrame, text_col: str = "text",
                           max_len: int = 12,
                           round_digits: int = 6) -> DataFrame:
    """Token character-length histogram over the normalized corpus —
    the tokenizer/vocab budgeting signal (long-token mass decides how
    much a subword vocab actually compresses; a spike at the cap is
    concatenated junk).  Lengths cap at ``max_len`` into a terminal
    bucket.

    One explode + one K-bounded aggregate; shares are one window sum
    over the <= max_len-row histogram.

    Returns ``(token_len INT, n_tokens, share)`` ordered by token_len.
    """
    from pyspark.sql import Window

    toks = (df.select(F.explode(F.split(normalize_text(text_col), " "))
                      .alias("__t"))
            .filter(F.col("__t") != ""))
    tl = F.least(F.length("__t"), F.lit(max_len)).cast("int")
    g = toks.select(tl.alias("token_len")).groupBy("token_len").agg(
        F.count(F.lit(1)).alias("n_tokens"))
    tot = F.sum("n_tokens").over(Window.partitionBy())
    return g.select(
        "token_len", "n_tokens",
        (F.round(F.col("n_tokens").cast("double") / tot.cast("double"),
                 round_digits) + F.lit(0.0)).alias("share"),
    ).orderBy("token_len")


def rake_keyphrases(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", top_k: int = 20,
                    max_words: int = 4,
                    stopwords: tuple = EN_STOPWORDS,
                    round_digits: int = 6) -> DataFrame:
    """RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010):
    candidate phrases are maximal stopword-free token runs; each word
    scores degree(w)/freq(w) (degree = summed length of phrases
    containing w, freq = occurrences), and a phrase scores the sum of
    its words — long co-occurring content-word runs outrank frequent
    singletons.  Corpus-level: identical phrases aggregate before
    ranking, the content-phrase vocabulary every "what is this corpus
    about" report starts from.  (Simplification vs the paper: phrase
    boundaries are stopwords only — normalize_text already folded
    punctuation to spaces.)

    Scale shape: phrase assembly is one posexplode + running stopword
    count per doc (one keyed window exchange); word stats and phrase
    scores are two aggregates on the exploded-phrase-word table; the
    per-word ratio joins back BROADCAST (vocabulary-sized).  Scores
    decimal-accumulate per phrase (order-free exact) with one rounded
    double at the end.

    Returns the global ``top_k`` rows ``(phrase, n_words, n_occurrences,
    score)`` by (score desc, phrase) — deterministic.
    """
    from pyspark.sql import Window

    sw = F.array(*[F.lit(w) for w in stopwords])
    toks = (df.select(F.col(id_col).alias("__id"),
                      F.posexplode(tokens(normalize_text(text_col)))
                      .alias("pos", "tok"))
            .filter(F.col("tok") != ""))
    is_stop = F.array_contains(sw, F.col("tok")).cast("int")
    w = (Window.partitionBy("__id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    words = (toks.withColumn("__grp", F.sum(is_stop).over(w))
             .filter(~F.array_contains(sw, F.col("tok"))))
    phrases = (words.groupBy("__id", "__grp")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "tok"))),
                            lambda s: s["tok"]), " ").alias("phrase"),
                    F.count(F.lit(1)).alias("n_words"))
               .filter(F.col("n_words") <= max_words))
    # word stats over ALL phrase instances (corpus freq/degree) ...
    inst_words = phrases.select(
        "n_words", F.explode(F.split("phrase", " ")).alias("word"))
    stats = inst_words.groupBy("word").agg(
        F.count(F.lit(1)).alias("__freq"),
        F.sum("n_words").alias("__deg"))
    ratio = (F.col("__deg").cast("double") / F.col("__freq").cast("double"))
    # ... but each DISTINCT phrase is scored once (then ranked with its
    # corpus occurrence count)
    dph = (phrases.groupBy("phrase", "n_words")
           .agg(F.count(F.lit(1)).alias("n_occurrences")))
    scored = (dph.select("phrase",
                         F.explode(F.split("phrase", " ")).alias("word"))
              .join(F.broadcast(stats.select("word", ratio.alias("__r"))),
                    "word")
              .groupBy("phrase")
              .agg((F.round(F.sum(F.col("__r").cast("decimal(28,12)"))
                            .cast("double"), round_digits) + F.lit(0.0))
                   .alias("score")))
    return (dph.join(scored, "phrase")
            .select("phrase", "n_words", "n_occurrences", "score")
            .orderBy(F.col("score").desc(), "phrase").limit(top_k))


def self_repetition(df: DataFrame, text_col: str = "text",
                    source_col: str = "source", k: int = 5,
                    degenerate_threshold: float = 0.2,
                    round_digits: int = 6) -> DataFrame:
    """Intra-document repetition score: 1 − (distinct k-gram windows /
    total windows) per doc — the degenerate-text screen (loops, boiler
    stutter, copy-paste padding) that corpus-wide dup-span stats can't
    see because the repeats never leave the document.  A high mean at a
    source flags template spam; ``share_degenerate`` counts docs whose
    ratio clears the threshold.

    Entirely map-side JVM expressions (token k-grams assembled with
    ``transform`` + ``array_distinct`` inside the row); the only
    shuffle is the per-source rollup.  Per-doc ratios are exact integer
    divisions, so both engines agree bit-for-bit before the decimal
    mean.

    Returns ``(source, n_docs, mean_repetition, share_degenerate)``
    over docs with ≥1 window, ordered by source.
    """
    # STAGE the intermediates as real columns: a transform() lambda
    # re-evaluates every captured expression PER ELEMENT, so inlining
    # tokens(normalize_text(...)) here re-ran the regex normalization
    # once per window — ~9x wall at sf0.1 for a map-only op (caught by
    # the 10x scale probe).  Column references are computed once per
    # row.
    toked = df.select(F.col(source_col).alias("source"),
                      tokens(normalize_text(text_col)).alias("__toks"))
    # k-gram windows as a zip of k SHIFTED SLICES folded with a string
    # concat: k O(len) slices per doc plus cheap per-element concats.
    # The obvious transform(sequence(...), i -> array_join(slice(toks,
    # i, k))) allocates a fresh sub-array per WINDOW inside the
    # interpreted higher-order evaluator — measured 4x slower on the
    # same data (the 10x scale probe flagged it).  Docs shorter than k
    # get W <= 0 -> greatest(.,0) -> empty slices -> zero windows,
    # matching the oracle's generate_series.
    w = F.size("__toks") - F.lit(k - 1)
    shifted = [F.slice("__toks", F.lit(i + 1), F.greatest(w, F.lit(0)))
               for i in range(k)]
    grams = shifted[0]
    for nxt in shifted[1:]:
        grams = F.zip_with(grams, nxt,
                           lambda x, y: F.concat_ws(" ", x, y))
    grammed = toked.select("source", grams.alias("__g"))
    rep = (F.lit(1.0) - F.size(F.array_distinct("__g")).cast("double")
           / F.size("__g").cast("double"))
    per_doc = (grammed.select("source", rep.alias("__rep"),
                              F.size("__g").alias("__t"))
               .filter(F.col("__t") >= 1))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.round(F.sum(F.col("__rep").cast("decimal(28,12)"))
                          .cast("double")
                          / F.count(F.lit(1)).cast("double"),
                          round_digits) + F.lit(0.0))
                 .alias("mean_repetition"),
                 (F.round(F.sum((F.col("__rep")
                                 >= F.lit(degenerate_threshold))
                                .cast("bigint")).cast("double")
                          / F.count(F.lit(1)).cast("double"),
                          round_digits) + F.lit(0.0))
                 .alias("share_degenerate"))
            .orderBy("source"))


def word_adjacency_edges(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct undirected word-adjacency edges over the corpus — the
    TextRank graph substrate (Mihalcea & Tarau 2004, window = 2):
    normalized adjacent token pairs, canonicalized ``src < dst``,
    self-loops dropped, deduped corpus-wide.  Pairs explode IN-TASK
    from each document's token array (zip of the array with its own
    shift — no join, no per-token shuffle); the only exchange is the
    final distinct on the vocabulary-bounded edge list."""
    toks = F.split(normalize_text(text_col), " ")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1))
    e = (docs.select(F.explode(pairs).alias("p"))
         .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
         .filter((F.col("a") != F.col("b"))
                 & (F.col("a") != "") & (F.col("b") != "")))
    return (e.select(F.least("a", "b").alias("src"),
                     F.greatest("a", "b").alias("dst"))
            .distinct())


def textrank_keywords(docs: DataFrame, text_col: str = "text",
                      top_k: int = 20, iters: int = 3,
                      damping: float = 0.85) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): the corpus
    keywords are the highest-PageRank nodes of the word-adjacency graph
    — the graph-centrality complement to :func:`rake_keyphrases`
    (degree/frequency scores) and tf-idf (rarity scores): a word ranks
    high when it co-occurs with other well-connected words, which
    frequency alone cannot see.

    Pure composition: :func:`word_adjacency_edges` feeds
    :func:`~hazelcast_jet_spark.operators.graph.pagerank` (fixed
    iterations, DECIMAL-exact contribution sums, deterministic
    tie-break), so scale and determinism properties are inherited —
    the graph is vocabulary-bounded however large the corpus.

    Returns ``(word, pagerank)`` — the ``top_k`` highest ranks, word
    tie-break.
    """
    from hazelcast_jet_spark.operators.graph import pagerank

    pr = pagerank(word_adjacency_edges(docs, text_col),
                  iters=iters, damping=damping)
    return (pr.select(F.col("node").alias("word"), "pagerank")
            .orderBy(F.desc("pagerank"), "word").limit(top_k))


def vocab_richness(df: DataFrame, text_col: str = "text",
                   group_cols: list[str] | None = None,
                   round_digits: int = 6) -> DataFrame:
    """Vocabulary-richness estimate per group: Chao1 unseen-species
    richness (Chao 1984, bias-corrected form) and Good–Turing sample
    coverage (Good 1953) from the frequency-of-frequencies —

        chao1    = D + f1·(f1 − 1) / (2·(f2 + 1))
        coverage = 1 − f1/N

    where D = observed distinct terms, f1/f2 = terms seen once/twice,
    N = total tokens.  The "will more crawl keep adding words?"
    companion of :func:`vocab_growth` answered WITHOUT extrapolating a
    ladder: chao1 lower-bounds the true vocabulary, and coverage is the
    probability the next token is already known — the stop-crawling /
    tokenizer-vocab-sizing signal.

    Tokens are the canonical :func:`normalize_text` words (the
    fingerprint/dedup convention).  Plan: one explode → per-(group,
    term) counts (map-side combined) → ONE frequency-fold aggregate per
    group carrying four exact counters; the estimate arithmetic is a
    fixed-order double expression on exact counts.  Returns
    ``(group_cols…, n_tokens, d_obs, f1, f2, chao1, coverage)``.
    """
    g = group_cols or []
    toks = df.select(
        *g, F.explode(F.split(normalize_text(text_col), " ")).alias("__t"))
    per_term = toks.groupBy(*g, "__t").agg(
        F.count(F.lit(1)).alias("__n"))
    agg = per_term.groupBy(*g).agg(
        F.sum("__n").alias("n_tokens"),
        F.count(F.lit(1)).alias("d_obs"),
        F.sum((F.col("__n") == 1).cast("bigint")).alias("f1"),
        F.sum((F.col("__n") == 2).cast("bigint")).alias("f2"))
    f1d = F.col("f1").cast("double")
    f2d = F.col("f2").cast("double")
    chao1 = (F.col("d_obs").cast("double")
             + f1d * (f1d - 1.0) / (2.0 * (f2d + 1.0)))
    cov = 1.0 - f1d / F.col("n_tokens").cast("double")
    r6 = lambda c: F.round(c, round_digits) + F.lit(0.0)  # noqa: E731
    return agg.select(*g, "n_tokens", "d_obs", "f1", "f2",
                      r6(chao1).alias("chao1"),
                      r6(cov).alias("coverage"))


def burrows_delta(df: DataFrame, group_col: str = "source",
                  text_col: str = "text", top_words: int = 20,
                  round_digits: int = 6) -> DataFrame:
    """Burrows' Delta stylometric distance between groups (Burrows
    2002; Evert et al. 2017 formulation): z-score each group's relative
    frequency of the corpus's ``top_words`` most frequent words against
    the across-group mean/std, then

        Delta(a, b) = mean_w |z_a(w) − z_b(w)|

    — the authorship/style distance that flags a source whose
    function-word profile diverges (machine-generated text, template
    farms, a crawler pulling the wrong register) where topic-level
    stats stay normal.  Function words dominate the top-M by
    construction, which is why the measure tracks style, not topic.

    Conventions (pinned so a SQL oracle replays exactly): word
    frequencies are per-group relative counts of :func:`normalize_text`
    words with absent words at 0 (full group×word grid); μ/σ are the
    POPULATION moments across groups (ddof = 0); words with σ = 0
    (identical share everywhere) carry no signal and are excluded from
    the mean, reported via ``n_words``.

    Plan: one explode → (group, word) counts; the top-M word list is
    one bounded aggregate (count desc, word asc tie-break); the grid,
    z-table and pairwise fold all operate on ≤ groups×M rows —
    everything after the token count is driver-free broadcast-scale.
    Per-pair |Δz| terms accumulate in DECIMAL(38,12).  Returns
    ``(group_a, group_b, n_words, delta)`` for ``a < b`` ordered by
    (group_a, group_b).
    """
    toks = df.select(
        F.col(group_col).alias("__g"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__w"))
    gw = toks.groupBy("__g", "__w").agg(F.count(F.lit(1)).alias("__n"))
    totals = gw.groupBy("__g").agg(F.sum("__n").alias("__tot"))
    top = (gw.groupBy("__w").agg(F.sum("__n").alias("__cn"))
           .orderBy(F.desc("__cn"), "__w").limit(top_words)
           .select("__w"))
    d = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    grid = (totals.crossJoin(F.broadcast(top))
            .join(gw, ["__g", "__w"], "left")
            .select("__g", "__w",
                    (F.coalesce(F.col("__n"), F.lit(0)).cast("double")
                     / F.col("__tot").cast("double")).alias("__f")))
    stats = grid.groupBy("__w").agg(
        F.count(F.lit(1)).alias("__k"),
        d(F.col("__f")).alias("__sf"),
        d(F.col("__f") * F.col("__f")).alias("__sff"))
    kd = F.col("__k").cast("double")
    mu = F.col("__sf") / kd
    var = F.col("__sff") / kd - mu * mu
    z = (grid.join(F.broadcast(stats), "__w")
         .filter(var > 0.0)
         .select("__g", "__w",
                 ((F.col("__f") - mu) / F.sqrt(var)).alias("__z")))
    a = z.select(F.col("__g").alias("group_a"), "__w",
                 F.col("__z").alias("__za"))
    b = z.select(F.col("__g").alias("group_b"), "__w",
                 F.col("__z").alias("__zb"))
    pairs = (a.join(b, "__w")
             .filter(F.col("group_a") < F.col("group_b")))
    return (pairs.groupBy("group_a", "group_b")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 d(F.abs(F.col("__za") - F.col("__zb"))).alias("__s"))
            .select("group_a", "group_b", "n_words",
                    (F.round(F.col("__s")
                             / F.col("n_words").cast("double"),
                             round_digits) + F.lit(0.0)).alias("delta"))
            .orderBy("group_a", "group_b"))
