"""Text analysis operators for training-data pipelines (SURVEY.md §2.11):
language-ID, quality scoring, token counting, fingerprinting, tf-idf.

Everything is built-in expressions over a single narrow pass — at 100 TB
these run at parquet-scan speed with zero shuffles (tf-idf excepted: one
shuffle for document frequencies, broadcast back).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import whitespace_tokens
from .util import Sidecar, ensure_parallelism, swap_in_staged

#: Tiny English function-word list for the n-gram/stopword heuristic.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this", "are",
)


def token_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    subword estimate (word-piece regex: runs of letters, digits, or a
    single other symbol — a deterministic proxy for tokenizer cost)."""
    tokens = whitespace_tokens(F.col(text_col), lowercase=False)
    bpe_ish = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
    )
    return df.withColumn("n_tokens", F.size(tokens)).withColumn(
        "n_distinct_tokens", F.size(F.array_distinct(tokens))
    ).withColumn("n_subword_tokens", F.size(bpe_ish))


def language_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: stopword-hit ratio over tokens (an n-gram
    profile degenerate to unigrams — adequate for en/unknown separation;
    a real system plugs a model in via the same column contract).

    Emits ``stopword_ratio`` (double) and ``lang_pred`` ('en' | 'und').
    """
    tokens = whitespace_tokens(F.col(text_col))
    hits = F.size(
        F.filter(tokens, lambda t: t.isin(*[F.lit(s) for s in EN_STOPWORDS]))
    )
    ratio = F.when(F.size(tokens) > 0, hits / F.size(tokens)).otherwise(F.lit(0.0))
    return df.withColumn("stopword_ratio", F.round(ratio, 6)).withColumn(
        out_col, F.when(F.col("stopword_ratio") >= 0.02, "en").otherwise("und")
    )


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Document quality scoring: length, punctuation ratio, stopword
    ratio, type-token ratio → a bounded [0,1] composite. The exact
    weights are a policy choice; the operator contract is the shape."""
    text = F.col(text_col)
    n_chars = F.length(text)
    tokens = whitespace_tokens(text)
    n_tokens = F.size(tokens)
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    ttr = F.when(
        n_tokens > 0, F.size(F.array_distinct(tokens)) / n_tokens
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.filter(tokens, lambda t: t.isin(*[F.lit(s) for s in EN_STOPWORDS]))
    )
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    length_score = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    score = (
        0.4 * length_score
        + 0.3 * ttr
        + 0.2 * F.least(stop_ratio * 10, F.lit(1.0))
        + 0.1 * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return (
        df.withColumn("n_chars_measured", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("type_token_ratio", F.round(ttr, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("quality_score", F.round(score, 6))
    )


def fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of the normalized text (lowercased,
    whitespace-collapsed) — the exact-dedup key. md5 (not xxhash) so the
    DuckDB oracle can reproduce it bit-for-bit."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(normalized.cast("binary")))


def rolling_hashes(
    df: DataFrame,
    text_col: str,
    window: int = 8,
    out_col: str = "winnow_hashes",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Winnowing-style rolling fingerprints (Schleimer et al. 2003):
    hash every ``window``-gram of characters, keep the per-position
    minimum over a window of gram hashes, distinct — the classic local
    fingerprinting scheme for plagiarism/overlap detection, as array
    expressions (narrow, no shuffle). Guarantee: any shared substring
    of length >= 2·window-1 contributes at least one common
    fingerprint.

    ``base_hash="md5"`` folds the first 15 md5 hex digits to a BIGINT
    (the q131/q50 convention) so the whole computation replays in any
    SQL engine — the q147-certified variant; ``xxhash64`` is the
    cheaper production default.

    STAGED (SCALING r12): grams are built directly as
    ``hash(substring(text, i, W))`` (no intermediate char array) and
    materialize as a COLUMN before the winnowing lambda consumes them.
    The original inline form referenced the gram array inside the
    lambda — the round-7 no-CSE class re-evaluates a non-attribute
    expression PER ELEMENT, stacking to O(L²·W) per document: the 1×
    sf0.1 corpus did not finish in 10 minutes; staged runs it in
    seconds, linear through 10×."""
    if base_hash == "xxhash64":
        def h(s):
            return F.xxhash64(s)
    elif base_hash == "md5":
        def h(s):
            return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "long"
            )
    else:
        raise ValueError(f"unknown base_hash {base_hash!r}")
    clash = {"__rh_t", "__rh_grams"} & set(df.columns)
    if clash:
        raise ValueError(
            f"rolling_hashes staging column(s) {sorted(clash)} already "
            "exist on the input and would be silently overwritten"
        )
    # lower(text) stages as a column too: referenced inside the gram
    # lambda it would re-lowercase the WHOLE text per element (O(L²))
    s1 = df.withColumn("__rh_t", F.lower(F.col(text_col)))
    t = F.col("__rh_t")
    grams = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.length(t) - (window - 1), F.lit(1))
        ),
        lambda i: h(t.substr(i, F.lit(window))),
    )
    staged = s1.withColumn("__rh_grams", grams).drop("__rh_t")
    winnowed = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("__rh_grams") - window, F.lit(0)),
            ),
            lambda i: F.array_min(F.slice("__rh_grams", i + 1, window)),
        )
    )
    return staged.withColumn(out_col, winnowed).drop("__rh_grams")


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 3
) -> DataFrame:
    """Top tf-idf terms per document.

    tf from a per-doc explode (narrow after the explode's implicit
    shuffle-free pass), df from one groupBy on token, idf broadcast back
    onto the term rows. ln-based idf: ln(N / df). Deterministic
    tie-break on term so the driver's hash check is stable.

    N (total docs) rides along as a broadcast 1-row aggregate instead of
    a separate ``df.count()`` action — one job, and the corpus scan is
    never repeated for a scalar.
    """
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    # terms feeds BOTH the df aggregation and the scored join — without
    # the checkpoint each branch re-runs tokenize+explode+groupBy
    terms = (
        tokenize_terms(ensure_parallelism(df.select(id_col, text_col)), id_col, text_col)
        .groupBy("doc", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    # terms is unique per (doc, token), so count(*) == countDistinct(doc)
    # without the extra dedup pass
    doc_freq = terms.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        terms.join(F.broadcast(doc_freq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(
            F.col("doc").alias(id_col), "token", "tf", "df", "tfidf", "rank"
        )
    )


def tokenize_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, token) rows — lowercased whitespace tokens, empties dropped."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(whitespace_tokens(F.col(text_col))).alias("token"),
    )


def word_ngrams(text_col, n: int):
    """Non-distinct word n-gram array expression (texts shorter than
    ``n`` tokens yield an empty array — unlike dedup.shingles, which
    falls back to the whole text, because quality/contamination metrics
    must not count a partial gram)."""
    toks = whitespace_tokens(text_col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_score(
    df: DataFrame, text_col: str, n: int = 2, out_col: str = "dup_ngram_ratio"
) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): the
    fraction of word n-grams that are repeats of an earlier n-gram,
    ``1 - distinct/total`` (0.0 for texts shorter than ``n`` tokens).
    Pure per-row expressions — narrow, shuffle-free, scan-speed."""
    # STAGED (SCALING r12): the n-gram array is an expensive
    # interpreted HOF chain referenced three times in the ratio —
    # outside codegen subexpression elimination each reference re-ran
    # the whole n-gram build (325 s vs 103 s at 30× inflation).
    # Materialize it once as a column; the ratio then references a
    # plain attribute. (Staging is NOT free in general — it widens the
    # intermediate row — so it is reserved for expensive HOFs:
    # quality_score's cheap split measured FASTER inline.)
    if "__rg" in df.columns:
        raise ValueError(
            "repetition_score staging column __rg already exists on "
            "the input and would be silently overwritten"
        )
    staged = df.withColumn("__rg", word_ngrams(F.col(text_col), n))
    total = F.size("__rg")
    ratio = F.when(
        total > 0, 1 - F.size(F.array_distinct("__rg")) / total
    ).otherwise(F.lit(0.0))
    return staged.withColumn(out_col, F.round(ratio, 6)).drop("__rg")


def benchmark_ngrams(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-grams of a benchmark/eval corpus — the blocklist
    side of :func:`ngram_overlap`."""
    return df.select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    ).distinct()


def ngram_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Decontamination check: per document, how many of its distinct
    word n-grams appear in the benchmark gram set (docs with zero
    overlap are absent — the common case at scale, keeping the result
    sparse). The benchmark side is broadcast — eval sets are small by
    construction; the corpus side stays partition-parallel with one
    explode + one aggregate."""
    grams = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    ).distinct()
    bench = benchmark.select(
        F.col(benchmark.columns[0]).alias("gram")
    ).distinct()
    return (
        grams.join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def sequence_pack(
    df: DataFrame, id_col: str, text_col: str, max_len: int = 2048
) -> DataFrame:
    """Sequence packing for training batches: concatenate every document's
    tokens in a deterministic pseudo-random order (md5 of the id — a
    reproducible global shuffle, no RNG state) and cut the token stream
    into fixed ``max_len`` packs. Each document gets the pack id and
    offset where its first token lands; documents straddle pack
    boundaries — the standard concat-and-chunk LLM batching.

    The global running token total is computed hierarchically — the
    scalable form of a global cumulative sum (a ``Window.orderBy`` with
    no partition key collapses to ONE task at 100 TB):

    1. rows hash into 256 ordered buckets (the first md5 hex byte of the
       order key, so bucket ranges ARE contiguous slices of the global
       order);
    2. a per-bucket window computes within-bucket prefix sums — 256-way
       parallel, one shuffle;
    3. per-bucket totals (exactly ≤256 rows, any corpus size) come back
       to the driver, are prefix-summed, and broadcast-join back as
       bucket offsets.

    Output: ``(id, n_tokens, pack_id, pack_offset)``.
    """
    okey = F.md5(F.col(id_col).cast("string"))
    toks = whitespace_tokens(F.col(text_col), lowercase=False)
    base = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        okey.alias("__okey"),
        F.substring(okey, 1, 2).alias("__bucket"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy("__okey", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.withColumn(
        "__local_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    totals = sorted(
        base.groupBy("__bucket").agg(F.sum("n_tokens").alias("t")).collect()
    )
    offsets, acc = [], 0
    for bucket, t in totals:
        offsets.append((bucket, acc))
        acc += t
    spark = df.sparkSession
    offset_df = spark.createDataFrame(
        offsets, "__bucket string, __offset long"
    )
    start = F.col("__offset") + F.col("__local_start")
    return (
        local.join(F.broadcast(offset_df), "__bucket")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.expr(f"(__offset + __local_start) div {max_len}").alias("pack_id"),
            (start % max_len).alias("pack_offset"),
        )
    )


def vocab_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 20
) -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent tokens with total
    occurrence count (``tf``) and document frequency (``df``), ranked
    ``(tf desc, token asc)`` — the vocabulary/BPE-seeding and
    stopword-discovery pass of a training pipeline.

    Scale shape: explode → one groupBy(token) with map-side partial
    aggregation (token cardinality ≪ corpus size, so the shuffle carries
    one row per distinct token per partition), then a global top-k that
    Spark executes as per-partition limits + a k-row final sort. The
    rank window runs AFTER the limit, over k rows — the unpartitioned
    window never sees the corpus.
    """
    toks = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("__doc"),
        F.explode(whitespace_tokens(F.col(text_col))).alias("token"),
    )
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct(F.col("__doc")).alias("df"),
    )
    top = agg.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("tf").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w))


def bpe_pair_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 20
) -> DataFrame:
    """Adjacent-pair frequency head — the statistic a BPE/WordPiece
    merge round ranks on, lifted to corpus scale: the ``k`` most
    frequent ADJACENT token pairs with total occurrence count (``pf``)
    and document frequency (``df``), ranked ``(pf desc, pair asc)``.
    Feeding merge decisions from a distributed pair count is how
    vocabulary induction actually runs on a 100 TB corpus — the
    tokenizer trainer consumes this table, it never sees raw text.

    Pairs are built in-row with zero extra scans: ``arrays_zip`` of the
    token array against itself shifted by one (two ``slice`` calls on
    the same attribute — no join, no posexplode self-join), then the
    :func:`vocab_topk` aggregate shape: explode → one map-side-combined
    groupBy(pair) → global top-k (per-partition limits + k-row final
    sort) → rank window over k rows.
    """
    toks = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("__doc"),
        whitespace_tokens(F.col(text_col)).alias("__t"),
    )
    pair_arr = F.when(
        F.size("__t") >= 2,
        F.zip_with(
            F.slice(F.col("__t"), 1, F.size("__t") - 1),
            F.slice(F.col("__t"), 2, F.size("__t") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = toks.select(
        "__doc", F.explode(pair_arr).alias("pair")
    )
    agg = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("pf"),
        F.count_distinct(F.col("__doc")).alias("df"),
    )
    top = agg.orderBy(F.col("pf").desc(), F.col("pair").asc()).limit(k)
    w = Window.orderBy(F.col("pf").desc(), F.col("pair").asc())
    return top.withColumn("rank", F.row_number().over(w))


#: PII patterns chosen to parse identically under Java regex (Spark) and
#: RE2 (DuckDB oracle): no lookarounds, no backrefs. Phone coverage:
#: NANP 10/11-digit forms first (dashed, dotted, spaced, parenthesized,
#: unseparated, optional +1/1- prefix), then bare separator-required
#: 7-digit local forms — order matters, the longer pattern must consume
#: its area code before the 7-digit one can grab the trailing fragment.
#: The unseparated-10-digit case means any 10-digit run redacts; that is
#: the right bias for a scrubbing op (favor recall over precision).
PII_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("PHONE", r"(\+?1[-. ])?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b"),
    ("PHONE", r"\b\d{3}[-. ]\d{4}\b"),
)


def pii_redact(
    df: DataFrame, text_col: str, out_col: str = "redacted"
) -> DataFrame:
    """PII scrubbing: replace email addresses and phone-like sequences
    with ``[EMAIL]`` / ``[PHONE]`` placeholders and count the
    redactions. Patterns apply in declaration order, each counting its
    hits on the text as the previous pattern left it. JVM-side
    ``regexp_replace`` — scan-speed, no Python in the path."""
    red = F.col(text_col)
    n_hits = F.lit(0)
    for label, pattern in PII_PATTERNS:
        n_hits = n_hits + F.size(F.regexp_extract_all(red, F.lit(pattern), F.lit(0)))
        red = F.regexp_replace(red, pattern, f"[{label}]")
    return df.withColumn("n_redactions", n_hits.cast("int")).withColumn(
        out_col, red
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    paragraphs=None,
    joiner: str = " ",
) -> DataFrame:
    """Exact paragraph-level dedup (the C4/RefinedWeb within-corpus
    pass): a paragraph instance survives only if it is the FIRST
    occurrence of that exact paragraph in the whole corpus, ordered by
    ``(doc, position)``; each doc is reassembled from its surviving
    paragraphs in original order. Output per doc: ``n_paras``,
    ``n_kept``, ``text_clean`` (docs whose every paragraph was seen
    earlier come back empty, ready for a length filter).

    ``paragraphs`` is a Column producing ``array<string>`` — defaults to
    splitting on blank lines; pass a custom chunker for corpora without
    paragraph structure. Empty/whitespace paragraphs are dropped before
    dedup (they are formatting, not content).

    Scale shape: posexplode → ONE shuffle partitioned by paragraph text
    for the first-occurrence rank, then one groupBy(doc) to reassemble.
    Boilerplate paragraphs repeated across a large fraction of the
    corpus make the rank partition skewed — AQE's skew handling splits
    the sort, and the rank never materializes pairs (unlike a self-join
    formulation, which would square the boilerplate count).
    """
    if paragraphs is None:
        paragraphs = F.split(F.col(text_col), r"\n{2,}")
    paras = (
        df.select(F.col(id_col), F.posexplode(paragraphs).alias("idx", "para"))
        .where(F.trim(F.col("para")) != "")
    )
    w = Window.partitionBy("para").orderBy(F.col(id_col).asc(), F.col("idx").asc())
    kept = paras.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            joiner,
        ).alias("text_clean"),
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def token_chunks(text_col, chunk_tokens: int):
    """Fixed-size token windows as paragraph proxies for corpora without
    paragraph structure (the testdata documents are single-line): chunk
    ``i`` is tokens ``[i*n, (i+1)*n)`` rejoined with spaces."""
    toks = whitespace_tokens(text_col, lowercase=False)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    # sequence(0, -1) would count DOWN — guard the empty-document case
    return F.when(n_chunks > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )).otherwise(F.array().cast("array<string>"))


#: Gopher-rule bounds (Rae et al. 2021 §A1.1, the standard web-scale
#: quality gate): tuned for English web text; every bound is a column so
#: downstream can re-cut without recomputing the metrics.
GOPHER_BOUNDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "min_stopword_hits": 2,
}


def gopher_quality_filters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style document quality metrics + pass/fail flags: word
    count bounds, mean word length bounds, symbol-to-word ratio (# and
    ellipsis), bullet-line fraction, and a stopword floor. Pure
    JVM expressions — runs at scan speed, zero shuffles, and composes
    with ``quality_score`` (heuristic ratios) as the standard pre-train
    cleaning gate."""
    b = GOPHER_BOUNDS
    toks = whitespace_tokens(F.col(text_col), lowercase=False)
    lines = F.split(F.col(text_col), r"\n")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    mean_word_len = F.when(
        n_words > 0, F.round(sum_len / n_words, 6)
    ).otherwise(F.lit(0.0))
    n_hash = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"#", ""))
    )
    n_ellipsis = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, F.round((n_hash + n_ellipsis) / n_words, 6)
    ).otherwise(F.lit(0.0))
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda ln: ln.rlike(r"^\s*([-*•])\s"),
        )
    )
    bullet_frac = F.round(bullet_lines / F.greatest(F.size(lines), F.lit(1)), 6)
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: F.lower(t).isin(*EN_STOPWORDS),
        )
    )
    passes = (
        n_words.between(b["min_words"], b["max_words"])
        & mean_word_len.between(b["min_mean_word_len"], b["max_mean_word_len"])
        & (symbol_ratio <= b["max_symbol_ratio"])
        & (bullet_frac <= b["max_bullet_line_frac"])
        & (stop_hits >= b["min_stopword_hits"])
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_word_len.cast("double").alias("mean_word_len"),
        symbol_ratio.cast("double").alias("symbol_ratio"),
        bullet_frac.cast("double").alias("bullet_line_frac"),
        stop_hits.cast("long").alias("n_stopword_hits"),
        passes.alias("passes_gopher"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style LM quality proxy: mean per-token natural-log
    probability of the document under the corpus's OWN unigram
    distribution. Gibberish and boilerplate-stuffed docs score far from
    the corpus mode; the standard cheap stand-in for a KenLM perplexity
    filter when no external model ships with the engine.

    Two-pass: one token-frequency aggregate (map-side partial, one
    shuffle; vocabulary-sized result broadcast back), then scan-speed
    scoring — ln(freq/total) averaged over the doc's tokens. No
    smoothing needed: every scored token is in the corpus by
    construction. Empty docs score NULL.

    The corpus total rides ON the frequency table as an unpartitioned
    window (vocabulary-sized input, tiny) instead of a separate
    aggregate + crossJoin: the agg form forked the freq subtree into
    two consumers with no exchange reuse, re-running the whole
    tokenize+count pass a second time per action (the
    distribution_drift round-5 finding). Tokenization now runs exactly
    the two passes the algorithm needs.
    """
    toks = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("__doc"),
            F.explode(whitespace_tokens(F.col(text_col))).alias("token"),
        )
    )
    freq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tok_n"))
        .withColumn(
            "__total",
            F.sum("tok_n").over(Window.partitionBy()),
        )
    )
    scored = (
        toks.join(F.broadcast(freq), "token")
        .select(
            "__doc",
            F.log(F.col("tok_n") / F.col("__total")).alias("__lp"),
        )
    )
    per_doc = scored.groupBy("__doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("__lp"), 6).alias("mean_logprob"),
    )
    return (
        df.select(id_col)
        .join(
            per_doc.withColumnRenamed("__doc", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.col("mean_logprob"),
        )
    )


def boilerplate_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_frac: float = 0.05,
    min_docs: int = 5,
    paragraphs=None,
    joiner: str = " ",
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet/RefinedWeb
    common-line pass, distinct from :func:`paragraph_dedup`): a
    paragraph is BOILERPLATE when it appears in more than
    ``max(min_docs, max_doc_frac * n_docs)`` distinct documents —
    navigation menus, cookie banners, footers — and every instance is
    removed from every document (paragraph_dedup, by contrast, keeps
    the first occurrence). Output per doc: ``n_paras``, ``n_kept``,
    ``text_clean``.

    ``paragraphs`` is a Column producing ``array<string>`` (default:
    blank-line split; pass :func:`token_chunks` for unstructured
    corpora).

    Scale shape: the exploded paragraph set moves through two keyed
    shuffles — the groupBy(paragraph) distinct-doc count and the
    groupBy(doc) reassembly — plus tiny per-doc totals. The frequency
    table is filtered to ONLY the above-threshold paragraphs, which is
    size-bounded by construction (at most total_paras/threshold
    entries), so the removal join is a broadcast LEFT ANTI, never a
    third corpus-sized shuffle. AQE splits the boilerplate-key skew in
    the count exactly as in paragraph_dedup.
    """
    if paragraphs is None:
        paragraphs = F.split(F.col(text_col), r"\n{2,}")
    # materialized ONCE: three consumers (boilerplate count, removal
    # join, per-doc totals) would otherwise re-run the scan + explode
    # per action — the same shared-branch recompute the curation
    # pipeline's materialize= option exists to avoid
    paras = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.posexplode(paragraphs).alias("idx", "para"))
        .where(F.trim(F.col("para")) != "")
        .localCheckpoint()
    )
    n_docs = df.count()  # full scan, single scalar back; sets the threshold
    thresh = max(int(min_docs), int(max_doc_frac * n_docs))
    boiler = (
        paras.groupBy("para")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") > thresh)
        .select("para")
    )
    kept = paras.join(F.broadcast(boiler), "para", "left_anti")
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            joiner,
        ).alias("text_clean"),
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    flag_frac: float = 0.3,
) -> DataFrame:
    """Cross-document duplicate-span tagging (the Dolma/Lee-et-al
    "dedup documents by duplicated substrings" signal, at n-gram
    granularity): per document, the fraction of its word ``n``-grams
    that also occur in at least one OTHER document. Output:
    ``n_ngrams`` (distinct grams in the doc), ``n_dup`` (of those, how
    many are shared), ``dup_frac``, and ``dup_flag`` (``dup_frac >=
    flag_frac``) — the standard pre-filter before expensive
    suffix-array exact-substring dedup; the removal pass itself is
    :func:`duplicate_span_removal` (cut flagged spans, keep the global
    first occurrence, reassemble the doc).

    Scale shape: explode distinct grams per doc (one narrow pass),
    count distinct docs per gram (one shuffle on gram), mark grams with
    >=2 docs, aggregate back per doc (second shuffle on doc id). Both
    shuffles move (gram, doc) pairs — linear in corpus token count,
    never pairwise. Texts shorter than ``n`` tokens yield zero grams
    and ``dup_frac`` 0.0.
    """
    grams = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    ).distinct()
    # grams is distinct on (id, gram), so count(*) == countDistinct(id)
    # without the extra distinct-aggregate step (tfidf precedent)
    gram_docs = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("__nd")
    )
    per_doc = (
        grams.join(gram_docs, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum((F.col("__nd") >= 2).cast("long")).alias("n_dup"),
        )
    )
    frac = F.when(
        F.coalesce("n_ngrams", F.lit(0)) > 0,
        F.coalesce("n_dup", F.lit(0)) / F.col("n_ngrams"),
    ).otherwise(F.lit(0.0))
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.round(frac, 6).alias("dup_frac"),
            (frac >= flag_frac).alias("dup_flag"),
        )
    )


def duplicate_span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    paragraphs=None,
    fragment_joiner: str = "\n\n",
) -> DataFrame:
    """Exact duplicated-span REMOVAL (Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better", at word-``k``-gram
    granularity) — the removal operator :func:`duplicate_span_stats`
    tags candidates for: every occurrence of a ``>= k``-token span
    that appeared earlier in the corpus is cut out of its document,
    keeping the globally FIRST occurrence (ordered by
    ``(doc, paragraph, position)``), and each document is reassembled
    from its surviving token runs. This generalizes
    :func:`paragraph_dedup` from paragraph granularity (whole-unit
    keep/drop) to span granularity (partial removal inside a unit).

    Mechanics: spans are the ``k``-token sliding windows WITHIN a
    paragraph (``paragraphs`` defaults to a blank-line split; windows
    never cross paragraph boundaries). A window occurrence with
    first-occurrence rank > 1 marks all ``k`` covered tokens for
    removal — overlapping duplicated windows therefore erase maximal
    duplicated regions, which is exactly "drop duplicated spans of
    >= k tokens". Surviving tokens are rejoined with single spaces
    inside a contiguous run and ``fragment_joiner`` (a paragraph
    break) between runs.

    Idempotence (property-tested): removing twice ≡ removing once.
    Every k-window of a surviving run equals an original window whose
    covered tokens were all kept, hence a rank-1 (globally unique)
    occurrence of its gram; and because runs are rejoined with a
    PARAGRAPH break, no new window can form across a removal seam on a
    re-run. (This is why the seam marker is a paragraph break and not
    a space — a custom ``paragraphs`` chunker that does not re-split
    on ``fragment_joiner`` voids the guarantee.)

    Tokenization preserves case (the output is reconstructed text, not
    a normalized signature), splitting on whitespace runs — the DuckDB
    oracle mirrors it with ``regexp_split_to_array`` + ``list_filter``.

    Output per input row: ``(id, n_tokens, n_removed, text_clean)`` —
    docs that were entirely duplicated elsewhere come back empty,
    ready for a length gate.

    Scale shape (the q94 / paragraph_dedup pattern): posexplode to one
    (doc, para, start, gram) occurrence stream, ONE shuffle
    partitioned by gram for the first-occurrence rank (AQE splits
    hot-gram skew; the rank never materializes pairs), one
    (doc, para)-keyed groupBy collecting each paragraph's SORTED
    duplicated-start list, a co-keyed join back to the paragraph
    frame, then one groupBy(doc) reassembly and a final doc-keyed
    join. Per-paragraph reassembly is a single O(tokens) expression
    fold: the sorted start list arrives as a plain column attribute,
    so the fold's pointer does one O(1) ``try_element_at`` per token —
    the earlier in-row ``exists`` over an EXPRESSION-valued start list
    was re-evaluated per lambda element by Catalyst (HOF bodies get no
    CSE) and went 30x superlinear on a 90%-duplicate corpus
    (SCALING.md round 7). Everything that moves is linear in corpus
    token count.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if paragraphs is None:
        paragraphs = F.split(F.col(text_col), r"\n{2,}")

    def _toks(c):
        # case-preserving whitespace_tokens (functions/text.py policy,
        # minus the lowercasing: removal must reconstruct the input)
        return F.filter(F.split(c, r"\s+"), lambda t: t != "")

    # materialized ONCE (boilerplate_removal precedent): the paragraph
    # token frame feeds both the gram stream and the reassembly join —
    # without the pin each consumer re-runs the scan + split + tokenize
    paras = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.posexplode(paragraphs).alias("pidx0", "para"),
        )
        .where(F.trim(F.col("para")) != "")
        .select(
            id_col,
            (F.col("pidx0") + 1).alias("pidx"),
            _toks(F.col("para")).alias("tk"),
        )
        .localCheckpoint()
    )
    grams = F.when(
        F.size("tk") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - k + 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = paras.select(
        id_col, "pidx", F.posexplode(grams).alias("i0", "gram")
    ).select(id_col, "pidx", (F.col("i0") + 1).alias("i"), "gram")
    w = Window.partitionBy("gram").orderBy(
        F.col(id_col).asc(), F.col("pidx").asc(), F.col("i").asc()
    )
    dups = (
        occ.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .groupBy(id_col, "pidx")
        .agg(F.sort_array(F.collect_list("i")).alias("__starts"))
    )
    pstate = paras.join(dups, [id_col, "pidx"], "left").select(
        id_col,
        "pidx",
        "tk",
        F.coalesce(
            F.col("__starts"), F.array().cast("array<int>")
        ).alias("__starts"),
    )
    indexed = F.transform(
        F.col("tk"),
        lambda x, j0: F.struct((j0 + 1).alias("j"), x.alias("tok")),
    )

    def _step(st, t):
        s = F.try_element_at(F.col("__starts"), st["si"])
        active = s.isNotNull() & (s == t["j"])
        cov = F.when(
            active, F.greatest(st["cov"], s + F.lit(k - 1))
        ).otherwise(st["cov"])
        keep = t["j"] > cov
        sep = (
            F.when(st["acc"] == "", F.lit(""))
            .when(t["j"] == st["last"] + 1, F.lit(" "))
            .otherwise(F.lit(fragment_joiner))
        )
        return F.struct(
            (st["si"] + active.cast("int")).alias("si"),
            cov.alias("cov"),
            F.when(keep, t["j"]).otherwise(st["last"]).alias("last"),
            (st["nk"] + keep.cast("long")).alias("nk"),
            F.when(keep, F.concat(st["acc"], sep, t["tok"]))
            .otherwise(st["acc"])
            .alias("acc"),
        )

    folded = pstate.select(
        id_col,
        "pidx",
        F.size("tk").cast("long").alias("nt"),
        F.aggregate(
            indexed,
            F.struct(
                F.lit(1).cast("int").alias("si"),
                F.lit(0).cast("int").alias("cov"),
                F.lit(-2).cast("int").alias("last"),
                F.lit(0).cast("long").alias("nk"),
                F.lit("").alias("acc"),
            ),
            _step,
        ).alias("__f"),
    ).select(
        id_col, "pidx", "nt", F.col("__f.nk").alias("nk"),
        F.col("__f.acc").alias("frag"),
    )
    per_doc = folded.groupBy(id_col).agg(
        F.sum("nt").alias("n_tokens"),
        F.sum("nk").alias("n_kept"),
        F.array_join(
            F.filter(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pidx", "frag"))),
                    lambda x: x["frag"],
                ),
                lambda s: s != "",
            ),
            fragment_joiner,
        ).alias("text_clean"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            (
                F.coalesce("n_tokens", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 lexical retrieval: top-``k`` documents per query under the
    Okapi BM25 ranking function (Robertson/Spärck Jones) — the lexical
    complement to the embedding-space ANN operators (q51/q61/q63), and
    the standard first-stage retriever in RAG / dedup-audit tooling.

    ``score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·len/avg))``
    with the +1-smoothed idf ``ln((N - df + 0.5)/(df + 0.5) + 1)`` (the
    Lucene form — strictly positive, so one-doc corpora still rank).
    Scores round to 6 places BEFORE ranking and ties break on doc id,
    making the top-k list engine-portable (float sums associate
    differently across engines only below the rounding threshold).

    Tokenization is the corpus policy (``whitespace_tokens``,
    lowercased) on both sides; duplicate query terms count once (set
    semantics — the standard short-query form).

    Scale shape: the query side is BROADCAST everywhere (a query set is
    always tiny next to the corpus). Doc term frequencies prune to
    query terms BEFORE the (doc, term) groupBy, so the only
    corpus-sized shuffles are that pruned tf aggregate and the final
    (query, doc) score aggregate; document frequencies aggregate the
    pruned tf table (query-term-sized); N and average length ride as a
    broadcast 1-row aggregate; the top-k window is per query with
    ``row_number <= k`` — WindowGroupLimit prunes map-side. The corpus
    is deliberately scanned TWICE (the stats aggregate and the tf
    pass) rather than checkpointing the tokenized frame once: a
    localCheckpoint here would materialize every token array — a
    corpus-sized write+read — while the second scan is a column-pruned
    read that collapses to a count/avg immediately. The exception to
    the fork-without-reuse rule, documented because it IS the rule's
    stated trade-off.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = whitespace_tokens(F.col(text_col))
    base = ensure_parallelism(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc"), toks.alias("__toks")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg(F.size("__toks")).alias("__avg_len"),
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query"),
            F.explode(
                F.array_distinct(whitespace_tokens(F.col(query_text_col)))
            ).alias("token"),
        )
        .distinct()
        .localCheckpoint()
    )
    term_set = qterms.select("token").distinct()
    tf = (
        base.select("doc", F.size("__toks").alias("doc_len"),
                    F.explode("__toks").alias("token"))
        .join(F.broadcast(term_set), "token")
        .groupBy("doc", "token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            # constant per doc; min (not first) for engine-portable
            # determinism in the oracle mirror
            F.min("doc_len").alias("doc_len"),
        )
    )
    # tf is unique per (doc, token): count(*) == countDistinct(doc)
    doc_freq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(doc_freq), "token")
        .join(F.broadcast(qterms), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "query",
            "doc",
            (
                F.log(
                    (F.col("__n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1
                    * (
                        1.0
                        - b
                        + b * F.col("doc_len") / F.col("__avg_len")
                    )
                )
            ).alias("__c"),
        )
    )
    scored = contrib.groupBy("query", "doc").agg(
        F.round(F.sum("__c"), 6).alias("score")
    )
    w = Window.partitionBy("query").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("query").alias(query_id_col),
            F.col("doc").alias(id_col),
            "score",
            "rank",
        )
    )


def _bpe_wrap(col):
    """Wrap every character of an alpha word in ``<...>`` markers:
    ``cat`` → ``<c><a><t>``. The markers cannot occur in ``[a-z]+``
    words, so a plain substring replace of ``<l><r>`` → ``<lr>`` is
    exactly one BPE merge application — both Spark's ``replace`` and
    DuckDB's scan left-to-right non-overlapping, which IS the BPE
    greedy order (``aaa`` + merge(a,a) → ``aa a``, never ``a aa``)."""
    return F.regexp_replace(col, "(.)", "<$1>")


def _bpe_pairs(s_col):
    """Adjacent (lhs, rhs) token-pair structs of a wrapped word string —
    in-row, zero joins (the :func:`bpe_pair_stats` slice-zip device)."""
    arr = F.split(F.expr(f"substring({s_col}, 2, length({s_col}) - 2)"), "><")
    return F.when(
        F.size(arr) >= 2,
        F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
        ),
    ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))


def _bpe_train_local(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Exact Sennrich merge loop over a driver-resident word-frequency
    table — the in-memory trainer every production BPE implementation
    runs once the corpus has been reduced to (word, count) rows.
    Byte-identical semantics to the distributed loop in
    :func:`bpe_train` (property-pinned): pair counts sum counts over
    ADJACENT symbol positions (overlaps counted: "aaa" holds (a,a)
    twice), the winner is argmax by ``(count desc, lhs asc, rhs asc)``
    (ASCII codepoint order — Python string compare == Spark binary
    collation here), and a merge applies LEFT-TO-RIGHT NON-OVERLAPPING
    within each word (``F.replace`` semantics: "aaa" + merge (a,a) →
    "aa","a").

    Incremental economics (the r11 verdict #4 ask): pair counts are
    maintained, not recomputed — a merge touches only the words that
    contain its pair (tracked per pair), subtracting their old
    adjacencies and adding the rebuilt ones, so a round costs
    O(affected words × word length), not O(vocabulary). The argmax is
    a lazy-deletion heap: every count change pushes a fresh entry,
    stale entries are discarded against the live dict on pop.
    """
    import heapq

    words = [list(w) for w, _ in vocab]
    cnts = [int(c) for _, c in vocab]
    pair_count: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, str, str]] = []

    def _touch(p: tuple[str, str], delta: int, i: int) -> None:
        c = pair_count.get(p, 0) + delta
        if c <= 0:
            pair_count.pop(p, None)
        else:
            pair_count[p] = c
            heapq.heappush(heap, (-c, p[0], p[1]))
        s = pair_words.setdefault(p, set())
        if delta > 0:
            s.add(i)

    for i, s in enumerate(words):
        c = cnts[i]
        for a, b in zip(s, s[1:]):
            _touch((a, b), c, i)

    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        best = None
        while heap:
            negc, lhs, rhs = heap[0]
            if pair_count.get((lhs, rhs), 0) == -negc:
                best = (lhs, rhs, -negc)
                break
            heapq.heappop(heap)  # stale
        if best is None:
            break
        lhs, rhs, pc = best
        merges.append((r, lhs, rhs, pc))
        merged = lhs + rhs
        for i in sorted(pair_words.get((lhs, rhs), set())):
            s = words[i]
            c = cnts[i]
            for p in zip(s, s[1:]):
                cur = pair_count.get(p, 0) - c
                if cur <= 0:
                    pair_count.pop(p, None)
                else:
                    pair_count[p] = cur
                    heapq.heappush(heap, (-cur, p[0], p[1]))
                w = pair_words.get(p)
                if w is not None:
                    w.discard(i)
            out: list[str] = []
            j = 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == lhs and s[j + 1] == rhs:
                    out.append(merged)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            words[i] = out
            for p in zip(out, out[1:]):
                _touch(p, c, i)
        # the merged pair must be gone from the live dict (every
        # occurrence was rewritten); its heap entries go stale
        assert (lhs, rhs) not in pair_count
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    driver_vocab_max: int = 65536,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Byte-pair-encoding vocabulary induction (Sennrich et al. 2016),
    the real iterative trainer that :func:`bpe_pair_stats` is one round
    of: starting from characters, repeatedly count adjacent token pairs
    across the corpus and merge the most frequent one. Returns the
    learned merge table ``(merge_round, lhs, rhs, pair_count)`` —
    ``pair_count`` is the corpus-wide occurrence count that won the
    round, ties broken ``(count desc, lhs asc, rhs asc)`` so the
    trained vocabulary is deterministic cross-engine (the oracle
    replays the identical rounds as chained CTEs).

    Corpus-scale shape: ONE pass over the text (lowercase → whitespace
    words, ``[a-z]+`` only → word-frequency table) and from then on
    every merge round runs on the VOCABULARY — distinct words with
    counts, corpus-size-independent — exactly how production BPE
    trainers scale. When the vocabulary fits ``driver_vocab_max`` rows
    (one count job decides), the merge loop runs DRIVER-SIDE over the
    collected (word, count) table with incrementally-maintained pair
    counts (:func:`_bpe_train_local`) — zero Spark jobs per round, the
    Sennrich in-memory trainer fed by a distributed count. This is a
    vocabulary-table fetch, not a data fetch: 65k rows ≈ a few MB, the
    q119 centroid-fetch class, and it is what makes 10³-10⁵ merge
    rounds tractable (measured: 256 merges 105× faster than the
    per-round distributed loop, SCALING.md round 12).

    Above the threshold the loop stays distributed: per round one
    in-row pair explode + one map-side-combined groupBy(pair) + a
    1-row argmax fetch (O(1)) + one vocabulary-sized string replace.
    Lineage is truncated every ``checkpoint_every`` rounds rather than
    every round — between checkpoints the frame carries only narrow,
    codegen-collapsed string replaces, so each argmax job re-executes
    at most K projections instead of paying a materialization per
    round. Both paths produce identical merge tables (property-pinned
    in tests); at 100 TB the word-count pass dominates either way and
    is a single shuffle.
    """
    words = (
        ensure_parallelism(df.select(text_col))
        .select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("s", _bpe_wrap(F.col("w")))
        .localCheckpoint()
    )
    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    if words.count() <= driver_vocab_max:
        vocab = [
            (r["w"], int(r["cnt"]))
            for r in words.select("w", "cnt").collect()
        ]
        merges = _bpe_train_local(vocab, n_merges)
    else:
        since_ckpt = 0
        for r in range(1, n_merges + 1):
            best = (
                words.select(F.explode(_bpe_pairs("s")).alias("p"), "cnt")
                .groupBy("p.lhs", "p.rhs")
                .agg(F.sum("cnt").alias("pc"))
                .orderBy(
                    F.col("pc").desc(),
                    F.col("lhs").asc(),
                    F.col("rhs").asc(),
                )
                .limit(1)
                .collect()
            )
            if not best:
                break
            lhs, rhs, pc = best[0]["lhs"], best[0]["rhs"], best[0]["pc"]
            merges.append((r, lhs, rhs, int(pc)))
            words = words.withColumn(
                "s",
                F.replace(
                    F.col("s"),
                    F.lit(f"<{lhs}><{rhs}>"),
                    F.lit(f"<{lhs}{rhs}>"),
                ),
            )
            since_ckpt += 1
            if since_ckpt >= checkpoint_every:
                words = words.localCheckpoint()
                since_ckpt = 0
    return spark.createDataFrame(
        merges,
        "merge_round INT, lhs STRING, rhs STRING, pair_count BIGINT",
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: Sequence[tuple[str, str]],
    out_col: str = "tokens",
) -> DataFrame:
    """Apply a learned BPE merge list (from :func:`bpe_train`, in
    training order) to tokenize text: ``(id, tokens array<string>)``
    over the same ``[a-z]+`` word domain the trainer saw. Pure
    expression chain — wrap every word's characters, fold the merge
    replaces over the whole wrapped line (word boundaries are safe: a
    ``<l><r>`` pattern cannot span the space between words), split
    back to tokens. Zero shuffles, zero UDFs: tokenization at 100 TB
    is scan-speed string work and must stay inside codegen.
    """
    return df.select(
        F.col(id_col), _bpe_tokens_expr(text_col, merges).alias(out_col)
    )


def _bpe_eligible_words(text_col: str) -> Column:
    """THE eligible-word domain of the whole BPE family (train /
    encode / fertility) as one shared Column: lowercased whitespace
    words matching ``[a-z]+``. Single definition on purpose (review
    r12): fertility's n_words and n_tokens must count the SAME domain,
    so the domain cannot be allowed to drift between two copies of
    the expression."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda w: w.rlike("^[a-z]+$"),
    )


def _bpe_tokens_expr(text_col: str, merges) -> Column:
    """The :func:`bpe_encode` token expression as a reusable Column
    (shared with :func:`tokenizer_fertility` so the two stay
    plan-identical): wrap eligible words' characters, fold the merge
    replaces, split back to tokens."""
    wrapped = F.array_join(
        F.transform(_bpe_eligible_words(text_col), _bpe_wrap),
        " ",
    )
    for lhs, rhs in merges:
        wrapped = F.replace(
            wrapped, F.lit(f"<{lhs}><{rhs}>"), F.lit(f"<{lhs}{rhs}>")
        )
    return F.filter(
        F.split(
            F.regexp_replace(wrapped, "[<>]+", " "), " "
        ),
        lambda t: t != "",
    )


def tokenizer_fertility(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: Sequence[tuple[str, str]],
) -> DataFrame:
    """Tokenizer-evaluation statistics per document under a learned
    BPE merge list — the standard fertility/compression report a
    tokenizer change ships with: ``n_words`` (eligible ``[a-z]+``
    words, the trainer's domain), ``n_chars`` (their total length),
    ``n_tokens`` (after :func:`bpe_encode`'s expression),
    ``fertility`` = tokens per word (1.0 = every word is one token;
    the headline number tokenizer papers report), and
    ``chars_per_token`` (compression — higher is better for a fixed
    context window). Documents with no eligible words score NULL
    fertility (0/0 is undefined, not 0).

    Pure per-row expression chain over one scan — zero shuffles, zero
    UDFs, same posture as :func:`bpe_encode` (whose token expression
    is shared verbatim, so the two stay plan-consistent). At 100 TB
    this is the scan-speed eval pass you run on a corpus SAMPLE per
    tokenizer candidate.
    """
    # STAGED projection (measured, SCALING r12): the word/token
    # arrays are higher-order-function expressions, which evaluate
    # INTERPRETED — outside whole-stage codegen's subexpression
    # elimination — so referencing them from several sibling output
    # columns in one select re-runs the whole merge-fold per column
    # (the round-7 no-CSE class, projection-level variant: 140 s vs
    # 68 s at 100×). Materialize them as named columns first; the
    # stats then reference plain attributes.
    staged = df.select(
        F.col(id_col),
        _bpe_eligible_words(text_col).alias("__w"),
        _bpe_tokens_expr(text_col, merges).alias("__t"),
    )
    zero = F.lit(0).cast("long")
    # NULL text propagates NULL arrays through split/filter — a NULL
    # doc has zero eligible words, not unknown-many
    n_words = F.coalesce(F.size("__w").cast("long"), zero)
    n_chars = F.coalesce(
        F.aggregate(
            "__w",
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.length(w),
        ),
        zero,
    )
    n_tokens = F.coalesce(F.size("__t").cast("long"), zero)
    return staged.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.when(
            n_words > 0,
            F.round(n_tokens.cast("double") / n_words, 6),
        ).alias("fertility"),
        F.when(
            n_tokens > 0,
            F.round(n_chars.cast("double") / n_tokens, 6),
        ).alias("chars_per_token"),
    )


def ngram_novelty(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Per-document NOVEL n-gram fraction against a CORPUS-SCALE
    reference — the memorization/overlap metric (Lee et al. 2022's
    "novel n-grams"; RefinedWeb reports the same curve): of a
    document's distinct word ``n``-grams, what fraction does the
    reference corpus NOT contain? Output per input doc: ``(id,
    n_grams, n_novel, novelty)`` — ``novelty`` NULL when the doc has
    no n-gram (shorter than ``n`` tokens), 1.0 = fully novel, 0.0 =
    fully covered (a verbatim copy of reference text).

    The complement of :func:`ngram_overlap`, at the other end of the
    reference-size spectrum: overlap broadcasts a SMALL benchmark
    blocklist; here the reference is another corpus (a train split
    screened against, a previous crawl snapshot), so its distinct
    gram set shuffles — the join is gram-keyed, both sides
    partition-parallel, and the candidate side is walked ONCE (the
    reference-hit flag travels through a single left join into one
    per-doc aggregate — a separate anti-join count would re-derive
    the explode lineage for its second consumer, the
    fork-without-reuse class). Stopword-y grams make the join key
    skewed — and AQE's skew-join splitting does NOT apply here:
    both join inputs are distincts ON the join key, so each side's
    final dedup aggregate reuses its own gram-keyed shuffle as the
    join input, and ``OptimizeSkewedJoin`` (which only matches
    ``SMJ(Sort(bare shuffle), Sort(bare shuffle))``) never fires —
    measured on an adversarial corpus with 8 stopword grams holding
    73 % of candidate rows (11 MB hot partitions vs 1 MB median,
    thresholds far below, ``forceOptimizeSkewedJoin`` on): zero
    skew-reads, while the equivalent plan with bare-shuffle children
    split every hot partition (SCALING.md round 13). The class:
    ANY join whose input is a distinct/groupBy on the join key is
    structurally skew-split-ineligible.

    ``salt_buckets=k`` is the manual escalation for that regime: the
    candidate side salts its gram key ``pmod(xxhash64(id), k)`` ways
    and the (already distinct, one-row-per-gram) reference side
    replicates k×, so a hot gram's candidate rows spread over k
    partitions at the price of a k× larger reference shuffle. Values
    are identical (property-pinned); default ``None`` keeps the
    certified unsalted plan. Worth switching only when one gram
    holds enough rows to straggle a task — a hot gram is bounded at
    one row per document by the per-doc distinct, so this needs
    billion-doc corpora with near-universal stopword runs.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if salt_buckets is not None and salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    cand = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
        )
        .distinct()
    )
    ref = (
        ensure_parallelism(reference.select(text_col))
        .select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if salt_buckets is not None:
        k = int(salt_buckets)
        cand = cand.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(k))
        )
        ref = ref.select(
            "gram",
            "__hit",
            F.explode(
                F.sequence(F.lit(0), F.lit(k - 1)).cast("array<bigint>")
            ).alias("__salt"),
        )
        joined = cand.join(ref, ["gram", "__salt"], "left")
    else:
        joined = cand.join(ref, "gram", "left")
    per_doc = (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.col("n_novel").cast("double") / F.col("n_grams"), 6
                ),
            ).alias("novelty"),
        )
    )


#: sampled-probe threshold for ``skew_mode="auto"``: estimated rows of
#: the hottest fingerprint above which the window form's one-task sort
#: is projected to lose to the join form's map-side partial
#: aggregation. Set CONSERVATIVELY from measurement (SCALING r11): on
#: local[32] the seed-stream GENERATION cost dominates and the window
#: form won every tested regime up to a 60M-row hot key (68 s vs
#: 104 s — the join pays the stream twice), so the crossover only
#: exists where a single straggler task outweighs a full extra pass,
#: i.e. wide clusters × extreme keys.
_SKEW_AUTO_THRESHOLD = 100_000_000


def _exact_substring_intervals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    L: int,
    skew_mode: str = "window",
) -> DataFrame:
    """Shared core of :func:`exact_substring_spans` (stats) and
    :func:`exact_substring_removal` (cut): the merged maximal
    duplicated character intervals ``(id, __s, __e)`` per doc, 1-based
    inclusive. See exact_substring_spans for the plan-shape rationale
    (window count over the seed stream, not groupBy+join-back).

    ``skew_mode`` picks the repeated-seed filter's physical form:

    - ``"window"`` (default, the certified q131/q132 plan): one pass
      over the seed stream, per-key window count. Wins broadly (63 s
      vs 113 s at 100× inflation, SCALING r10) because the join form
      re-derives the seed stream for its second consumer — but a
      single fingerprint repeated millions of times (megacorpus
      boilerplate, degenerate runs) sorts on ONE task.
    - ``"join"`` — groupBy the fingerprint (partial aggregation
      collapses a hot key map-side to one row per task) and join the
      ``count >= 2`` survivors back as a SEMI join. The duplicated-
      fingerprint frame is usually tiny (dup keys only), so AQE
      broadcasts it — and when it shuffles, AQE's skew-join splitting
      applies, which no window can use. Price: the seed stream
      computes twice (it is deliberately NOT checkpointed — measured
      GC death at 100×, SCALING r10).
    - ``"auto"`` — a cheap probe (1 % doc sample, top fingerprint
      count, scaled) picks: hot-key estimate above
      ``_SKEW_AUTO_THRESHOLD`` rows → ``"join"``, else ``"window"``.
      The probe is one action over the sampled seed stream; certified
      plans keep the explicit default instead. Measured (SCALING
      r11): locally the window form won EVERY regime up to a 60M-row
      hot key, so the threshold is conservative — the join form's
      real constituency is a wide cluster where one straggler task
      costs more than an extra full pass over the stream.

    EAGER-PROBE caveat (ADVICE r11): ``"auto"`` runs its sample scan
    + collect AT PLAN-CONSTRUCTION TIME — a side-effecting Spark job
    from an otherwise lazy builder, paid even if the returned frame
    is never executed, and re-paid on every call (each fixpoint pass
    if the caller threads ``auto`` through
    :func:`exact_substring_removal_to_fixpoint`). Probe once and pass
    the resolved ``"window"``/``"join"`` explicitly when constructing
    many plans.
    """
    if skew_mode not in ("window", "join", "auto"):
        raise ValueError(f"unknown skew_mode {skew_mode!r}")
    base = ensure_parallelism(df.select(id_col, text_col))
    # guard the too-short case explicitly: F.sequence(1, 0) is [1, 0]
    # (negative step — the q123 pitfall), not an empty range
    starts = F.when(
        F.length(text_col) >= L,
        F.sequence(F.lit(1), F.length(text_col) - (L - 1)),
    ).otherwise(F.array().cast("array<int>"))
    occ = base.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(starts).alias("i"),
    ).select(
        id_col,
        "i",
        F.md5(F.substring(F.col(text_col), F.col("i"), F.lit(L))).alias(
            "__k"
        ),
    )
    if skew_mode == "auto":
        # probe on a 1% doc sample. A sampled DOC arrives whole, so a
        # key concentrated inside single documents is measured exactly
        # and must NOT scale by 1/frac (a degenerate repeated-char doc
        # would read 100x too hot and flip to the measured-worse join
        # form); only the cross-document remainder extrapolates:
        #   est(k) = max_single_doc_count(k)
        #          + (sample_count(k) - max_single_doc_count(k)) / frac
        frac = 0.01
        sk = (
            base.sample(fraction=frac, seed=42)
            .select(
                F.col(id_col),
                F.explode(starts).alias("i"),
                F.col(text_col),
            )
            .select(
                F.col(id_col),
                F.md5(
                    F.substring(F.col(text_col), F.col("i"), F.lit(L))
                ).alias("__k"),
            )
            .groupBy("__k", id_col)
            .agg(F.count(F.lit(1)).alias("cd"))
            .groupBy("__k")
            .agg(
                F.sum("cd").alias("c"),
                F.max("cd").alias("m"),
            )
            .select(
                (
                    F.col("m")
                    + (F.col("c") - F.col("m")) / F.lit(frac)
                ).alias("est")
            )
            .agg(F.max("est"))
            .collect()[0][0]
        )
        est = sk or 0.0
        skew_mode = "join" if est > _SKEW_AUTO_THRESHOLD else "window"
    if skew_mode == "join":
        hot = (
            occ.groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") >= 2)
            .select("__k")
        )
        dup = occ.join(hot, "__k", "left_semi").select(id_col, "i")
    else:
        dup = (
            occ.withColumn(
                "__c", F.count(F.lit(1)).over(Window.partitionBy("__k"))
            )
            .where(F.col("__c") >= 2)
            .select(id_col, "i")
        )
    return _merge_seed_intervals(dup, id_col, L)


def _merge_seed_intervals(dup: DataFrame, id_col: str, L: int) -> DataFrame:
    """Merge overlapping AND adjacent [i, i+L-1] seed intervals per
    doc into maximal spans ``(id, __span, __s, __e)``: a seed opens a
    new span iff a genuine uncovered gap exists before it
    (i > prev_cov + 1); a seed starting exactly at prev_cov + 1
    touches the running span and extends it — two touching duplicated
    regions are one maximal interval (ADVICE r10: the old
    `i > prev_cov` kept them separate, overcounting n_dup_spans vs
    the "merged maximal" claim). Shared by the corpus-internal filter
    above and the streaming screen-against-index path."""
    wdoc = Window.partitionBy(id_col).orderBy(F.col("i").asc())
    prev_cov = F.max(F.col("i") + (L - 1)).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        dup.withColumn(
            "__new",
            (F.col("i") > F.coalesce(prev_cov, F.lit(-1)) + 1).cast(
                "int"
            ),
        )
        .withColumn(
            "__span",
            F.sum("__new").over(
                wdoc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__span")
        .agg(
            F.min("i").alias("__s"),
            (F.max("i") + (L - 1)).alias("__e"),
        )
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    skew_mode: str = "window",
) -> DataFrame:
    """Character-granular exact-substring duplicate detection — the
    suffix-array pass of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", ExactSubstr: any substring of
    >= ``min_len`` characters appearing more than once in the corpus
    is duplicated, ALL copies counted) expressed as a distributed
    fixed-window fingerprint join: a substring of length >= L repeats
    iff some length-L window of it repeats, so the duplicated
    character positions are exactly the union of ``[i, i+L)`` over
    repeated L-windows. This is the character-granular completion of
    the dedup family — :func:`duplicate_span_stats` / q110 work at
    WORD k-gram granularity, which a copy that re-wraps whitespace or
    crosses token boundaries differently can evade.

    Per input doc: ``(id, n_chars, dup_chars, n_dup_spans)`` —
    ``dup_chars`` counts positions covered by the merged maximal
    duplicated intervals, ``n_dup_spans`` the interval count; clean
    docs come back ``(len, 0, 0)``, ready for a Dolma-style
    ``dup_chars / n_chars`` quality gate.

    Scale shape: one explode to the (doc, i, md5(window)) seed stream
    — O(total corpus chars) rows, the same order as tokenizing, each
    row carrying a 32-char digest rather than the text — then ONE
    key-partitioned window count keeps repeated seeds; the interval
    merge is a window + groupBy over ONLY the duplicated seeds, keyed
    by doc — bounded by each doc's own length, never corpus-sized. No
    suffix array materializes; the fixed-L window family is how the
    production implementations of this pass (Dolma's dedupe tooling,
    RedPajama-v2 annotations) shard it.

    The repeated-seed filter is deliberately a WINDOW count, not the
    groupBy+join-back a SQL head would write: the seed stream feeds
    the count AND the survivor filter, and as sibling consumers the
    join form re-executes the corpus scan + md5 per consumer (the
    round-5 fork-without-reuse class — measured 113 s vs 63 s at
    100× inflation, 3.8× vs 2.3× at 10×), while checkpointing the
    seed stream materializes ~15× the corpus (GC death at 100×
    locally; unshippable at 100 TB). The window's partition-key sort
    is the price; a pathologically hot window key (megacorpus
    boilerplate) is the one case to fall back to the
    groupBy+join-back form, whose partial aggregation absorbs the
    skew map-side.

    ``skew_mode="auto"`` resolves that choice via a sample probe that
    runs EAGERLY at plan-construction time (a Spark job before any
    action on the returned frame, re-paid per call) — probe once and
    pass the resolved mode explicitly when constructing many plans.
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    spans = _exact_substring_intervals(
        df, id_col, text_col, min_len, skew_mode=skew_mode
    )
    agg = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum(F.col("__e") - F.col("__s") + 1)
        .cast("long")
        .alias("dup_chars"),
    )
    return (
        df.select(id_col, F.length(text_col).cast("long").alias("n_chars"))
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_chars",
            F.coalesce("dup_chars", F.lit(0).cast("long")).alias(
                "dup_chars"
            ),
            F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias(
                "n_dup_spans"
            ),
        )
    )


def exact_substring_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    skew_mode: str = "window",
) -> DataFrame:
    """Character-granular exact-substring duplicate REMOVAL — the cut
    step Lee et al. 2022 run on the spans :func:`exact_substring_spans`
    tags: every character position covered by a corpus-repeated
    ``>= min_len`` substring is deleted from its document (ALL copies,
    the paper's remove-all policy — they show training is insensitive
    to keeping one copy vs none, and remove-all needs no global
    occurrence ordering), and the document is reassembled from the
    surviving gaps. The character-granular counterpart of
    :func:`duplicate_span_removal` (word k-grams, keep-first).

    Per input doc: ``(id, n_chars, dup_chars, text_clean)`` with
    ``length(text_clean) == n_chars - dup_chars`` by construction;
    fully-duplicated docs come back empty, ready for a length gate.
    NOT idempotent by design: cutting can butt two previously-distant
    fragments together and form a NEW repeated window across the seam
    (Lee et al. accept this; a fixpoint loop over the operator
    converges in practice in 1-2 passes).

    Scale shape: the shared interval core (one seed-stream window
    count + doc-keyed merge, see exact_substring_spans), then the
    per-doc reassembly is ONE aggregate fold over the doc's own sorted
    interval list — the interval array arrives as a plain column
    attribute (the q110 lesson: an expression-valued array inside a
    HOF lambda is re-evaluated per element), and each fold step does
    one O(gap) substring, so reassembly is O(doc length) per doc.

    ``skew_mode="auto"`` runs an EAGER sample probe at plan-
    construction time, re-paid per call — see
    :func:`exact_substring_spans`; resolve it once for repeated
    construction (each fixpoint pass re-pays it).
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    spans = _exact_substring_intervals(
        df, id_col, text_col, min_len, skew_mode=skew_mode
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("__s").alias("s"), F.col("__e").alias("e"))
            )
        ).alias("__iv"),
        F.sum(F.col("__e") - F.col("__s") + 1)
        .cast("long")
        .alias("dup_chars"),
    )
    joined = df.select(id_col, text_col).join(per_doc, id_col, "left")
    iv = F.coalesce(
        F.col("__iv"),
        F.array().cast("array<struct<s:int,e:int>>"),
    )
    # fold: acc carries (clean-so-far, last covered end); each interval
    # appends the gap before it; finish appends the tail after the last
    clean = F.aggregate(
        iv,
        F.struct(
            F.lit("").alias("acc"), F.lit(0).cast("int").alias("pos")
        ),
        lambda st, s: F.struct(
            F.concat(
                st["acc"],
                F.substring(
                    F.col(text_col),
                    st["pos"] + 1,
                    s["s"] - st["pos"] - 1,
                ),
            ).alias("acc"),
            s["e"].alias("pos"),
        ),
        lambda st: F.concat(
            st["acc"],
            F.substring(
                F.col(text_col),
                st["pos"] + 1,
                F.length(text_col) - st["pos"],
            ),
        ),
    )
    return joined.select(
        id_col,
        F.length(text_col).cast("long").alias("n_chars"),
        F.coalesce("dup_chars", F.lit(0).cast("long")).alias("dup_chars"),
        clean.alias("text_clean"),
    )


def exact_substring_removal_to_fixpoint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    max_passes: int = 4,
    skew_mode: str = "window",
) -> DataFrame:
    """Iterate :func:`exact_substring_removal` to its fixpoint — the
    loop that operator's docstring defers to: a single cut can butt
    two previously-distant fragments together and form a NEW repeated
    window across the seam, so one pass is not idempotent. Re-run
    until a pass removes zero characters (the fixpoint — idempotence
    there is property-tested) or ``max_passes`` is hit.

    Same output contract as the single pass, against the ORIGINAL
    text: ``(id, n_chars, dup_chars, text_clean)`` with ``dup_chars``
    the TOTAL characters removed across all passes (= n_chars −
    length(text_clean) by construction), plus ``n_passes`` (removal
    passes executed, including the zero-removal pass that confirms
    the fixpoint) and ``converged`` (False only when ``max_passes``
    ended the loop with the last pass still removing text).

    The convergence check is one driver-side scalar per pass (the
    semi-naive-closure pattern); each pass's output is
    ``localCheckpoint``-pinned — an iterative lineage over the corpus
    re-executes every earlier pass per action otherwise. In practice
    convergence takes 1-2 real passes (Lee et al. accept even the
    single pass). ``skew_mode="auto"``'s eager sample probe (see
    :func:`exact_substring_spans`) re-runs on EVERY pass here —
    resolve it to ``"window"``/``"join"`` up front instead."""
    if max_passes < 1:
        raise ValueError(f"max_passes must be >= 1, got {max_passes}")
    orig = df.select(
        id_col, F.length(text_col).cast("long").alias("n_chars")
    )
    cur = df.select(id_col, text_col)
    passes = 0
    converged = False
    while passes < max_passes:
        out = exact_substring_removal(
            cur, id_col, text_col, min_len, skew_mode=skew_mode
        ).localCheckpoint()
        passes += 1
        removed = out.agg(F.sum("dup_chars")).collect()[0][0] or 0
        cur = out.select(id_col, F.col("text_clean").alias(text_col))
        if removed == 0:
            converged = True
            break
    return orig.join(cur, id_col).select(
        id_col,
        "n_chars",
        (F.col("n_chars") - F.length(text_col).cast("long")).alias(
            "dup_chars"
        ),
        F.col(text_col).alias("text_clean"),
        F.lit(passes).alias("n_passes"),
        F.lit(converged).alias("converged"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 200,
    stride: int = 150,
    respect_boundaries: bool = False,
    boundary: str = " ",
) -> DataFrame:
    """Overlapping character chunking — the retrieval-corpus
    preparation step (RAG indexing, long-document embedding): chunk
    ``c`` covers ``[1 + c·stride, 1 + c·stride + chunk_chars)``;
    ``stride < chunk_chars`` gives the standard overlap so no span is
    split across a boundary without also appearing whole in a
    neighbor. Chunk count is pure integer arithmetic —
    ``0`` for empty docs, ``1`` when the doc fits, else
    ``(len - chunk_chars + stride - 1) div stride + 1`` — so the
    layout is engine-portable (no float ceil). The final chunk may run
    short (substring truncates at the end of the doc); every character
    of the doc is covered by at least one chunk.

    Output: ``(id, chunk_id, chunk_start, chunk_text, n_chunks)``,
    one row per chunk. Pure per-row explode — zero shuffles, scan
    speed at 100 TB, and the natural upstream of the embedding /
    ANN-index queries (q51/q63/q86) whose unit is the chunk, not the
    document.

    ``respect_boundaries=True`` is the RAG-quality variant (r14
    VERDICT item): a fixed-offset cut splits words mid-token, so each
    NON-TAIL chunk instead ends at the last ``boundary`` occurrence
    (default a single space) inside its window — chunk starts stay
    the same fixed-stride arithmetic (the layout never becomes
    data-dependent), only the tail of each chunk trims back, and the
    trimmed suffix reappears whole in the next chunk. Still pure
    per-row expressions: the last-occurrence search is
    ``locate(reverse(boundary), reverse(window))`` arithmetic, zero
    shuffle. Two documented fallbacks keep full coverage: the DOC-TAIL
    chunk never trims (the document end is a boundary), and a window
    whose last boundary sits at or before the stride point (or has
    none — one unbroken token) takes the HARD cut, since trimming
    past the stride point would drop characters no later chunk
    covers. The output gains ``boundary_cut`` (was this chunk
    trimmed); ``chunk_start``/``n_chunks`` are identical to the flat
    layout by construction.
    """
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if chunk_chars < stride:
        raise ValueError(
            f"chunk_chars ({chunk_chars}) must be >= stride ({stride}) — "
            "a stride past the chunk end would leave uncovered gaps"
        )
    if respect_boundaries and not boundary:
        raise ValueError("boundary must be a non-empty string")
    # backtick-quote the user-supplied names once (escaped) so a name
    # containing a backtick resolves as a literal identifier instead
    # of failing F.col's multi-part parse — the writers.py class
    icol = F.col("`" + id_col.replace("`", "``") + "`")
    tcol = F.col("`" + text_col.replace("`", "``") + "`")
    n = F.length(tcol)
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= chunk_chars, F.lit(1))
        .otherwise(
            # exact integer ceil((len - C) / stride) + 1 — floor
            # division on a numerator that is positive on this branch
            # (len > chunk_chars), so F.floor is the integer `div`;
            # float ceil would be the one engine-divergent spot in the
            # layout. Built-in column arithmetic, not F.expr: splicing
            # text_col into an expr string is the identifier-injection
            # class writers.py fixed (backtick-bearing column names).
            F.floor(
                (n - F.lit(int(chunk_chars)) + F.lit(int(stride) - 1))
                / F.lit(int(stride))
            ).cast("int")
            + 1
        )
    )
    ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    out = df.select(
        icol,
        tcol.alias("__chunk_text_src"),
        n_chunks.alias("n_chunks"),
        F.explode(ids).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride + 1
    window = F.substring(
        F.col("__chunk_text_src"), start, F.lit(chunk_chars)
    )
    if not respect_boundaries:
        return out.select(
            icol,
            F.col("chunk_id"),
            start.alias("chunk_start"),
            window.alias("chunk_text"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
        )
    blen = len(boundary)
    w = F.col("__w")
    # last occurrence of the boundary inside the window, via the
    # reversed-search identity: locate over reversed strings finds the
    # occurrence closest to the window END; 0 = not present (both
    # engines' convention). cut_len = chars strictly before it.
    pos = F.locate(boundary[::-1], F.reverse(w))
    cut_len = F.length(w) - pos - F.lit(blen) + 1
    is_tail = (start + F.lit(chunk_chars) - 1) >= F.length(
        F.col("__chunk_text_src")
    )
    trimmed = (
        ~is_tail & (pos > 0) & (cut_len > F.lit(int(stride)))
    )
    return (
        out.select(
            icol,
            "chunk_id",
            "n_chunks",
            F.col("__chunk_text_src"),
            start.alias("chunk_start"),
            window.alias("__w"),
        )
        .select(
            icol,
            F.col("chunk_id"),
            F.col("chunk_start"),
            F.when(trimmed, F.substring(w, 1, cut_len))
            .otherwise(w)
            .alias("chunk_text"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            trimmed.alias("boundary_cut"),
        )
    )


_SUBSTR_INDEX_SIDECAR = Sidecar(
    "_substring_index_params.json",
    ("min_len",),
    "substring index",
    "an index screened under a different min_len silently misses "
    "spans; rebuild via write_substring_index",
)


def _window_fingerprints(
    df: DataFrame, id_col: str, text_col: str, L: int, base_hash: str
) -> DataFrame:
    """The (id, i, __k) seed stream of every length-``L`` character
    window as 8-byte longs (the stored index is ~8 bytes/corpus char
    instead of md5-hex's 32; collisions at 2^63 are
    birthday-negligible and only ever ADD a screened span).
    ``xxhash64`` is the cheap production default; ``md5`` folds the
    first 15 hex digits to a long (the q50 convention) so the whole
    stored-screen lifecycle replays in any SQL engine (q138)."""
    base = ensure_parallelism(df.select(id_col, text_col))
    starts = F.when(
        F.length(text_col) >= L,
        F.sequence(F.lit(1), F.length(text_col) - (L - 1)),
    ).otherwise(F.array().cast("array<int>"))
    sub = F.substring(F.col(text_col), F.col("i"), F.lit(L))
    if base_hash == "xxhash64":
        k = F.xxhash64(sub)
    elif base_hash == "md5":
        k = F.conv(F.substring(F.md5(sub), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown base_hash {base_hash!r}")
    return base.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(starts).alias("i"),
    ).select(id_col, "i", k.alias("__k"))


def write_substring_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    base_hash: str = "xxhash64",
) -> None:
    """Persist the corpus's substring-fingerprint index: the DISTINCT
    ``xxhash64`` fingerprints of every length-``min_len`` character
    window, with ``min_len`` frozen into a sidecar — the q131 seed
    stream turned into a stored screening artifact (the q120/IVF
    maintained-index pattern applied to substring-level dedup). A
    micro-batch can then be screened for character spans already
    present in the corpus WITHOUT rescanning it
    (:func:`screen_against_substring_index`) and folded in with an
    O(batch) append (:func:`merge_substring_index`).

    Size posture: one 8-byte long per distinct corpus window — ~8
    bytes/char upper bound, typically far less after distinct (shared
    boilerplate collapses); the screen-side join reads it
    partition-pruned by the shuffle hash. The sidecar freezes
    ``min_len`` because fingerprints of different window lengths are
    incomparable — the mismatched-quantizer failure class again."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    fps = (
        _window_fingerprints(corpus, id_col, text_col, min_len, base_hash)
        .select("__k")
        .distinct()
    )
    fps.write.mode("overwrite").parquet(path)
    spark = corpus.sparkSession
    # metadata-only count over the just-written parquet (footer row
    # counts — no data scan): seeds the compaction bookkeeping below
    n = spark.read.parquet(path).count()
    # sidecar AFTER the data (write_dedup_index ordering): a failed
    # data write never leaves a sidecar pointing at nothing; base_hash
    # is frozen alongside min_len (fingerprints under different hashes
    # are incomparable — the same mismatch class). n_rows/appended_rows
    # are the log-structured maintenance counters merge_ uses to
    # self-trigger compaction (n_rows = rows at last full rewrite,
    # appended_rows = blind-append rows since).
    _SUBSTR_INDEX_SIDECAR.write(
        spark,
        path,
        {
            "min_len": int(min_len),
            "base_hash": base_hash,
            "n_rows": int(n),
            "appended_rows": 0,
        },
    )


def merge_substring_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    auto_compact_ratio: float | None = 0.5,
) -> dict:
    """Fold a micro-batch's window fingerprints into a stored
    substring index under the sidecar's own ``min_len``: one
    fingerprint pass over the BATCH plus an O(batch) parquet append —
    the existing corpus-sized rows are never read (the
    merge_dedup_index shape). Batch-internal duplicates collapse via
    a batch-local distinct; fingerprints already in the index may be
    appended again — the screen's semi join is set-semantics, so
    duplicates cost bytes, not correctness.

    Compaction is SELF-TRIGGERING: the sidecar tracks ``n_rows``
    (rows at the last full rewrite) and ``appended_rows`` (blind
    appends since), and once ``appended_rows >
    auto_compact_ratio * n_rows`` this call runs
    :func:`compact_substring_index` itself — an unsupervised ingest
    loop never grows the index unboundedly. Pass
    ``auto_compact_ratio=None`` to defer compaction to the caller
    (the manual log-structured trade). A legacy sidecar without the
    counters compacts on the first merge, which seeds them.

    SINGLE WRITER REQUIRED (:func:`util.swap_in_staged`): a merge
    that runs during a compaction silently loses its fingerprints.
    Concurrent SCREENS are safe at every point; self-triggering
    compaction makes an unsupervised multi-writer loop the likely
    misuse, so serialize writers externally (one queue, or a lease).

    Returns the sidecar parameters as of AFTER this merge (counters
    reset when compaction fired)."""
    params = _SUBSTR_INDEX_SIDECAR.read(spark, path)
    fps = (
        _window_fingerprints(
            batch,
            id_col,
            text_col,
            int(params["min_len"]),
            params.get("base_hash", "xxhash64"),
        )
        .select("__k")
        .distinct()
    )
    # one computation, two actions: the count below feeds the
    # compaction trigger and must equal what the append wrote
    fps.persist()
    try:
        n_batch = fps.count()
        fps.write.mode("append").parquet(path)
    finally:
        fps.unpersist()
    params = {
        **params,
        "n_rows": int(params.get("n_rows", 0)),
        "appended_rows": int(params.get("appended_rows", 0)) + n_batch,
    }
    # counters land in the sidecar BEFORE any compaction: if the
    # compaction below dies, the on-disk state (appended files +
    # updated counters) is exactly consistent and the next merge
    # re-triggers it
    _SUBSTR_INDEX_SIDECAR.write(spark, path, params)
    if (
        auto_compact_ratio is not None
        and params["appended_rows"]
        > auto_compact_ratio * max(params["n_rows"], 1)
    ):
        n = compact_substring_index(spark, path)
        params = {**params, "n_rows": int(n), "appended_rows": 0}
    return params


def screen_against_substring_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Screen a micro-batch for character spans already present in a
    stored substring index: the q131 span computation with the
    repeated-seed filter replaced by a semi join against the stored
    fingerprints — per batch doc ``(id, n_chars, dup_chars,
    n_dup_spans)``, where the spans are the merged maximal intervals
    covered by windows the INDEX corpus already contains.
    Batch-internal repetition is deliberately out of scope (screen
    semantics, the q120 contract): run :func:`exact_substring_spans`
    on the batch for that.

    Cost: one fingerprint pass over the batch + one semi join keyed
    on the fingerprint against the stored parquet — batch-sized
    shuffle, corpus read pruned to the join. The streaming
    composition (foreachBatch: screen → gate → merge) is pinned in
    tests/test_streaming.py."""
    params = _SUBSTR_INDEX_SIDECAR.read(spark, path)
    L = int(params["min_len"])
    occ = _window_fingerprints(
        batch, id_col, text_col, L, params.get("base_hash", "xxhash64")
    )
    idx = spark.read.parquet(path)
    dup = occ.join(idx, "__k", "left_semi").select(id_col, "i")
    spans = _merge_seed_intervals(dup, id_col, L)
    agg = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum(F.col("__e") - F.col("__s") + 1)
        .cast("long")
        .alias("dup_chars"),
    )
    return (
        batch.select(
            id_col, F.length(text_col).cast("long").alias("n_chars")
        )
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_chars",
            F.coalesce("dup_chars", F.lit(0).cast("long")).alias(
                "dup_chars"
            ),
            F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias(
                "n_dup_spans"
            ),
        )
    )


def compact_substring_index(spark, path: str) -> int:
    """Rewrite a substring index as its distinct fingerprint set —
    the compaction merges defer or self-trigger (appends are blind,
    so a fingerprint already indexed costs bytes on every re-ingest;
    screens stay correct because the semi join is set-semantics).
    One distinct + one rewrite over the INDEX (never the corpus
    text). Returns the compacted fingerprint count.

    Crash-atomic and SINGLE WRITER REQUIRED: the distinct set and its
    sidecar are staged to ``<path>.compact`` and swapped in by
    :func:`util.swap_in_staged` (crash windows and the writer contract
    are documented there; self-triggering compaction inside
    :func:`merge_substring_index` serializes itself for a single
    ingest loop)."""
    params = _SUBSTR_INDEX_SIDECAR.read(spark, path)
    base = path.rstrip("/")
    staged = base + ".compact"
    # reads the live directory, writes the sibling — no in-place
    # overwrite, so no checkpoint needed to fence the lineage
    fps = spark.read.parquet(base).select("__k").distinct()
    fps.write.mode("overwrite").parquet(staged)
    n = spark.read.parquet(staged).count()  # parquet-footer count
    _SUBSTR_INDEX_SIDECAR.write(
        spark,
        staged,
        {**params, "n_rows": int(n), "appended_rows": 0},
    )
    swap_in_staged(spark, base, "compaction")
    return n


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    skew_mode: str = "window",
) -> DataFrame:
    """Interpolated bigram LM quality proxy — the order-2 upgrade of
    :func:`unigram_logprob` (q88's CCNet-style stand-in for a KenLM
    perplexity filter): each document's mean per-token natural-log
    probability under the corpus's OWN Jelinek-Mercer-interpolated
    bigram model,

        p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i) / c(w_{i-1})
                         + (1 - lam) * c(w_i) / N

    with the first token scored by its unigram probability. Bigram
    structure is what separates fluent text from bag-of-frequent-words
    gibberish — a doc of common tokens in nonsense ORDER scores near
    the corpus mode under q88 and far from it here.

    Plan shape (the 100 TB story): bigram pairs are built per row
    JVM-side (``arrays_zip`` of the token array against its own
    shift — no positional self-join, no window), one bigram-frequency
    count as a WINDOW over the occurrence stream (one pair-keyed
    shuffle computes the count in the same pass — a groupBy+join-back
    would re-derive the tokenize/zip/explode lineage for its second
    consumer, the round-10 fork-without-reuse class), then the
    vocabulary-sized unigram table broadcasts on for the two
    conditional-probability terms. First-token scoring reuses the
    same broadcast unigram table. No smoothing floor needed:
    every scored n-gram is in the corpus by construction (the model is
    trained on the scored corpus itself, q88's contract).

    ``skew_mode`` is the q131 device applied to the PAIR window — the
    skew key here is a stopword bigram ("of the"-class) whose every
    occurrence lands in one window partition:

    - ``"window"`` (default, the certified q139 plan): per-pair count
      in the same pass over the occurrence stream.
    - ``"join"``: ``groupBy(w1, w2)`` (partial aggregation absorbs
      the hot pair map-side) joined back on the pair key — the count
      travels as a column, AQE skew-split applies to the join; price:
      the tokenize+zip+explode stream computes twice.
    - ``"auto"``: the q131 sampled probe (1 % docs, in-doc
      concentration NOT scaled by 1/frac) against
      ``_SKEW_AUTO_THRESHOLD``. EAGER at plan-construction time
      (one Spark job per call) — probe once and pass the resolved
      mode when constructing many plans. Measured (SCALING r12): as
      with q131, the window form wins every local regime — the join
      form's constituency is wide-cluster straggler topology."""
    if not 0 <= lam <= 1:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if skew_mode not in ("window", "join", "auto"):
        raise ValueError(f"unknown skew_mode {skew_mode!r}")
    base = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("__doc"),
        whitespace_tokens(F.col(text_col)).alias("__t"),
    )
    n = F.size("__t")
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(F.col("__t"), 1, n - 1).alias("w1"),
            F.slice(F.col("__t"), 2, n - 1).alias("w2"),
        ),
    ).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )
    toks = base.select("__doc", F.explode("__t").alias("token"))
    freq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
        .withColumn("__total", F.sum("c1").over(Window.partitionBy()))
        # vocabulary-sized result of a corpus-sized pass, feeding
        # THREE consumers (two bigram-term broadcasts + first-token
        # scoring) — the classic cheap-to-pin/expensive-to-rerun
        # subtree; without the pin the tokenize+count pass runs 3x
        .localCheckpoint()
    )
    occ = base.select("__doc", F.explode(pairs).alias("p")).select(
        "__doc", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    if skew_mode == "auto":
        # the q131 probe on a 1% doc sample: a sampled doc arrives
        # WHOLE, so in-doc-concentrated pair counts are measured
        # exactly and must not scale by 1/frac; only the cross-doc
        # remainder extrapolates
        frac = 0.01
        est = (
            base.sample(fraction=frac, seed=42)
            .select("__doc", F.explode(pairs).alias("p"))
            .groupBy("p.w1", "p.w2", "__doc")
            .agg(F.count(F.lit(1)).alias("cd"))
            .groupBy("w1", "w2")
            .agg(F.sum("cd").alias("c"), F.max("cd").alias("m"))
            .select(
                (F.col("m") + (F.col("c") - F.col("m")) / F.lit(frac))
                .alias("est")
            )
            .agg(F.max("est"))
            .collect()[0][0]
        ) or 0.0
        skew_mode = "join" if est > _SKEW_AUTO_THRESHOLD else "window"
    if skew_mode == "join":
        # groupBy absorbs the hot pair map-side; the count joins back
        # as a column (AQE skew-split applies). The occurrence stream
        # computes twice — the q131 trade, deliberately unpinned
        # (checkpointing a corpus-token-sized stream is the measured
        # GC death class, SCALING r10)
        pc = occ.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("__c2")
        )
        counted = occ.join(pc, ["w1", "w2"])
    else:
        # c2 as a window count over occ itself, NOT groupBy +
        # join-back: the join form re-derives the tokenize+zip+explode
        # lineage for its second consumer (the round-10
        # fork-without-reuse class, measured 113 s vs 63 s at 100x on
        # the q131 seed stream); the window computes the per-pair
        # count in the SAME pass
        counted = occ.withColumn(
            "__c2", F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
        )
    bigram_scores = (
        counted
        .join(
            F.broadcast(freq.select(F.col("token").alias("w1"), "c1")),
            "w1",
        )
        .join(
            F.broadcast(
                freq.select(
                    F.col("token").alias("w2"),
                    F.col("c1").alias("c1_w2"),
                    "__total",
                )
            ),
            "w2",
        )
        .select(
            "__doc",
            F.log(
                F.lit(float(lam)) * F.col("__c2") / F.col("c1")
                + F.lit(1.0 - float(lam))
                * F.col("c1_w2")
                / F.col("__total")
            ).alias("__lp"),
        )
    )
    first = base.where(n >= 1).select(
        "__doc", F.element_at("__t", 1).alias("token")
    )
    first_scores = first.join(F.broadcast(freq), "token").select(
        "__doc", F.log(F.col("c1") / F.col("__total")).alias("__lp")
    )
    per_doc = (
        bigram_scores.unionByName(first_scores)
        .groupBy("__doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__lp"), 6).alias("mean_logprob"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc.withColumnRenamed("__doc", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias(
                "n_tokens"
            ),
            F.col("mean_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Model-scorer quality gate (FineWeb-Edu / DCLM-style classifier filtering)
# ---------------------------------------------------------------------------

def fake_model_scorer(texts):
    """Deterministic content-derived fake scorer (the
    ``multimodal.fake_decoder`` seam contract, for text): score =
    first 8 md5 hex digits of the UTF-8 text / 2^32 — uniform on
    [0, 1), bit-replayable in any SQL engine
    (``('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0``),
    and exactly representable in float64 (an integer < 2^32 divided
    by a power of two). NULL text scores NULL. Lets every Spark-side
    contract of :func:`model_scores` (schema, Arrow batching,
    partition preservation, gate composition) be tested and
    driver-certified for real while the production model is absent."""
    import hashlib

    import pandas as pd

    def one(t):
        if t is None:
            return None
        d = hashlib.md5(str(t).encode("utf-8")).hexdigest()
        return int(d[:8], 16) / 4294967296.0

    return texts.map(one).astype("float64" if len(texts) else object)


def model_scores(
    df: DataFrame,
    id_cols: Sequence[str],
    text_col: str,
    scorer=fake_model_scorer,
    score_col: str = "model_score",
) -> DataFrame:
    """Batch model inference seam over a text column — the
    FineWeb-Edu/DCLM classifier-scoring stage, as partition-preserving
    ``mapInPandas`` (the ``multimodal.extract_features`` shape).

    ``scorer`` is BATCH-VECTORIZED: it receives a ``pd.Series`` of
    texts (one Arrow batch at a time) and returns an aligned
    ``pd.Series`` of float scores — exactly the shape a real model
    wants (tokenize-and-forward a whole batch, amortizing per-call
    overhead), injected so the environment's lack of model runtimes
    never touches the Spark plumbing. The default
    :func:`fake_model_scorer` is deterministic and SQL-replayable
    (oracle-certifiable end to end).

    Scale shape: embarrassingly parallel scan — no shuffle, Arrow
    moves each input split to Python once, and the output carries only
    ``id_cols + [score_col]`` (the text never rides back to the JVM).
    At 100 TB the only knobs are input split size
    (``spark.sql.files.maxPartitionBytes``) and
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (= the model's
    batch size)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_cols = list(id_cols)
    if score_col in df.columns:
        raise ValueError(
            f"model_scores output column {score_col!r} already exists "
            "on the input"
        )
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in id_cols]
        + [StructField(score_col, DoubleType(), True)]
    )

    def run(batches):
        for batch in batches:
            out = batch[id_cols].copy()
            out[score_col] = scorer(batch[text_col])
            yield out

    return df.select(*id_cols, text_col).mapInPandas(run, schema=out_schema)


def model_quality_gate(
    df: DataFrame,
    key_col: str,
    text_col: str,
    scorer=fake_model_scorer,
    threshold: float | None = None,
    keep_pct: int | None = None,
    strata_col: str | None = None,
    score_col: str = "model_score",
    buckets: int = 256,
) -> DataFrame:
    """Classifier-filter a corpus on model scores — the standard
    FineWeb-Edu ("educational value >= threshold") / DCLM ("top X%
    by fasttext score") curation stage, composed from
    :func:`model_scores` + either a fixed ``threshold`` or the
    per-stratum :func:`..relational.quality_percentile_gate`.

    Exactly one of ``threshold`` / ``keep_pct`` must be given:

    * ``threshold=t``: ``keep = score >= t`` (NULL-scored rows are
      dropped — ``keep`` is coalesced to false, never NULL). Output:
      ``key_col[, strata_col], score_col, keep``.
    * ``keep_pct=p`` (integer percent): keep the top ``p``% per
      ``strata_col`` stratum (required; e.g. per dump/domain/lang) by
      score — the integer-arithmetic rank rule and bucketed window
      plan of ``quality_percentile_gate``, so no single-task stratum
      sort at 100 TB. Output adds ``quality_rank``.

    Every row rides through with its score and flag (audit-friendly);
    filter on ``keep`` for the gated corpus."""
    if (threshold is None) == (keep_pct is None):
        raise ValueError("give exactly one of threshold= / keep_pct=")
    id_cols = [key_col] + (
        [strata_col] if strata_col and strata_col != key_col else []
    )
    scored = model_scores(df, id_cols, text_col, scorer, score_col)
    if threshold is not None:
        return scored.withColumn(
            "keep",
            F.coalesce(
                F.col(score_col) >= F.lit(float(threshold)), F.lit(False)
            ),
        )
    if strata_col is None:
        raise ValueError("keep_pct= requires strata_col=")
    from .relational import quality_percentile_gate

    return quality_percentile_gate(
        scored, key_col, strata_col, score_col, int(keep_pct), buckets
    )


def vocabulary_drift(
    df: DataFrame,
    side_col: str,
    text_col: str,
    alpha: float = 0.01,
    min_count: int = 5,
) -> DataFrame:
    """Corpus-vs-corpus vocabulary drift via log-odds with an
    informative Dirichlet prior (Monroe/Colaresi/Quinn "Fightin'
    Words") — the statistically calibrated answer to "which terms
    distinguish corpus A from corpus B", robust where raw frequency
    ratios over-reward rare terms. ``side_col`` must be boolean
    (true = corpus A). Per token with combined count >=
    ``min_count``: occurrence counts, ``log_odds`` (the
    prior-smoothed delta) and ``z`` (delta over its approximate
    standard error ``sqrt(1/(a+α) + 1/(b+α))``) — rank by |z| for
    the drift report. The corpus-diff stage of a curation pipeline:
    source audits, contamination triage, domain-mix QA.

    Plan shape: ONE explode + ONE token-keyed aggregate computes
    both sides' counts (conditional sums on the side tag — tagging
    beats two scans + a join); the corpus totals and vocabulary size
    are one tiny aggregate over the vocab-sized count frame,
    broadcast back. Two shuffles total, the second vocab-sized.
    Stopword-gram skew on the token key is the q145-adjudicated
    class: count aggregation is partial-aggregable so hot tokens
    combine map-side.
    """
    toks = whitespace_tokens(F.col(text_col))
    occ = df.select(
        F.col(side_col).alias("__a"), F.explode(toks).alias("token")
    )
    counts = occ.groupBy("token").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0))
        .cast("long")
        .alias("count_a"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1))
        .cast("long")
        .alias("count_b"),
    )
    totals = counts.agg(
        F.sum("count_a").cast("long").alias("__ta"),
        F.sum("count_b").cast("long").alias("__tb"),
        F.count(F.lit(1)).cast("long").alias("__v"),
    )
    a0 = F.col("__v") * F.lit(alpha)
    sa = F.col("count_a") + F.lit(alpha)
    sb = F.col("count_b") + F.lit(alpha)
    delta = (
        F.log(sa / (F.col("__ta") + a0 - sa))
        - F.log(sb / (F.col("__tb") + a0 - sb))
    )
    z = delta / F.sqrt(F.lit(1.0) / sa + F.lit(1.0) / sb)
    return (
        counts.where(F.col("count_a") + F.col("count_b") >= min_count)
        .crossJoin(F.broadcast(totals))
        .select(
            "token",
            "count_a",
            "count_b",
            F.round(delta, 6).alias("log_odds"),
            F.round(z, 6).alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer: train / encode
# ---------------------------------------------------------------------------

#: integer log-cost scale — Viterbi path sums are exact integer
#: arithmetic (the weighted-shortest-paths integer-cents contract), so
#: argmin decisions can never flip on cross-engine float summation
#: order; only the ONE per-piece ln() quantization carries the q113
#: last-ulp class of risk
_UNI_SCALE = 1_000_000


def _uni_cost(num: float, den: float) -> int:
    """floor(SCALE·ln(num/den) + 0.5) — half-UP rounding spelled out
    (Python's round() is banker's; SQL round() is half-away — floor+0.5
    is the one convention both engines write identically)."""
    import math

    return int(math.floor(_UNI_SCALE * math.log(num / den) + 0.5))


def _unigram_viterbi(
    word: str, costs: dict, max_piece_len: int
) -> list[str]:
    """Min-cost segmentation of ``word`` under integer piece costs —
    the unigram model's MAP tokenization (Viterbi over the
    segmentation lattice). Tie-break is total contract: (cost asc,
    token count asc, '|'-joined token string asc) — ASCII-only
    strings, so Python tuple order equals SQL (BIGINT, BIGINT,
    VARCHAR binary-collation) order and the oracle's row_number
    replays it exactly. Requires every character of ``word`` in
    ``costs`` (the trainer keeps all single chars for coverage);
    raises KeyError-equivalent ValueError otherwise."""
    n = len(word)
    # best[j] = (cost, ntok, toks_str, tokens)
    best: list = [None] * (n + 1)
    best[0] = (0, 0, "", [])
    for j in range(1, n + 1):
        cand = None
        for k in range(1, min(max_piece_len, j) + 1):
            prev = best[j - k]
            if prev is None:
                continue
            piece = word[j - k : j]
            c = costs.get(piece)
            if c is None:
                continue
            key = (prev[0] + c, prev[1] + 1, prev[2] + "|" + piece)
            if cand is None or key < cand[0]:
                cand = (key, prev[3] + [piece])
        if cand is not None:
            best[j] = (*cand[0], cand[1])
    if best[n] is None:
        raise ValueError(
            f"unigram viterbi: {word!r} not coverable — vocabulary is "
            "missing a character (the trainer always keeps all single "
            "chars; frozen vocabularies applied to new text must too)"
        )
    return best[n][3]


def _unigram_em_local(
    words: list, vocab_size: int, rounds: int, max_piece_len: int,
    seed_size: int,
) -> list:
    """The EM loop over a (word, count) table — driver-side, the
    bpe_train ``_bpe_train_local`` precedent: the word-frequency table
    is corpus-size-independent, so after the one distributed count
    pass the iterations are vocabulary work. Hard (Viterbi) EM with
    deterministic pruning:

    seed:  every substring up to ``max_piece_len`` weighted by word
           count, top ``seed_size`` by (freq desc, piece asc), plus
           ALL single chars (coverage); costs -ln(freq/total).
    round: Viterbi-segment every word → usage counts → keep top
           ``vocab_size`` by (count desc, piece asc) plus single
           chars → add-one-smoothed costs
           -ln((count+1)/(total+|V|)).

    Returns [(piece, final_usage_count, final_cost)] sorted by piece.
    """
    from collections import Counter

    freq: Counter = Counter()
    for w, c in words:
        n = len(w)
        for i in range(n):
            for k in range(1, min(max_piece_len, n - i) + 1):
                freq[w[i : i + k]] += c
    chars = {p for p in freq if len(p) == 1}
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab = {p for p, _ in top[:seed_size]} | chars
    total = sum(freq[p] for p in vocab)
    costs = {p: _uni_cost(total, freq[p]) for p in vocab}
    usage: Counter = Counter()
    for _ in range(rounds):
        usage = Counter()
        for w, c in words:
            for t in _unigram_viterbi(w, costs, max_piece_len):
                usage[t] += c
        kept = sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))
        vocab = {p for p, _ in kept[:vocab_size]} | chars
        tot = sum(usage.get(p, 0) for p in vocab)
        v = len(vocab)
        costs = {
            p: _uni_cost(tot + v, usage.get(p, 0) + 1) for p in vocab
        }
    return [
        (p, int(usage.get(p, 0)), int(costs[p])) for p in sorted(vocab)
    ]


def unigram_lm_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int,
    rounds: int = 2,
    max_piece_len: int = 4,
    seed_size: int = 200,
    max_word_len: int = 30,
    driver_vocab_max: int = 65536,
) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
    non-BPE family) — the OTHER mainstream subword vocabulary:
    instead of greedy merges, a piece-probability model is EM-fit and
    pruned to ``vocab_size``. This implementation is the hard-EM
    (Viterbi) variant with fully deterministic arithmetic — integer
    log-costs (:data:`_UNI_SCALE`), total-order tie-breaks, and
    deterministic pruning — so the trained vocabulary hash-matches a
    chained-CTE SQL replay (the q129 BPE device; soft-EM's lattice
    posteriors are float sums whose cross-engine order cannot be
    pinned). Returns ``(piece, cnt, cost)``: final-round usage counts
    and add-one-smoothed integer costs — exactly what
    :func:`unigram_encode` consumes.

    Corpus-scale shape, the bpe_train story: ONE distributed pass
    builds the word-frequency table over the same eligible-word
    domain as the BPE family (lowercased whitespace ``[a-z]+`` words;
    additionally capped at ``max_word_len`` chars — the SentencePiece
    overlong-sentence skip, and what bounds the oracle's DP depth).
    From then on every EM round is vocabulary-table work. Under
    ``driver_vocab_max`` distinct words the loop runs driver-side
    (:func:`_unigram_em_local` — the certified path; a 65k-row word
    table is the q119 centroid-fetch class); above it each round runs
    the SAME Viterbi per word inside an Arrow-batched mapInPandas over
    the word table with broadcast costs, one map-side-combined usage
    aggregate, and a vocab-sized driver fetch for the pruning step —
    identical tables by construction (property-pinned)."""
    words = (
        ensure_parallelism(df.select(text_col))
        .select(
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("w")
        )
        .where(
            F.col("w").rlike("^[a-z]+$")
            & (F.length("w") <= max_word_len)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    spark = df.sparkSession
    if words.count() <= driver_vocab_max:
        rows = [
            (r["w"], int(r["cnt"]))
            for r in words.select("w", "cnt").collect()
        ]
        out = _unigram_em_local(
            rows, vocab_size, rounds, max_piece_len, seed_size
        )
        return spark.createDataFrame(
            out, "piece STRING, cnt BIGINT, cost BIGINT"
        )
    # distributed rounds: the corpus never reappears; per round one
    # Arrow pass over the word table + one piece-keyed aggregate +
    # a vocab-sized fetch
    from collections import Counter

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    pos = F.explode(
        F.sequence(F.lit(1), F.length("w"))
    ).alias("i")
    sub = words.select("w", "cnt", pos).select(
        "w",
        "cnt",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(
                    F.lit(max_piece_len),
                    F.length("w") - F.col("i") + 1,
                ),
            )
        ).alias("k"),
        F.col("i"),
    )
    freq_df = (
        sub.select(
            F.expr("substr(w, i, k)").alias("piece"), "cnt"
        )
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("f"))
        .localCheckpoint()
    )
    chars = {
        r["piece"]
        for r in freq_df.where(F.length("piece") == 1).collect()
    }
    top = freq_df.orderBy(
        F.col("f").desc(), F.col("piece").asc()
    ).limit(seed_size)
    seed = {
        r["piece"]: int(r["f"])
        for r in top.collect()
    }
    for r in freq_df.where(
        F.col("piece").isin(*chars)
    ).collect():
        seed.setdefault(r["piece"], int(r["f"]))
    total = sum(seed.values())
    costs = {p: _uni_cost(total, f) for p, f in seed.items()}
    schema = StructType(
        [
            StructField("piece", StringType()),
            StructField("uses", LongType()),
        ]
    )
    usage_rows: dict = {}
    for _ in range(rounds):
        bcosts = spark.sparkContext.broadcast(costs)

        def seg(batches):
            cd = bcosts.value
            for batch in batches:
                out: Counter = Counter()
                for w, c in zip(batch["w"], batch["cnt"]):
                    for t in _unigram_viterbi(w, cd, max_piece_len):
                        out[t] += int(c)
                import pandas as pd

                yield pd.DataFrame(
                    {
                        "piece": list(out.keys()),
                        "uses": list(out.values()),
                    }
                )

        usage_df = (
            words.mapInPandas(seg, schema=schema)
            .groupBy("piece")
            .agg(F.sum("uses").cast("long").alias("uses"))
        )
        kept = usage_df.orderBy(
            F.col("uses").desc(), F.col("piece").asc()
        ).limit(vocab_size)
        usage_rows = {
            r["piece"]: int(r["uses"]) for r in kept.collect()
        }
        for r in usage_df.where(
            F.col("piece").isin(*chars)
        ).collect():
            usage_rows.setdefault(r["piece"], int(r["uses"]))
        vocab = set(usage_rows) | chars
        tot = sum(usage_rows.get(p, 0) for p in vocab)
        v = len(vocab)
        costs = {
            p: _uni_cost(tot + v, usage_rows.get(p, 0) + 1)
            for p in vocab
        }
    out = [
        (p, int(usage_rows.get(p, 0)), int(costs[p]))
        for p in sorted(costs)
    ]
    return spark.createDataFrame(
        out, "piece STRING, cnt BIGINT, cost BIGINT"
    )


def unigram_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab,
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize with a FROZEN unigram vocabulary — ``vocab`` is a
    ``[(piece, cost)]`` list (or (piece, cnt, cost) rows straight from
    :func:`unigram_lm_train`): per document, Viterbi-segment every
    eligible word (the BPE family's ``[a-z]+`` domain) under the
    integer costs and concatenate the pieces in word order. One
    Arrow-batched ``mapInPandas`` pass (the :func:`model_scores`
    batch-vectorized seam — per-word DP is imperative work no
    expression chain covers); the vocabulary rides along broadcast,
    dictionary-sized. Deterministic: same text + same vocab → same
    tokens, bit for bit (property-pinned), because every tie-break in
    the DP is total."""
    import re

    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    costs = {}
    for row in vocab:
        piece, cost = row[0], row[-1]
        costs[str(piece)] = int(cost)
    if not costs:
        raise ValueError("unigram_encode: empty vocabulary")
    max_len = max(len(p) for p in costs)
    spark = df.sparkSession
    bcosts = spark.sparkContext.broadcast(costs)
    in_field = df.schema[id_col]
    schema = StructType(
        [
            StructField(in_field.name, in_field.dataType, True),
            StructField(out_col, ArrayType(StringType()), True),
        ]
    )
    word_re = re.compile(r"^[a-z]+$")

    def run(batches):
        import pandas as pd

        cd = bcosts.value
        for batch in batches:
            toks = []
            for text in batch[text_col]:
                if text is None:
                    toks.append(None)
                    continue
                out = []
                for w in str(text).lower().split():
                    if word_re.match(w):
                        out.extend(_unigram_viterbi(w, cd, max_len))
                toks.append(out)
            yield pd.DataFrame(
                {in_field.name: batch[id_col], out_col: toks}
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)
