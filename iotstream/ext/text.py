"""E5 — text analysis over the ``documents`` table.

Tokenization, word counts, token statistics, quality scoring, heuristic
language ID, and content fingerprinting — the per-document scoring
passes of a training-data pipeline. Everything is whole-stage-codegen
Column expressions: at 100 TB these run as a single narrow projection
pass over the corpus (word_counts adds one shuffle for the global
groupBy, with map-side partial aggregation).
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny function-word list used by the quality score (subset present in
#: the fixture vocabulary; real deployments swap in a full list).
STOPWORDS = ("the", "a", "of", "and", "to")


def tokens(col: str = "text") -> Column:
    """Whitespace tokenizer (the fixture corpus is space-separated)."""
    return F.split(F.col(col), " ")


def word_counts(docs: DataFrame, col: str = "text") -> DataFrame:
    """Global word frequency: explode → groupBy → count. One shuffle,
    partial-aggregated map-side; vocabulary-sized output."""
    return (
        docs.select(F.explode(tokens(col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counting: whitespace tokens plus a BPE-ish lower-
    alpha run count (`[a-z]+` matches ≈ subword units on this corpus)."""
    # bigint casts: Spark size()/regexp_count() return int, the oracle's
    # len() returns int64 — align the schema explicitly.
    return docs.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+")).cast("long").alias(
            "n_alpha_runs"
        ),
        F.col("n_chars"),
        F.round(F.col("n_chars").cast("double") / F.size(tokens()), 6).alias(
            "avg_token_len"
        ),
    )


def _stop_stats() -> tuple[Column, Column, Column]:
    """(n_tokens, stop_hits, stop_ratio) Columns over ``text``."""
    n = F.size(tokens())
    stop_hits = F.size(F.filter(tokens(), lambda t: t.isin(*STOPWORDS)))
    return n, stop_hits, stop_hits.cast("double") / n


def quality_expr() -> Column:
    """The quality score as a reusable Column over ``text``: length
    saturation × (1 − stopword ratio), rounded to 6 (deterministic
    rational arithmetic)."""
    n, _, stop_ratio = _stop_stats()
    length_sat = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    return F.round(length_sat * (F.lit(1.0) - stop_ratio), 6)


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality: length saturation × (1 − stopword
    ratio). Mirrors the length/stopword-ratio family of filters used in
    LLM corpus curation; fully deterministic rational arithmetic."""
    n, stop_hits, stop_ratio = _stop_stats()
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        stop_hits.cast("long").alias("stop_hits"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality_expr().alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: non-ASCII share → 'other'; English
    function words → 'en'; else 'unknown'. (A char-n-gram profile model
    is pointless on this synthetic corpus — every doc shares one
    English-ish vocabulary; the declared semantics is the heuristic
    itself, compared 1:1 against the oracle's identical CASE.)"""
    toks = tokens()
    return docs.select(
        "doc_id",
        F.col("lang"),
        F.when(
            F.array_contains(toks, "the") | F.array_contains(toks, "a"), F.lit("en")
        )
        .otherwise(F.lit("unknown"))
        .alias("predicted_lang"),
    )


def vocab_build(
    docs: DataFrame, col: str = "text", min_count: int = 5
) -> DataFrame:
    """Frequency-ranked vocabulary with a min-count floor (the
    tokenizer-training precursor): ``token_id`` is the 1-based rank
    over (cnt desc, word asc), a total order since word is unique
    after the count groupBy, so ids are deterministic. Ranked by
    ``ext/ranks.py::with_global_ranks``: no single-partition window,
    and the count table is materialized once (one corpus pass)."""
    from iotstream.ext.ranks import with_global_ranks

    wc = word_counts(docs, col).filter(F.col("cnt") >= min_count)
    ranked = with_global_ranks(wc, _rn=[F.desc("cnt"), F.asc("word")])
    return ranked.select("word", "cnt", F.col("_rn").alias("token_id"))


def tokenize_encode(
    docs: DataFrame, col: str = "text", min_count: int = 5
) -> DataFrame:
    """Corpus → ordered token-id arrays (the actual tokenization step
    of a training-data pipeline): build the vocab, encode every
    document against it, OOV → id 0. The vocab is dictionary-sized so
    the token→id lookup is a BROADCAST join (no corpus shuffle for the
    lookup); the only corpus-sized shuffle is the per-doc reassembly,
    whose rows are (doc_id, pos, id) triples — the minimum state any
    order-preserving encoder must move. collect_list is
    order-nondeterministic, so ids are re-sorted by position
    (array_sort over (pos, id) structs) before projection."""
    vocab = vocab_build(docs, col, min_count).select("word", "token_id")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(col)).alias("pos", "word")
    )
    enc = tok.join(F.broadcast(vocab), "word", "left").select(
        "doc_id", "pos", F.coalesce("token_id", F.lit(0)).alias("tid")
    )
    return enc.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"],
        ).alias("token_ids"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((F.col("tid") == 0).cast("long")).alias("n_oov"),
    )


def scrub_repetition(docs: DataFrame, col: str = "text") -> DataFrame:
    """Intra-document stutter removal: collapse runs of consecutive
    identical tokens to one ("the the the" → "the") — a standard
    crawl-corpus cleaning pass. Pure narrow map: zip the token array
    with its shifted self (null sentinel first), keep elements that
    differ from their predecessor — all JVM-side HOFs, zero shuffles,
    scales embarrassingly."""
    w = tokens(col)
    prev = F.concat(
        F.array(F.lit(None).cast("string")), F.slice(w, 1, F.size(w) - 1)
    )
    marked = F.zip_with(
        w, prev, lambda x, p: F.when(p.isNull() | (x != p), x)
    )
    kept = F.filter(marked, lambda x: x.isNotNull())
    # NULL text passes through as NULL (a scrubber is a map — every
    # input doc comes out, and unknown content stays unknown rather
    # than collapsing to ''): concat_ws would silently turn NULL into
    # '' and size(NULL) = -1 would fake n_removed = 0
    return docs.select(
        "doc_id",
        F.when(F.col(col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(" ", kept))
        .alias("text"),
        F.when(F.col(col).isNull(), F.lit(None).cast("int"))
        .otherwise(F.size(w) - F.size(kept))
        .alias("n_removed"),
    )


def word_ngrams(
    docs: DataFrame, n: int, col: str = "text", keep: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """One row per word n-gram occurrence: the ``keep`` columns plus
    ``ngram``, the n consecutive whitespace tokens of ``col`` joined by
    single spaces. Documents with fewer than n tokens, and NULL
    documents, yield no rows. Narrow: an exploded index sequence
    addresses the pre-split token array with ``element_at``, so each
    n-gram string is built once per output row inside codegen."""
    # The size >= n filter is load-bearing: sequence(1, size - n + 1)
    # counts DOWN when its end is below 1 (and size(NULL) is -1), which
    # would index past the array.
    base = docs.select(*keep, tokens(col).alias("w")).filter(F.size("w") >= n)
    i = F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("i")
    gram = F.concat_ws(
        " ", *[F.element_at("w", F.col("i") + j) for j in range(n)]
    )
    return base.select(*keep, "w", i).select(*keep, gram.alias("ngram"))


def ngram_counts(
    docs: DataFrame, n: int = 2, col: str = "text", min_count: int = 5
) -> DataFrame:
    """Global word-n-gram frequencies with at least ``min_count``
    occurrences. One shuffle, map-side partial aggregation."""
    return (
        word_ngrams(docs, n, col, keep=())
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def length_percentiles(docs: DataFrame) -> DataFrame:
    """Per-language length distribution (p50/p90/p99, mean, count) —
    the corpus-profiling pass that picks chunking and filter
    thresholds. `percentile` is exact with linear interpolation
    (matches DuckDB `quantile_cont`); for 100 TB profiling swap in
    `percentile_approx`, which is a t-digest mergeable sketch."""
    pct = lambda p: F.round(F.percentile("n_chars", F.lit(p)), 6)  # noqa: E731
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        pct(0.5).alias("p50_chars"),
        pct(0.9).alias("p90_chars"),
        pct(0.99).alias("p99_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def scrub_numbers(df: DataFrame, col: str = "props") -> DataFrame:
    """PII-style masking: replace every digit run with a placeholder
    token (the shape of phone/SSN/account-number scrubbing; the regex
    is the deployment-specific part, the pipeline shape is this).
    Narrow codegen map — no shuffle, pushes nothing, scales linearly."""
    return df.select(
        "event_id",
        F.regexp_replace(F.col(col), "[0-9]+", "<NUM>").alias("scrubbed"),
    )


def remove_high_df_tokens(
    docs: DataFrame, min_doc_frac: float = 0.5
) -> DataFrame:
    """Document-frequency filter (boilerplate/stopword removal): drop
    every token that appears in >= ``min_doc_frac`` of documents, and
    reconstruct each document's text in original token order.

    Shape: one DF-counting shuffle (map-side partial agg over distinct
    (token, doc) pairs), then a broadcast anti-join against the
    high-DF set (dictionary-sized), then one re-aggregation keyed by
    doc — order restored via position-sorted collect. The C4-style
    cleaning pass, fully engine-portable (no UDF).
    """
    # The corpus count is a 1-row aggregate broadcast into the DF
    # threshold IN-PLAN (r17): the old driver-side
    # ``docs.select(count).first()`` was a separate blocking action —
    # one extra full corpus pass per invocation at any scale — for a
    # scalar the plan can carry itself (the dormant_customers pattern).
    # ceil() parity with the oracle's ``ceil(count(*) * frac)`` holds:
    # both engines evaluate the same double product.
    nd = docs.agg(F.count(F.lit(1)).alias("_nd"))
    toks = docs.select("doc_id", tokens().alias("w"))
    pos = toks.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1), F.size("w"))).alias("i"),
    ).select("doc_id", "i", F.element_at("w", F.col("i")).alias("tok"))
    df_counts = (
        pos.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") >= F.ceil(F.col("_nd") * F.lit(min_doc_frac)))
        .select("tok")
    )
    kept = pos.join(F.broadcast(df_counts), "tok", "left_anti")
    reagg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(i, tok))), s -> s.tok)"),
        ).alias("clean_text")
    )
    return (
        docs.select("doc_id")
        .join(reagg, "doc_id", "left")
        .select("doc_id", F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


def decontaminate(docs: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Eval-set decontamination: drop documents whose content
    fingerprint appears in a (small) benchmark blocklist — broadcast
    LEFT ANTI join on md5, so the corpus never shuffles. The blocklist
    side is the eval corpus: thousands of rows against billions."""
    block = blocklist.select(F.col("fingerprint").alias("_blocked_fp")).distinct()
    return (
        docs.withColumn("fingerprint", F.md5(F.col("text")))
        .join(
            F.broadcast(block),
            F.col("fingerprint") == F.col("_blocked_fp"),
            "left_anti",
        )
        .select("doc_id", "lang", "source", "n_chars", "fingerprint")
    )


def decontaminate_ngram(
    docs: DataFrame, eval_docs: DataFrame, n: int = 3
) -> DataFrame:
    """N-gram-overlap decontamination: drop any document sharing ONE
    word n-gram with the eval/benchmark set — the standard LLM-pretrain
    guard against partial benchmark leakage (md5 `decontaminate` only
    catches verbatim copies).

    Scale shape: the eval set is small (thousands of docs), so its
    distinct n-gram set broadcasts and the corpus-side semi-join never
    shuffles the corpus; the contaminated-id set that falls out is
    bounded by the corpus hit-rate (typically tiny) and the final
    anti-join is left to AQE — broadcast when small, a c_custkey-style
    key shuffle otherwise."""
    block = F.broadcast(word_ngrams(eval_docs, n, keep=()).distinct())
    bad = (
        word_ngrams(docs, n)
        .join(block, "ngram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return docs.join(bad, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprints: md5 of the exact text (cross-engine
    checkable) plus a 64-bit xxhash64 for engine-internal dedup keys."""
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fingerprint"),
        F.xxhash64(F.col("text")).alias("fingerprint64"),
    )


def gopher_quality(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_dup_token_frac: float = 0.6,
    max_symbol_ratio: float = 0.1,
) -> DataFrame:
    """Gopher-style rule gate (Rae et al. 2021 §A1.1): per-document
    quality signals and a composite keep verdict — the rules-based
    pre-filter of an LLM pretrain pipeline. One narrow codegen pass,
    no shuffle at all; every signal is arithmetic over the pre-split
    token array (mean word length uses the single-space layout of the
    corpus: chars = Σ|w| + (n−1) separators)."""
    w = tokens()
    n_words = F.size(w)
    mean_wl = (
        (F.col("n_chars") - (n_words - F.lit(1))).cast("double") / n_words
    )
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n_words
    # try_divide: a zero-length doc has an UNDEFINED symbol ratio, not a
    # crash — ANSI mode makes /0 an ArithmeticException that would kill
    # the whole stage on one empty row, while SQL engines (and the
    # DuckDB oracle) yield NULL
    sym = F.try_divide(
        F.regexp_count(F.col("text"), F.lit("[^a-z0-9 ]")).cast("double"),
        F.col("n_chars"),
    )
    sig = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(dup_frac, 6).alias("dup_token_frac"),
        F.round(sym, 6).alias("symbol_ratio"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("dup_token_frac") <= max_dup_token_frac)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
    )
    return sig.withColumn("keep", keep)

def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic corpus-salience
    scorer (keyword extraction / boilerplate spotting at pipeline
    scale). Score is the exact-rational variant tf · N / df (monotone
    in tf·idf for ranking; no log, so the only float op is the final
    division — engine-portable to the oracle bit-for-bit).

    Scale: tf is one (doc,word) shuffle with map-side combine; df
    re-aggregates the vocabulary-sized tf output; N is a 1-row
    broadcast; the vocabulary-sized df table broadcast-joins back onto
    tf (the corpus-sized side never reshuffles); the final top-k is a
    row_number over (doc_id) — one shuffle, partition = one document's
    vocabulary. Ties broken lexicographically.
    """
    from pyspark.sql.window import Window

    tok = docs.select("doc_id", F.explode(tokens()).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def lm_bigram_xent(docs: DataFrame, col: str = "text") -> DataFrame:
    """CCNet-style language-model quality scoring: per-document
    cross-entropy under an add-one-smoothed bigram model trained on the
    corpus itself — the LM-filtering pass (Wenzek et al., CCNet) that
    ranks documents by how "language-like" they are; high xent marks
    boilerplate/noise for the curation gate.

    p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), xent = mean −ln p over
    the document's bigram instances (documents with <2 tokens are
    excluded, like every n-gram op here).

    Scale: the corpus-sized bigram stream joins its own count table
    keyed on the bigram — both sides shuffle on the same key, no
    broadcast of anything corpus-sized; the context-count table and the
    1-row vocabulary size are vocabulary-sized → broadcast. The only
    float ops are the final ln and mean (rounded to 6); all counts stay
    exact integers.
    """
    big = word_ngrams(docs, 2, col).select(
        "doc_id", "ngram", F.substring_index("ngram", " ", 1).alias("ctx")
    )
    c2 = big.groupBy("ngram").agg(F.count(F.lit(1)).alias("c2"))
    # c(w1 ·) = Σ_w2 c(w1 w2): the context count re-aggregates the
    # vocabulary-sized bigram table, not the corpus-sized bigram stream.
    c1 = (
        c2.select(F.substring_index("ngram", " ", 1).alias("ctx"), "c2")
        .groupBy("ctx")
        .agg(F.sum("c2").alias("c1"))
    )
    vocab = docs.select(F.explode(tokens(col)).alias("w")).agg(
        F.count_distinct("w").alias("v")
    )
    nll = -F.log(
        (F.col("c2") + 1).cast("double")
        / (F.col("c1") + F.col("v")).cast("double")
    )
    return (
        big.join(c2, "ngram")
        .join(F.broadcast(c1), "ctx")
        .join(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("xent"),
        )
    )
