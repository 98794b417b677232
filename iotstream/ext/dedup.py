"""E1/E2 — exact and near-duplicate detection over ``documents``.

Scale design (the 100 TB rule): candidate generation is NEVER all-pairs.
- exact dedup: one hash shuffle on the dedup key (or its md5 to keep
  shuffle rows narrow when texts are large).
- near-dup: shingle → MinHash signature (narrow, per-row) → LSH band
  buckets (shuffle on band hash; bucket sizes are bounded by data skew,
  not corpus size) → exact Jaccard verify on candidates only.
The exact all-pairs Jaccard in ``neardup_jaccard_exact`` exists as the
*verification oracle path* and is capped by caller-supplied predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from iotstream.ext.text import word_ngrams

SHINGLE_WIDTH = 3


def fan_out(df: DataFrame) -> DataFrame:
    """``df`` round-robin repartitioned to the session's parallelism
    when it has fewer splits than that, else ``df`` itself. A
    single-file fixture scan arrives as one partition and would
    serialize the CPU-bound shingle/hash work downstream onto one core;
    a scan that is already wide must not pay a full-corpus shuffle.

    Splits are estimated driver-side with no job: the scan's file count
    (``inputFiles()``), refined when below parallelism by
    Σ ceil(size / spark.sql.files.maxPartitionBytes), so a compacted
    corpus of few large files is not repartitioned (a failed size probe
    falls back to the file count). A frame with no scan files
    (in-memory, post-shuffle, cached) is judged by its actual partition
    count, which compiles a physical plan; pass a file scan where
    possible."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= parallelism:
        return df
    if files and _estimated_splits(df, files) >= parallelism:
        return df
    if not files and df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)


def _estimated_splits(df: DataFrame, files: list[str]) -> int:
    """Σ ceil(file_size / maxPartitionBytes) over the scan's files —
    the same arithmetic FilePartition planning uses (ignoring the
    openCostInBytes packing term, which only makes real splits FEWER;
    overestimating splits here risks one serialized fixture scan,
    never a corpus-wide shuffle). Local ``file:`` URIs stat directly;
    anything else goes through the Hadoop FileSystem driver-side."""
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    # the conf as Spark parsed it (byte-string suffixes and all)
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    splits = 0
    try:
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme in ("", "file"):
                import os

                size = os.path.getsize(unquote(parsed.path))
            else:
                jvm = spark._jvm
                path = jvm.org.apache.hadoop.fs.Path(uri)
                fs = path.getFileSystem(
                    spark._jsc.hadoopConfiguration()
                )
                size = fs.getFileStatus(path).getLen()
            splits += max(1, -(-size // max_bytes))
    except Exception:  # noqa: BLE001 — probe only; fall back to count
        return len(files)
    return splits


def dedup_exact(docs: DataFrame, key: str = "text") -> DataFrame:
    """E1 — exact dedup: canonical representative (min doc_id) + dup
    count per distinct key. Equivalent to dropDuplicates([key]) but with
    a deterministic surviving row, so results are oracle-comparable."""
    return docs.groupBy(key).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def shingle_sets(docs: DataFrame, n: int = SHINGLE_WIDTH) -> DataFrame:
    """(doc_id, gs): each document's DISTINCT word n-gram shingles as
    ``xxhash64`` longs. Documents with fewer than n words have no row.
    One doc-keyed shuffle; map-side partial sets absorb in-doc repeats.

    A 64-bit hash stands in for the shingle (the trade MinHash already
    makes): a collision perturbs one set by one element, negligible
    against any dedup threshold at 10^12 shingles."""
    hashed = word_ngrams(docs, n).select("doc_id", F.xxhash64("ngram").alias("g"))
    return hashed.groupBy("doc_id").agg(F.collect_set("g").alias("gs"))


def drop_overcap_groups(
    df: DataFrame,
    keys: list[str],
    cap: int | None,
    name: str,
    guard_stats: dict | None = None,
) -> DataFrame:
    """The rows of ``df`` whose ``keys`` group has at most ``cap`` rows
    (``cap=None`` returns ``df``). A window count over ``keys``: callers
    pass the keys their next operator partitions on, so the guard adds
    no shuffle and no second evaluation of ``df``.

    ``guard_stats`` (dict) receives ``"observation"``, a
    ``pyspark.sql.Observation`` called ``name`` whose ``dropped_rows``
    (rows in over-cap groups) is available after an action."""
    if cap is None:
        return df
    sized = df.withColumn(
        "_gsz", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    if guard_stats is not None:
        obs = Observation(name)
        guard_stats["observation"] = obs
        sized = sized.observe(
            obs, F.sum((F.col("_gsz") > cap).cast("long")).alias("dropped_rows")
        )
    return sized.filter(F.col("_gsz") <= cap).drop("_gsz")


def minhash_signature(ngrams: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(doc_id, signature) from (doc_id, ngram) rows: for seed s, the
    min over the document's n-grams of xxhash64(ngram, s). Plain min()
    aggregates (codegen'd, no lambdas) reassembled into an array; one
    doc-keyed shuffle, and repeated n-grams do not change a min."""
    mins = [
        F.min(F.xxhash64("ngram", F.lit(s))).alias(f"mh{s}")
        for s in range(num_hashes)
    ]
    per_doc = ngrams.groupBy("doc_id").agg(*mins)
    return per_doc.select(
        "doc_id", F.array(*[f"mh{s}" for s in range(num_hashes)]).alias("signature")
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    bands: int = 8,
    max_bucket: int | None = None,
    guard_stats: dict | None = None,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs whose signatures agree on at
    least one of ``bands`` equal slices. Shuffle key = (band, bucket
    hash), so candidates scale with near-dup density, not corpus size².

    ``max_bucket`` drops (band, bucket) groups larger than the cap
    before pairing (None = exact semantics): identical texts collide in
    every band, and one group's pairing costs bucket². Pairs the dropped
    documents share through other bands still surface. ``guard_stats``
    is ``drop_overcap_groups``'s, observation
    ``lsh_candidate_pairs_guard``."""
    # Exploding the band index and hashing the sliced array keeps the
    # projection inside whole-stage codegen.
    banded = signed.select(
        "doc_id",
        "signature",
        F.explode(F.expr(f"sequence(0, {bands - 1})")).alias("band"),
    ).select(
        "doc_id",
        "band",
        F.xxhash64(
            F.expr(
                f"slice(signature, band * (size(signature) div {bands}) + 1, "
                f"size(signature) div {bands})"
            )
        ).alias("bucket"),
    )
    banded = drop_overcap_groups(
        banded, ["band", "bucket"], max_bucket, "lsh_candidate_pairs_guard",
        guard_stats,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _jaccard(pairs: DataFrame, sets_: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard of candidate (doc_a, doc_b) pairs over
    ``shingle_sets`` rows. The sets are built once per document below
    the pair joins: on a dup-dense corpus pairs outnumber documents, so
    building them per pair would cost more than the corpus pass."""
    side = lambda k: sets_.select(  # noqa: E731
        F.col("doc_id").alias(f"doc_{k}"), F.col("gs").alias(f"gs_{k}")
    )
    return (
        pairs.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
                / F.size(F.array_union("gs_a", "gs_b"))
            ).alias("jaccard"),
        )
    )


def neardup_minhash(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int | None = 4096,
    guard_stats: dict | None = None,
) -> DataFrame:
    """E2 scale path: (doc_a, doc_b, jaccard) pairs with exact shingle
    Jaccard ≥ ``threshold`` among MinHash+LSH candidates. With 32
    hashes / 8 bands a pair at J=0.5 is a candidate with probability
    ≈40%, at J=0.9 ≈99.6%; tune ``bands``/``num_hashes`` per corpus.

    ``max_bucket`` and ``guard_stats`` pass to ``lsh_candidate_pairs``.
    The cap is on by default: a mass-duplicated document collides in
    every band under any banding, and a group above 4096 is an exact-dup
    cluster (owned by ``dedup_exact``, which runs first) or hash noise.
    Pass ``None`` for uncapped exact-recall semantics."""
    fanned = fan_out(docs)
    cands = lsh_candidate_pairs(
        minhash_signature(word_ngrams(fanned, SHINGLE_WIDTH), num_hashes),
        bands,
        max_bucket=max_bucket,
        guard_stats=guard_stats,
    )
    j = _jaccard(cands, shingle_sets(fanned))
    return j.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def neardup_jaccard_exact(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """E2 verify/oracle path: every (doc_a, doc_b, jaccard) pair with
    exact shingle Jaccard ≥ ``threshold``, via an inverted-index join
    (explode the shingle sets, join on shingle, count intersections).
    Quadratic in per-shingle document frequency — a correctness tool,
    not the 100 TB path (that is ``neardup_minhash``)."""
    tok = shingle_sets(fan_out(docs)).select(
        "doc_id", F.size("gs").alias("n"), F.explode("gs").alias("g")
    )
    # Hash builds beat sort-merge's double sort on the df-bounded
    # per-shingle groups of this capped kernel.
    a, b = tok.alias("a"), tok.hint("shuffle_hash").alias("b")
    # Lossless size-ratio prune: J(a,b) <= min(na,nb)/max(na,nb).
    ratio_ok = (
        (F.col("a.n") >= F.lit(threshold) * F.col("b.n"))
        & (F.col("b.n") >= F.lit(threshold) * F.col("a.n"))
    )
    # n is functionally dependent on doc_id, so min() carries each set
    # size through the pair aggregation without a join-back.
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ratio_ok,
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): Charikar SimHash over each document's distinct
    shingle set — bit b is set when more shingle hashes have bit b set
    than clear. Near-dups differ in few bits; byte-identical texts get
    identical signatures. Engine-internal (hash functions are not
    cross-engine comparable). Documents with fewer than
    ``SHINGLE_WIDTH`` words have no row."""
    # 64 plain sign-vote aggregates stay inside whole-stage codegen; the
    # vote groupBy reuses the set aggregation's doc_id partitioning.
    ex = shingle_sets(fan_out(docs)).select("doc_id", F.explode("gs").alias("h"))
    votes = [
        F.sum(F.expr(f"IF(((h >> {b}) & 1) = 1, 1, -1)")).alias(f"v{b}")
        for b in range(64)
    ]
    per_doc = ex.groupBy("doc_id").agg(*votes)
    # sign bit (63) added last keeps every partial sum in bigint range.
    combine = " + ".join(f"IF(v{b} > 0, shiftleft(1L, {b}), 0L)" for b in range(64))
    return per_doc.select("doc_id", F.expr(combine).alias("simhash"))


def dedup_report(
    docs: DataFrame,
    emb: DataFrame,
    jaccard_threshold: float = 0.5,
    cosine_threshold: float = 0.4,
    blocked: bool = False,
) -> DataFrame:
    """Composed per-document dedup decision sheet: exact-dup canonical
    assignment + near-dup flags from BOTH text (shingle Jaccard) and
    embedding (cosine) channels — what a curation pipeline actually
    consumes (one verdict per doc, not three pair lists).

    ``blocked=False`` composes the exact kernels (the oracle path);
    ``blocked=True`` swaps both pair generators for their blocked
    100 TB twins — MinHash+LSH-candidates→exact-verify for text and
    hyperplane-LSH-buckets→BLAS-verify for embeddings — with the
    report shape unchanged. Both twins verify candidates with the
    same exact predicate, so blocked flags are always a SUBSET of the
    exact ones (no false positives), equal whenever banding recall is
    1 — `tests/test_ext_dedup.py` asserts text-channel equality and
    ≥0.9 embedding-channel recall on the fixture corpus.
    """
    from iotstream.ext.similarity import neardup_embedding, neardup_embedding_lsh

    # canonical via min-over-key window: one scan + one shuffle, no
    # groupBy-then-join-back second scan of the corpus. The window key
    # is sha2(text, 256), not text itself — the shuffle then carries a
    # 64-char hex digest per row instead of the full document body
    # (256-bit collisions are negligible at any corpus size; the same
    # narrow-shuffle trade the module header describes for dedup keys).
    # NULL-text docs get a per-doc key: unknown content is not EQUAL to
    # other unknown content (the SQL NULL philosophy), so each is its
    # own singleton — canonical_id = itself, is_exact_dup = false —
    # instead of the window's group-the-NULLs default declaring every
    # failed-extraction row a duplicate of the others.
    key = F.coalesce(
        F.sha2("text", 256),
        F.concat(F.lit("\x00null\x00"), F.col("doc_id").cast("string")),
    )
    canonical = F.min("doc_id").over(Window.partitionBy(key))
    base = docs.select(
        "doc_id",
        canonical.alias("canonical_id"),
        (F.col("doc_id") != canonical).alias("is_exact_dup"),
    )
    if blocked:
        jp = neardup_minhash(docs, threshold=jaccard_threshold)
    else:
        jp = neardup_jaccard_exact(docs, threshold=jaccard_threshold)
    # flatten pair endpoints via explode, not union-of-two-projections:
    # a union evaluates the (expensive) pair-generator lineage once per
    # branch unless exchange reuse happens to dedupe it — explode
    # guarantees ONE evaluation by plan construction.
    near = (
        jp.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("has_near_dup", F.lit(True))
    )
    if blocked:
        ep = neardup_embedding_lsh(emb, threshold=cosine_threshold)
    else:
        ep = neardup_embedding(emb, threshold=cosine_threshold)
    embd = (
        ep.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .distinct()
        .withColumn("has_embed_dup", F.lit(True))
    )
    return (
        base.join(near, "doc_id", "left")
        .join(embd, "doc_id", "left")
        .select(
            "doc_id",
            "canonical_id",
            "is_exact_dup",
            F.coalesce("has_near_dup", F.lit(False)).alias("has_near_dup"),
            F.coalesce("has_embed_dup", F.lit(False)).alias("has_embed_dup"),
        )
    )


def neardup_editdist(
    docs: DataFrame,
    max_dist: int = 10,
    prefix_len: int = 64,
    bucket_chars: int = 32,
    max_block: int | None = 1024,
    guard_stats: dict | None = None,
) -> DataFrame:
    """E2 variant: (doc_a, doc_b, dist) pairs whose first ``prefix_len``
    characters are within Levenshtein distance ``max_dist`` — catches
    character-level mutations (typos, OCR noise) that token-set Jaccard
    is blind to.

    Candidates must share (source, n_chars // bucket_chars) and differ
    in length by at most ``max_dist`` (a lower bound on edit distance),
    so the self-join is an equi-join on the block key. Block density
    grows with the corpus, so standalone use is quadratic within blocks
    at web scale; there this is the verify predicate over candidates
    from a sublinear generator (SimHash buckets, MinHash bands).

    ``max_block`` drops (source, bucket) blocks larger than the cap
    (None = exact semantics): identical-length boilerplate makes one
    block² pairs under any parameters. With no second band to re-surface
    dropped pairs the cap is a recall trade, observable through
    ``guard_stats`` (``drop_overcap_groups``'s, observation
    ``neardup_editdist_guard``)."""
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    pick = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("n_chars") / bucket_chars).cast("long").alias("bucket"),
        F.substring("text", 1, prefix_len).alias("prefix"),
    )
    pick = drop_overcap_groups(
        pick, ["source", "bucket"], max_block, "neardup_editdist_guard",
        guard_stats,
    )
    # Catalyst pushes the distance filter into the join condition, so the
    # levenshtein runs in the join's probe stage; a numbered round-robin
    # repartition of the probe side (which AQE keeps) spreads hot blocks.
    # levenshtein(a, b, max_dist) bounds the DP band and returns -1 past it.
    a, b = pick.repartition(n).alias("a"), pick.alias("b")
    dist = F.levenshtein(
        F.col("a.prefix"), F.col("b.prefix"), max_dist
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars"))
                <= F.lit(max_dist)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )
