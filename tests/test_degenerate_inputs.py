"""Degenerate-document kernels: NULL text, empty text, <n-word docs.

Found by tools/degenerate_sweep.py (r9): Spark's sequence(a, b) counts
DOWN when b < a, so shingle/chunk generators built on
sequence(1, size-k) crashed (out-of-bounds element_at) or emitted
phantom negative ids on docs shorter than the window; ANSI mode turns
/0 into a stage-killing ArithmeticException on empty docs; NULL
payloads crashed the multimodal UDFs. Each fix is locked here at the
kernel level — the full Spark≡DuckDB parity on a NULL-bearing corpus
runs inside the hostile fixture's gate, `python tools/degenerate_sweep.py`.
"""

from __future__ import annotations


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_word_ngrams_short_and_null_docs(spark):
    from iotstream.ext.text import word_ngrams

    docs = _docs(
        spark,
        [
            (1, "a b c d", "en", "s", 7),
            (2, "a b", "en", "s", 3),       # fewer words than n=3
            (3, "", "en", "s", 0),
            (4, None, None, "s", None),
            (5, "a", "en", "s", 1),         # fewer words than n=2
        ],
    )

    def grams(n):
        got: dict = {}
        for r in word_ngrams(docs, n).collect():
            got.setdefault(r.doc_id, []).append(r.ngram)
        return {k: sorted(v) for k, v in got.items()}

    assert grams(2) == {1: ["a b", "b c", "c d"], 2: ["a b"]}
    assert grams(3) == {1: ["a b c", "b c d"]}


def test_doc_chunks_empty_and_null(spark):
    from iotstream.ext.curation import doc_chunks

    docs = _docs(
        spark,
        [(1, "x" * 200, "en", "s", 200), (2, "", "en", "s", 0), (3, None, "en", "s", None)],
    )
    rows = doc_chunks(docs, chunk_size=120, stride=90).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert [r.chunk_id for r in sorted(by_doc[1], key=lambda r: r.chunk_id)] == [0, 1, 2]
    # zero-char doc: exactly ONE empty chunk (stays present downstream)
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_id == 0
    assert by_doc[2][0].chunk_len == 0
    # NULL-length doc: dropped (nothing to chunk), never chunk_id -1
    assert 3 not in by_doc
    assert all(r.chunk_id >= 0 for r in rows)


def test_gopher_quality_empty_doc_does_not_crash(spark):
    from iotstream.ext.text import gopher_quality

    docs = _docs(
        spark,
        [(1, "some normal words here", "en", "s", 22), (2, "", "en", "s", 0)],
    )
    got = {r.doc_id: r for r in gopher_quality(docs).collect()}
    # empty doc: symbol ratio undefined (NULL, like SQL x/0), keep false
    assert got[2].symbol_ratio is None
    assert got[2].keep is False


def test_scrub_repetition_null_passthrough(spark):
    from iotstream.ext.text import scrub_repetition

    docs = _docs(
        spark,
        [(1, "the the cat", "en", "s", 11), (2, None, "en", "s", None), (3, "", "en", "s", 0)],
    )
    got = {r.doc_id: r for r in scrub_repetition(docs).collect()}
    assert got[1].text == "the cat" and got[1].n_removed == 1
    # a scrubber is a map: NULL in, NULL out — not '' and a fake 0
    assert got[2].text is None and got[2].n_removed is None
    assert got[3].text == "" and got[3].n_removed == 0


def test_multimodal_null_payload(spark):
    from iotstream.ext.multimodal import (
        attach_media,
        decode_media,
        extract_features,
    )

    docs = _docs(
        spark, [(1, "abcd", "en", "s", 4), (2, None, "en", "s", None), (3, "", "en", "s", 0)]
    )
    media = attach_media(docs)
    dec = {r.doc_id: r for r in decode_media(media, fake=True).collect()}
    assert dec[1].width == (4 % 640) + 1
    # failed fetch decodes to NULL metadata, not a crash
    assert dec[2].width is None and dec[2].n_frames is None
    # zero-byte payload is measured, not NULL
    assert dec[3].width == 1
    feats = {r.doc_id: r.features for r in extract_features(media).collect()}
    assert feats[2] is None
    assert feats[3] == [0.0] * 16
    assert abs(sum(feats[1]) - 1.0) < 1e-6


def test_null_vectors_excluded_everywhere(spark):
    """A NULL embedding (failed embedding job) participates in NOTHING:
    no pair, no top-k, no profile row — and never np.stack-crashes or
    silently mis-reshapes the LSH broadcast matrix (which flattens the
    corpus and reshapes by count × dim)."""
    from iotstream.ext.similarity import (
        neardup_embedding,
        neardup_embedding_lsh,
        similarity_topk,
        similarity_topk_ivf,
    )

    rows = [(i, [float(i % 7), 1.0, float(i % 3), 0.5], 1) for i in range(30)]
    rows += [(100, None, 1), (101, None, None)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    clean = emb.filter("embedding IS NOT NULL")
    for fn in (
        lambda e: similarity_topk(e, n_queries=5, k=3),
        lambda e: neardup_embedding(e, threshold=0.9),
        lambda e: neardup_embedding_lsh(e, threshold=0.9, nbits=4, tables=8),
        lambda e: similarity_topk_ivf(e, n_queries=5, k=3, nlist=4, nprobe="all"),
    ):
        with_nulls = sorted(tuple(r) for r in fn(emb).collect())
        without = sorted(tuple(r) for r in fn(clean).collect())
        assert with_nulls == without
        assert not any(100 in t or 101 in t for t in with_nulls)


def test_invalid_vectors_excluded_everywhere(spark):
    """r11 hostile-values sweep: a vector with a NaN / ±Inf / NULL
    component, or the all-zero vector, has no usable direction — NaN
    similarities rank nondeterministically (numpy sorts NaN last,
    Spark ORDER BY DESC sorts NaN first) and ‖0‖ divides by zero. Every
    kernel must produce EXACTLY the clean-corpus result."""
    from iotstream.ext.similarity import (
        neardup_embedding,
        similarity_topk,
        similarity_topk_ivf,
    )

    rows = [(i, [float(i % 7), 1.0, float(i % 3), 0.5], 1) for i in range(30)]
    bad = [
        (200, [float("nan"), 1.0, 1.0, 1.0], 1),
        (201, [float("inf"), 1.0, 1.0, 1.0], 1),
        (202, [-float("inf"), 1.0, 1.0, 1.0], 1),
        (203, [0.0, 0.0, 0.0, 0.0], 1),
        (204, [1.0, None, 1.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(
        rows + bad, "vec_id bigint, embedding array<double>, label int"
    )
    clean = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    for fn in (
        lambda e: similarity_topk(e, n_queries=5, k=3),
        lambda e: neardup_embedding(e, threshold=0.9),
        lambda e: similarity_topk_ivf(e, n_queries=5, k=3, nlist=4, nprobe="all"),
    ):
        hostile = sorted(tuple(r) for r in fn(emb).collect())
        baseline = sorted(tuple(r) for r in fn(clean).collect())
        assert hostile == baseline
        assert not any(any(v in (200, 201, 202, 203, 204) for v in t if isinstance(v, int)) for t in hostile)


def test_finite_measures_keeps_nulls_drops_nonfinite(spark):
    """The finite-measures contract (schemas.finite_measures): NaN/±Inf
    measures leave the exact-decimal path explicitly (Spark's
    CAST(double AS DECIMAL) would silently map them to NULL — invisible
    revenue loss; DuckDB raises), while NULL measures stay — SUM skips
    them identically on both engines."""
    from iotstream.schemas import finite_measures

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, float("nan")),
         (4, float("inf")), (5, -float("inf"))],
        "k int, value double",
    )
    kept = sorted(r.k for r in finite_measures(df, "value").collect())
    assert kept == [1, 2]


def test_bucket_floors_pre_epoch(spark):
    """r11 hostile-values sweep: Spark's % takes the dividend's sign,
    so `e - e % n` bucketing rounded a 1969-12-31 23:59:59 observation
    UP into the 1970-01-01 00:00 bucket while DuckDB's time_bucket
    floors to 23:00. The pmod fix must floor on both sides of the
    epoch."""
    import datetime as dt

    from iotstream.ext.temporal import gapfill_locf

    sensor = spark.createDataFrame(
        [("s1", "m1", dt.datetime(1969, 12, 31, 23, 59, 59), (10.0, 1.0)),
         ("s1", "m2", dt.datetime(1970, 1, 1, 0, 30, 0), (20.0, 1.0))],
        "id string, messageId string, ts timestamp, "
        "metrics struct<temperature double, humidity double>",
    )
    out = {r.bucket: r.temperature
           for r in gapfill_locf(sensor, bucket_width="60 minutes").collect()}
    assert dt.datetime(1969, 12, 31, 23, 0, 0) in out
    assert out[dt.datetime(1969, 12, 31, 23, 0, 0)] == 10.0
    assert out[dt.datetime(1970, 1, 1, 0, 0, 0)] == 20.0


def test_nonnegative_event_time_keeps_nulls(spark):
    """The streaming event-time domain (schemas.nonnegative_event_time)
    drops pre-epoch rows (Spark watermarks initialize at epoch 0 — a
    pre-epoch event is late to the FIRST micro-batch) but passes NULL
    event times through untouched (they never participate in
    lateness; the NULL-parity contract owns them downstream)."""
    import datetime as dt

    from iotstream.schemas import nonnegative_event_time

    df = spark.createDataFrame(
        [(1, dt.datetime(1969, 12, 31, 23, 59, 59)),
         (2, dt.datetime(1970, 1, 1)), (3, None)],
        "k int, ts timestamp",
    )
    kept = sorted(r.k for r in nonnegative_event_time(df).collect())
    assert kept == [2, 3]


def test_finite_lineitem_drops_row_on_any_nonfinite_measure(spark, tmp_path):
    """The TABLE-LEVEL finite-measures contract (r12): a lineitem row
    with NaN/±Inf in ANY of the four float measures is excluded — even
    one a query never casts — while NULL measures flow through (SUM
    skips them identically on both engines)."""
    import math

    from iotstream.schemas import finite_lineitem

    rows = [
        (1, 1.0, 1.0, 0.1, 0.05),              # clean → kept
        (2, float("nan"), 1.0, 0.1, 0.05),      # NaN quantity → dropped
        (3, 1.0, float("inf"), 0.1, 0.05),      # +Inf price → dropped
        (4, 1.0, 1.0, -float("inf"), 0.05),     # -Inf discount → dropped
        (5, 1.0, 1.0, 0.1, float("nan")),       # NaN tax → dropped
        (6, None, 1.0, 0.1, 0.05),              # NULL measure → kept
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double",
    )
    out = str(tmp_path / "li")
    df.write.parquet(out + "/lineitem.parquet")
    kept = sorted(
        r.l_orderkey for r in finite_lineitem(spark, out).collect()
    )
    assert kept == [1, 6]
    assert not any(
        v is not None and not math.isfinite(v)
        for r in finite_lineitem(spark, out).collect()
        for v in (r.l_quantity, r.l_extendedprice, r.l_discount, r.l_tax)
    )


def test_nonnegative_event_time_boundary_is_tz_independent(spark):
    """The domain boundary is epoch SECOND 0 — the instant Spark's
    watermark initializes at — not local midnight 1970-01-01 in
    whatever the session timezone happens to be (r11 ADVICE item: a
    string literal cast to timestamp shifts the cutoff by the session
    offset for any caller that has not pinned UTC)."""
    from iotstream.schemas import nonnegative_event_time

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # SQL timestamp literals are read in the SESSION timezone
        # (createDataFrame would use the OS tz instead). In NY (UTC-5):
        # 20:00 Dec 31 is epoch +3600 — must be KEPT even though it
        # reads "pre-1970" locally (the old string-literal boundary
        # dropped it); 18:00 Dec 31 is epoch -3600 — must be dropped.
        df = spark.sql(
            "SELECT 1 AS k, timestamp'1969-12-31 20:00:00' AS ts "
            "UNION ALL SELECT 2, timestamp'1969-12-31 18:00:00' "
            "UNION ALL SELECT 3, timestamp'1970-01-01 00:00:00'"
        )
        kept = sorted(r.k for r in nonnegative_event_time(df).collect())
        assert kept == [1, 3]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
