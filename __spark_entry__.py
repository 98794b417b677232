"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for every one of them (the two key sets are
equal, a tier-1 test checks it).

Naming discipline: every computed column is aliased identically in the
Spark code and the oracle SQL (the driver sorts columns by name before
hashing). Timestamp parity: each query pins the Spark session timezone
to UTC so epoch conversions agree with DuckDB's naive-UTC timestamps.
Float parity: sums go through DECIMAL (exact, order-independent);
averages/cosines round to 6 decimals on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iotstream.ext import dedup as xdedup
from iotstream.ext import joins as xjoins
from iotstream.ext import tpch as xtpch
from iotstream.ext import similarity as xsim
from iotstream.ext import text as xtext
from iotstream.ext.multimodal import (
    attach_media,
    decode_media,
    extract_features,
    resize_media,
)
from iotstream.generator import _HUM, _TEMP, synthetic_sensor_events
from iotstream.operators.filters import VALID_SQL, is_valid, validity_filter
from iotstream.operators.parse import parse_sensor_json, to_sensor_json
from iotstream.operators.project import raw_archive_projection
from iotstream.operators.throughput import throughput
from iotstream.operators.windows import tumbling_agg
from iotstream.schemas import load_events_stream, load_table, use_utc
from iotstream.sensorize import sensor_cte, sensorize

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- helpers

def _sensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    use_utc(spark)
    return sensorize(load_table(spark, sf_dir, "events"))


def _valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validity_filter(_sensor(spark, sf_dir))


def _flat(df: DataFrame) -> DataFrame:
    return df.select(
        "id",
        "messageId",
        "timestamp",
        F.col("metrics.temperature").alias("temperature"),
        F.col("metrics.humidity").alias("humidity"),
    )


def _windowed(df: DataFrame, aggs) -> DataFrame:
    out = tumbling_agg(
        df, "ts", ["id"], F.col("metrics.temperature"), "1 minute",
        aggs=aggs, prefix="temperature",
    )
    if "avg" in aggs:
        out = out.withColumn("avg_temperature", F.round("avg_temperature", 6))
    return out


_WINDOW_ORACLE = """
WITH sensor AS ({cte})
SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
       time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
       id,
       {aggs}
FROM sensor
WHERE {valid} AND ts IS NOT NULL
GROUP BY 1, 2, 3
"""

_AGG_SQL = {
    "max": "max(temperature) AS max_temperature",
    "min": "min(temperature) AS min_temperature",
    "avg": "round(avg(temperature), 6) AS avg_temperature",
}


def _window_oracle(*aggs: str, extra_where: str = "") -> str:
    """``extra_where`` is appended to the validity clause — the
    streaming twin adds the non-negative event-time domain
    (schemas.nonnegative_event_time) that batch windows must NOT have."""
    return _WINDOW_ORACLE.format(
        cte=sensor_cte(),
        aggs=",\n       ".join(_AGG_SQL[a] for a in aggs),
        valid=VALID_SQL + extra_where,
    )


# ----------------------------------------------------------- core queries

def q_flagship(spark, sf_dir):
    """F1+F2+A1-A3: validity filter → per-sensor 1-min tumbling
    MAX/MIN/AVG — the reference's whole analytics layer
    (StreamProcessor.java:61-78 + README.md:87-92)."""
    return _windowed(_valid(spark, sf_dir), ("max", "min", "avg"))


def q_filter_validity(spark, sf_dir):
    return _flat(_valid(spark, sf_dir))


def q_window_max(spark, sf_dir):
    return _windowed(_valid(spark, sf_dir), ("max",))


def q_window_min(spark, sf_dir):
    return _windowed(_valid(spark, sf_dir), ("min",))


def q_window_avg(spark, sf_dir):
    return _windowed(_valid(spark, sf_dir), ("avg",))


def q_hopping_window_max(spark, sf_dir):
    """KSQL WINDOW HOPPING parity: 2-min windows advancing by 1 min —
    each event aggregates into 2 overlapping windows (map-side copy
    expansion, one shuffle)."""
    from iotstream.operators.windows import hopping_agg

    return hopping_agg(
        _valid(spark, sf_dir), "ts", ["id"], F.col("metrics.temperature"),
        width="2 minutes", slide="1 minute", aggs=("max",), prefix="temperature",
    )


def q_rolling_avg(spark, sf_dir):
    """Row-frame analytic: per-sensor rolling mean of the last 4
    readings (3 preceding + current) in event order — the smoothing
    pass of a telemetry pipeline; one shuffle on the partition key."""
    from pyspark.sql import Window

    from iotstream.schemas import event_time_only

    sensor = event_time_only(_valid(spark, sf_dir))
    w = (
        Window.partitionBy("id")
        .orderBy("ts", "messageId")
        .rowsBetween(-3, Window.currentRow)
    )
    return sensor.select(
        "id",
        "messageId",
        F.col("metrics.temperature").alias("temperature"),
        F.round(F.avg(F.col("metrics.temperature")).over(w), 6).alias(
            "rolling_avg_temperature"
        ),
    )


def q_json_parse(spark, sf_dir):
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json("props", "k BIGINT").getField("k").alias("k"),
    )


def q_json_roundtrip(spark, sf_dir):
    payloads = to_sensor_json(_sensor(spark, sf_dir))
    return _flat(parse_sensor_json(payloads))


def q_clean_stream_json(spark, sf_dir):
    return to_sensor_json(_valid(spark, sf_dir))


def q_raw_archive_projection(spark, sf_dir):
    return raw_archive_projection(_sensor(spark, sf_dir))


def q_throughput_count(spark, sf_dir):
    return throughput(_sensor(spark, sf_dir), "id")


def q_streaming_window_agg(spark, sf_dir):
    """The same flagship aggregate executed as a REAL streaming query:
    file-stream source → watermark → update-mode windowed agg → keyed
    upsert (the KSQL MAX_TABLE → Connect → Mongo path); returns the
    final upserted state, which equals the batch result under the
    unbounded correctness watermark."""
    from iotstream.schemas import nonnegative_event_time
    from iotstream.streaming import windowed_agg_final_state

    # watermarked op: non-negative event-time domain (see schemas)
    valid = nonnegative_event_time(
        validity_filter(sensorize(load_events_stream(spark, sf_dir)))
    )
    return windowed_agg_final_state(
        spark, valid, "ts", ["id"], F.col("metrics.temperature")
    )


def q_top_events(spark, sf_dir):
    """Global ORDER BY + LIMIT (TakeOrderedAndProject: per-partition
    top-k then a single-reduce merge — no full sort at any scale)."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "event_type", "value")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(100)
    )


def q_ksql_max_table(spark, sf_dir):
    """Entry-point-2 parity: the KSQL MAX_TABLE statement run as pure
    Spark SQL over a registered stream view (README.md:76-92)."""
    from iotstream.sql import create_stream_view, max_table

    create_stream_view(_sensor(spark, sf_dir))
    return max_table(spark)


def q_synthetic_sensor_stream(spark, sf_dir):
    """S4 generator parity: the deterministic 1/9/90 quality mix
    (mqttgen.py:36-45) from pure expressions, oracle-checked."""
    use_utc(spark)
    return synthetic_sensor_events(spark, 1000).select(
        "loop",
        "id",
        "messageId",
        "timestamp",
        F.col("metrics.temperature").alias("temperature"),
        F.col("metrics.humidity").alias("humidity"),
    )


def q_stateful_quality_monitor(spark, sf_dir):
    """T5 EXT: arbitrary per-key state via applyInPandasWithState — a
    per-sensor quality monitor (totals + longest consecutive-invalid
    run). Runs as a real streaming query; final upserted state is
    oracle-checked against a gaps-and-islands SQL formulation."""
    from iotstream.streaming import drain
    from iotstream.streaming.stateful import quality_monitor

    sensor = sensorize(load_events_stream(spark, sf_dir))
    return drain(spark, quality_monitor(sensor), "update", ["id"])


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running
    sum — the batch twin of the streaming session_window operator."""
    from iotstream.ext.sessions import sessionize_batch

    use_utc(spark)
    return sessionize_batch(load_table(spark, sf_dir, "events"))


def q_streaming_sessionize(spark, sf_dir):
    """Streaming-native sessions (session_window state store), drained
    complete-mode; oracle is the lag/cumsum SQL twin restated with
    session_window's boundary semantics (gap >= threshold splits,
    session_end = last event + gap)."""
    from iotstream.ext.sessions import session_window_stream
    from iotstream.streaming import UNBOUNDED_WATERMARK, drain

    stream = load_events_stream(spark, sf_dir).select("user_id", "ts")
    sessions = session_window_stream(
        stream, key="user_id", watermark=UNBOUNDED_WATERMARK
    )
    return drain(spark, sessions, "complete")


def q_distinct_users(spark, sf_dir):
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_high_value_purchasers(spark, sf_dir):
    """Set-operation surface: EXCEPT over distinct projections."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    buyers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 320))
        .select("user_id")
        .distinct()
    )
    erring = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 320))
        .select("user_id")
        .distinct()
    )
    return buyers.subtract(erring)


# ------------------------------------------------------------ EXT queries

def q_dedup_exact(spark, sf_dir):
    return xdedup.dedup_exact(load_table(spark, sf_dir, "documents"))


def q_word_counts(spark, sf_dir):
    return xtext.word_counts(load_table(spark, sf_dir, "documents"))


def q_token_stats(spark, sf_dir):
    return xtext.token_stats(load_table(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    return xtext.quality_score(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    return xtext.lang_id(load_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    return xtext.doc_fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


def q_dq_report(spark, sf_dir):
    """Data-quality gate: declarative rule predicates compiled into ONE
    conditional-sum pass (plus a distinct agg for key uniqueness),
    unpivoted to (rule, n_violations)."""
    from iotstream.ext.quality import dq_report, events_rules

    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return dq_report(ev, events_rules(), unique_key="event_id")


def q_dedup_report(spark, sf_dir):
    """Composed curation verdict per document: exact-dup canonical +
    text-near-dup + embedding-near-dup flags in one sheet."""
    # same demo cap as neardup_jaccard: the exact-verify kernels are
    # the correctness twins; the blocked kernels are the scale path.
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return xdedup.dedup_report(docs, emb)


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clusters: connected components (iterative
    min-label propagation, per-round materialization) over the exact
    shingle-Jaccard pair graph; singletons keep their own id. Oracle
    is a recursive-CTE reachability closure."""
    from iotstream.ext.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    pairs = xdedup.neardup_jaccard_exact(docs, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    comp = connected_components(
        pairs, docs.select("doc_id"), src="doc_a", dst="doc_b", node="doc_id"
    )
    return comp.select(F.col("node").alias("doc_id"), "cluster_id")


def q_dedup_clusters_lsh(spark, sf_dir):
    """The 100 TB dedup-cluster path, end to end: MinHash signatures →
    LSH band buckets → exact Jaccard verify on candidates only →
    connected components. No all-pairs step anywhere: candidate count
    scales with band-bucket density, component rounds with dup-graph
    diameter. Oracle is the same recursive-CTE closure over the exact
    J≥0.5 pair graph — verified-LSH pairs equal it whenever banding
    recall is 1, which holds deterministically on this corpus (fixture
    dups all sit at J≥0.89, where 8-band/r=4 collision probability is
    1-(1-0.89⁴)⁸ ≈ 0.9998 per pair and the fixed xxhash64 seeds make
    the outcome reproducible; `tests/test_graph.py` asserts LSH-feed vs
    exact-feed cluster equality)."""
    from iotstream.ext.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    pairs = xdedup.neardup_minhash(docs, threshold=0.5).select("doc_a", "doc_b")
    comp = connected_components(
        pairs, docs.select("doc_id"), src="doc_a", dst="doc_b", node="doc_id"
    )
    return comp.select(F.col("node").alias("doc_id"), "cluster_id")


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment via an engine-portable
    multiplicative hash — stable under corpus growth (no reshuffling
    of existing docs), auditable from any engine."""
    from iotstream.ext.curation import dataset_split

    return dataset_split(load_table(spark, sf_dir, "documents"))


def q_stratified_sample(spark, sf_dir):
    from iotstream.ext.curation import stratified_sample

    return stratified_sample(load_table(spark, sf_dir, "documents"))


def q_doc_chunks(spark, sf_dir):
    """Context-window packing: overlapping fixed-size char chunks
    (120/stride 90) via one explode pass — no shuffle."""
    from iotstream.ext.curation import doc_chunks

    return doc_chunks(load_table(spark, sf_dir, "documents"))


def q_vocab_build(spark, sf_dir):
    return xtext.vocab_build(load_table(spark, sf_dir, "documents"))


def q_ngram_counts(spark, sf_dir):
    return xtext.ngram_counts(load_table(spark, sf_dir, "documents"))


def q_length_percentiles(spark, sf_dir):
    return xtext.length_percentiles(load_table(spark, sf_dir, "documents"))


def q_scrub_numbers(spark, sf_dir):
    use_utc(spark)
    return xtext.scrub_numbers(load_table(spark, sf_dir, "events"))


def q_corpus_curate(spark, sf_dir):
    """The composed curation pipeline: quality floor → exact-dedup
    canonical → decontamination anti-join → split assignment, as ONE
    Catalyst plan."""
    from iotstream.ext.corpus import curate

    docs = load_table(spark, sf_dir, "documents")
    block = xtext.doc_fingerprint(docs.filter(F.col("doc_id") % 97 == 0))
    return curate(docs, block)


def q_tokenize_encode(spark, sf_dir):
    """Corpus → ordered token-id arrays against the built vocab (OOV →
    0): broadcast dictionary lookup, one reassembly shuffle. The
    declared projection flattens the id array to a space-joined string
    so the driver's canonicalizer (which sorts column values) can hash
    it — pandas can't sort list-typed cells."""
    enc = xtext.tokenize_encode(load_table(spark, sf_dir, "documents"))
    return enc.select(
        "doc_id",
        F.array_join(F.col("token_ids").cast("array<string>"), " ").alias(
            "token_ids_str"
        ),
        "n_tokens",
        "n_oov",
    )


def q_lm_bigram_xent(spark, sf_dir):
    """CCNet-style LM quality: per-doc cross-entropy under an add-one-
    smoothed corpus bigram model — bigram stream joins its own count
    table on the bigram key, vocabulary-sized sides broadcast."""
    return xtext.lm_bigram_xent(load_table(spark, sf_dir, "documents"))


def q_scrub_repetition(spark, sf_dir):
    """Consecutive-duplicate-token collapse via indexed HOF filter —
    zero-shuffle narrow map."""
    return xtext.scrub_repetition(load_table(spark, sf_dir, "documents"))


def q_sequence_pack(spark, sf_dir):
    """GPT-style sequence packing: global token offsets via a
    TWO-LEVEL distributed prefix-sum (block-local window + tiny block
    prefix table broadcast back) — never a single-partition global
    window over the corpus."""
    from iotstream.ext.packing import sequence_pack

    return sequence_pack(load_table(spark, sf_dir, "documents"))


def q_df_token_filter(spark, sf_dir):
    """Document-frequency boilerplate removal: tokens in >=50% of docs
    dropped, text reconstructed in order (broadcast anti-join, no
    UDF)."""
    return xtext.remove_high_df_tokens(load_table(spark, sf_dir, "documents"))


def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination: broadcast anti-join on content md5
    against a simulated benchmark blocklist (docs with doc_id%97==0
    play the eval set)."""
    docs = load_table(spark, sf_dir, "documents")
    block = xtext.doc_fingerprint(docs.filter(F.col("doc_id") % 97 == 0))
    return xtext.decontaminate(docs, block)


def q_neardup_jaccard(spark, sf_dir):
    """Exact-verify path, capped to doc_id < 2000: the inverted-index
    pair join is quadratic in per-shingle doc frequency — fine as a
    correctness oracle, never the scale path (that's neardup_minhash).
    The cap is a no-op at the sf0.01 correctness scale (500 docs)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return xdedup.neardup_jaccard_exact(docs, threshold=0.5)


def q_neardup_minhash(spark, sf_dir):
    """MinHash+LSH candidates -> exact-Jaccard verify over the FULL
    corpus (no cap — the banded path never goes all-pairs). Oracle is
    the uncapped exact pair set: equal whenever banding recall is 1,
    which this corpus satisfies deterministically (dups at J>=0.89,
    missed=0 verified at all three SFs)."""
    return xdedup.neardup_minhash(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


def q_simhash(spark, sf_dir):
    """SimHash invariant sheet (oracle-gradable reshape of the raw
    signature dump): byte-identical texts MUST get identical simhash,
    so every exact-dup group has exactly one distinct simhash value.
    Spark genuinely computes count(distinct simhash) per text-digest
    group over the full ``simhash64`` kernel; the oracle asserts the
    invariant (1 per group) plus the group sizes — any nondeterminism
    or input-sensitivity drift in the 64-bit sign-vote kernel fails the
    hash gate. The signatures themselves are engine-internal (hash
    functions aren't cross-engine comparable; near-dup bit-distance
    separation is pytest-gated in tests/test_ext_dedup.py). Raw
    signatures: ``iotstream.ext.dedup.simhash64`` directly."""
    docs = load_table(spark, sf_dir, "documents")
    sh = xdedup.simhash64(docs)
    return (
        docs.select("doc_id", F.sha2("text", 256).alias("_d"))
        # both sides are one row per doc — hash join skips the two
        # doc-count sorts a sort-merge join would pay
        .join(sh.hint("shuffle_hash"), "doc_id")
        .groupBy("_d")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("simhash").alias("n_distinct_simhash"),
        )
        .drop("_d")
    )


def q_similarity_topk(spark, sf_dir):
    return xsim.similarity_topk(
        load_table(spark, sf_dir, "embeddings"), n_queries=10, k=5
    ).withColumn("rank", F.col("rank").cast("long"))


def q_similarity_topk_lsh(spark, sf_dir):
    """ANN top-k through the multi-table hyperplane-LSH path, pinned at
    a table count where recall is deterministically 1 on this corpus
    (64 tables × 4 bits; hash-derived planes, verified zero misses vs
    the exact kernel at sf0.001/0.01/0.1) — so the output is identical
    to ``similarity_topk`` and shares its oracle. Per-item miss prob at
    the corpus's hardest neighbor (cosine ≈0.255) is (1-0.582⁴)⁶⁴ ≈
    4e-4; production recall/cost trades use fewer tables (pytest gates
    the single-table configuration's recall)."""
    return xsim.similarity_topk_lsh(
        load_table(spark, sf_dir, "embeddings"), n_queries=10, k=5,
        nbits=4, tables=64,
    ).withColumn("rank", F.col("rank").cast("long"))


def q_similarity_topk_ivf(spark, sf_dir):
    """ANN top-k through the IVF path, graded on the PRODUCTION cell
    structure: ``nlist=None`` auto-sizes the codebook to ≈√n cells
    (the FAISS rule — a fixed nlist=8 at 1000× the corpus would put
    ∝n vectors in every cell, so the graded plan is the scale-safe
    plan), and ``nprobe="all"`` probes every cell, so
    the candidate set is exhaustive and the output provably equals
    ``similarity_topk`` — same oracle. Probe-all is the HONEST parity
    config, not a grading shortcut: probe selection by centroid
    distance can always exclude a true neighbor's cell, so no
    nprobe<nlist configuration has deterministic recall 1 on arbitrary
    data — only the exhaustive one can share the exact twin's oracle.
    The full IVF machinery still runs (bounded-sample Lloyd codebook,
    distributed BLAS cell assignment, per-query probe selection);
    production uses nprobe<<nlist (pytest gates that configuration's
    recall, and its nprobe=None default derives nlist//4)."""
    return xsim.similarity_topk_ivf(
        load_table(spark, sf_dir, "embeddings"), n_queries=10, k=5,
        nlist=None, nprobe="all",
    ).withColumn("rank", F.col("rank").cast("long"))


def q_neardup_embedding(spark, sf_dir):
    return xsim.neardup_embedding(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def q_neardup_embedding_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: multi-table hyperplane LSH
    blocking + BLAS verify (never all-pairs), graded through the
    AUTO-SIZING path itself (``lsh_auto_params``) so the declared plan
    IS the production plan — a fixed (bits, tables) pin does not scale.
    nbits grows as log2(n/target_bucket) (linear Σ bucket² at any
    corpus size) and tables come from the recall identity at
    ``recall=0.99999``, a strict SUPERSET of a 64-table config on the
    fixture corpora (seeded planes are generated row-major from one RNG
    stream; every candidate is exactly verified) — zero missing/extra
    pairs vs the exact kernel at sf0.001/0.01/0.1.

    Execution is regime-split. Below the
    vector-broadcast gate (the FAISS-style fits-in-RAM case — every
    fixture and probe corpus) the job is ONE stage over (table, shard)
    units: the driver builds the signature matrix, each unit verifies
    its buckets with a float32 candidate margin, keeps a pair only in
    its FIRST kept colliding table (cap-aware ownership — every pair
    emitted exactly once, NO distinct pass), and rescores in exact
    float64. Above the gate, narrow (vec_id, t, bucket) rows shuffle
    with the window cap + a float32-array vector join (never Python
    object cells). Output equals ``neardup_embedding`` and shares its oracle; the
    default recall=0.9 production trade keeps its pytest recall
    gate, and tests/test_ext_similarity.py asserts broadcast == ship
    on the fixture."""
    return xsim.neardup_embedding_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4,
        recall=0.99999,
    )


def q_embedding_label_stats(spark, sf_dir):
    """Embedding-column profiling: per-label vector counts and norm
    distribution via higher-order functions (no UDF) — the sanity pass
    before any ANN build (degenerate / zero-norm vectors surface
    here). NULL vectors are excluded, same rule as every similarity
    kernel (drop_null_vectors); a NULL label profiles as its own
    group, identical to SQL GROUP BY."""
    from iotstream.ext.similarity import drop_null_vectors

    emb = drop_null_vectors(load_table(spark, sf_dir, "embeddings"))
    dot = F.expr(
        "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    )
    norm = F.sqrt(dot)
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(norm), 6).alias("avg_norm"),
        F.round(F.min(norm), 6).alias("min_norm"),
        F.round(F.max(norm), 6).alias("max_norm"),
    )


def q_multimodal_ingest(spark, sf_dir):
    return attach_media(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "mime", "n_bytes", "sha256"
    )


def q_multimodal_decode(spark, sf_dir):
    """Arrow-batched decode pass (deterministic fake codec), oracle-
    checked: the stand-in derives dimensions from payload BYTE length,
    and the DuckDB twin mirrors that with strlen() (UTF-8 byte count) —
    exact on any multilingual corpus, not just ASCII."""
    media = attach_media(load_table(spark, sf_dir, "documents"))
    return decode_media(media, fake=True)


def q_salted_join(spark, sf_dir):
    """Skew-safe join: events fact salted over 8 buckets against a
    user dimension — result provably identical to the plain join (the
    oracle IS the plain join). At scale, only `hot_keys` get salted."""
    from iotstream.ext.skew import salted_join
    from iotstream.schemas import finite_measures

    use_utc(spark)
    # finite-measures contract: value feeds the exact-decimal total
    ev = finite_measures(load_table(spark, sf_dir, "events"), "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        salted_join(ev, dim, "user_id", buckets=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup: dropDuplicates on the event key inside a
    real micro-batch stream (state-store backed), drained availableNow;
    oracle is batch DISTINCT. The streaming twin of E1."""
    from iotstream.streaming import drain

    deduped = (
        load_events_stream(spark, sf_dir)
        .select("event_id", "user_id", "event_type", "value")
        .dropDuplicates(["event_id"])
    )
    return drain(spark, deduped, "append")


def q_streaming_enrich(spark, sf_dir):
    """Stream×static broadcast enrichment join (dim never shuffles the
    stream) → running per-segment totals; final upserted state equals
    the batch join+agg (the oracle)."""
    from iotstream.streaming.joins import enrich_against_dim_final

    stream = load_events_stream(spark, sf_dir).select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return enrich_against_dim_final(spark, stream, dim, "user_id", "c_mktsegment")


def q_streaming_interval_join(spark, sf_dir):
    """Stream-stream watermarked interval join (state-store backed):
    per-user events within 30 min after each error, as pairs; drained
    append-mode — inner-join matches emit eagerly, so the finite run
    is complete. Oracle is the batch pair join."""
    from iotstream.streaming.joins import interval_join_pairs

    left = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_event_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
        )
    )
    right = load_events_stream(spark, sf_dir).select(
        F.col("event_id").alias("follow_event_id"),
        F.col("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("follow_value"),
    )
    pairs = interval_join_pairs(
        spark, left, right, "user_id", left_ts="e_ts", right_ts="r_ts"
    )
    return pairs.select(
        "error_event_id", "follow_event_id", "user_id", "follow_value"
    )


def q_pivot_event_types(spark, sf_dir):
    """Pivot (long→wide): per-user counts of each event type as
    columns. Spark's pivot with an EXPLICIT value list compiles to one
    conditional-aggregation pass (no second distinct-values job, no
    extra shuffle) — always enumerate pivot values at scale."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") < 100)
        .groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "error"])
    )


def q_intersect_users(spark, sf_dir):
    """Set-op surface (INTERSECT): users who both clicked and
    purchased above threshold."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    clickers = (
        ev.filter((F.col("event_type") == "click") & (F.col("value") > 150))
        .select("user_id")
        .distinct()
    )
    buyers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select("user_id")
        .distinct()
    )
    return clickers.intersect(buyers)


def q_quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch, oracle-gradable invariant sheet: the
    full ``percentile_approx`` (GK sketch) kernel runs per event_type,
    then each returned quantile is re-ranked against the raw data and
    asserted to sit inside the ±2%-rank band its accuracy guarantees
    (the same band the pytest gate uses — percentile_approx returns an
    actual element, so rank position is the comparable invariant, not
    the value). The oracle recomputes the per-group row counts from
    data and asserts the band holds (``rank_ok`` true) — a sketch
    regression (wrong accuracy plumbing, nondeterminism, rank drift)
    fails the hash gate. The exact-twin re-rank join exists only in
    this graded sheet; production reads the sketch output alone
    (raw values: the ``percentile_approx`` agg, first leg below).
    The re-rank is one broadcast join (15 tiny rows) + one shuffle on
    (event_type, q) — 100 TB-safe."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    probs = [0.5, 0.9, 0.99]
    qa = (
        ev.groupBy("event_type")
        .agg(F.percentile_approx("value", probs, 10000).alias("_qs"))
        .select("event_type", F.posexplode("_qs").alias("_i", "_qv"))
        .select(
            "event_type",
            F.element_at(
                F.array(*[F.lit(float(p)) for p in probs]), F.col("_i") + 1
            ).alias("q"),
            "_qv",
        )
    )
    # NULL parity with the oracle (same playbook as q_hll_distinct's
    # <=> join): a plain equi-join would drop a NULL
    # event_type group that both groupBys retain, and n_events counts
    # NON-NULL values only (count(value), not count(*)) because
    # percentile_approx and the lt/le rank sums all ignore NULL values
    # — count(*) would shift the rank band's denominator.
    ranked = (
        ev.alias("e")
        .join(
            F.broadcast(qa.alias("qa")),
            F.expr("e.event_type <=> qa.event_type"),
        )
        .groupBy(F.col("e.event_type").alias("event_type"), "q", "_qv")
        .agg(
            F.count("e.value").alias("n_events"),
            F.sum((F.col("e.value") < F.col("_qv")).cast("long")).alias("_n_lt"),
            F.sum((F.col("e.value") <= F.col("_qv")).cast("long")).alias("_n_le"),
        )
    )
    return ranked.select(
        "event_type",
        "q",
        "n_events",
        (
            (F.col("_n_lt") / F.col("n_events") <= F.col("q") + 0.02)
            & (F.col("_n_le") / F.col("n_events") >= F.col("q") - 0.02)
        ).alias("rank_ok"),
    )


def q_cube_docs(spark, sf_dir):
    """Multi-dimensional aggregate: CUBE(lang, source) — all four
    grouping-set combinations in one pass (partial-agg map-side)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def q_hll_distinct(spark, sf_dir):
    """Sketch surface, oracle-gradable invariant sheet: the full
    approx_count_distinct (HyperLogLog++) kernel runs per event_type
    and its estimate is asserted within the pytest gate's tolerance of
    the exact cardinality — ``within_5pct`` = |approx − exact| ≤
    max(5% · exact, 2). The oracle recomputes the exact cardinality
    from data and asserts the flag (HLL estimates aren't cross-engine
    comparable — DuckDB's registers differ — but the error bound on
    real data is). A relative-accuracy regression in the sketch fails
    the hash gate. The sketch is pinned at rsd=0.01 so the 5% flag sits
    at 5σ (the default rsd=0.05 makes 5% a 1σ band — it genuinely
    tripped at sf0.1's ~1500-user cardinality); the sketch is
    deterministic on fixed data, verified at sf0.001/0.01/0.1. The
    exact twin lives only in this graded sheet; production reads the
    sketch alone (raw estimate: ``approx_count_distinct`` directly)."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    # exact twin as distinct-pairs → count, NOT countDistinct in the
    # same agg as the sketch: combining them makes Catalyst EXPAND the
    # input (one replica per distinct-aggregate) and merge the 2^14-
    # register rsd=0.01 HLL buffers across the duplicated rows — A/B
    # 2.34 s vs 0.80 s for this split shape at sf0.1. Two scans + a
    # 5-row broadcast join beat one expanded scan.
    # NULL parity with the oracle's count(DISTINCT user_id): a LONE
    # countDistinct plans as a two-stage distinct aggregate without the
    # EXPAND (0.19 s measured — the 2.3 s cost was the combination with
    # the sketch buffers), excludes null user_ids, and keeps an
    # all-null group as exact_users=0; the <=> join keeps a null
    # event_type GROUP alive through the recombination (a plain
    # equi-join would drop it).
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("_approx")
    )
    return (
        exact.alias("e")
        .join(
            F.broadcast(approx.alias("a")),
            F.expr("e.event_type <=> a.event_type"),
        )
        .select(
            F.col("e.event_type").alias("event_type"),
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.greatest(F.lit(0.05) * F.col("exact_users"), F.lit(2.0))
            ).alias("within_5pct"),
        )
    )


def q_asof_join(spark, sf_dir):
    """As-of join: most recent purchase at-or-before each click, per
    user — union + ordered window (one shuffle, no range probing);
    oracle is DuckDB's native ASOF JOIN."""
    from iotstream.ext.temporal import asof_last_purchase

    use_utc(spark)
    return asof_last_purchase(load_table(spark, sf_dir, "events"))


def q_interval_join(spark, sf_dir):
    """Interval join: same-user events within 30 min after each error —
    time-bin blocked equi-join (never a per-key cross product)."""
    from iotstream.ext.temporal import interval_follow

    use_utc(spark)
    return interval_follow(load_table(spark, sf_dir, "events"))


def q_gapfill_locf(spark, sf_dir):
    """Hypertable gap-fill: dense 1-min per-sensor series over each
    sensor's observed span, empty buckets filled by last observation
    carried forward (TimescaleDB time_bucket_gapfill + locf). 60-min
    buckets: the fixture's sensors report every ~10 h, so most buckets
    are genuine gaps; output stays span/width-bounded per sensor."""
    from iotstream.ext.temporal import gapfill_locf

    return gapfill_locf(_valid(spark, sf_dir), bucket_width="60 minutes")


def q_latest_reading(spark, sf_dir):
    """KSQL LATEST_BY_OFFSET parity: current temperature/humidity per
    sensor via max_by over the (ts, messageId) event-order struct —
    one partial-aggregating shuffle, no window sort, the plan that
    stays a single HashAggregate at any scale."""
    order = F.struct("ts", "messageId")
    return _valid(spark, sf_dir).groupBy("id").agg(
        F.max_by(F.col("metrics.temperature"), order).alias("latest_temperature"),
        F.max_by(F.col("metrics.humidity"), order).alias("latest_humidity"),
        F.max("ts").alias("latest_ts"),
    )


def q_candlestick(spark, sf_dir):
    """OHLC downsampling: per sensor per day, the first/last reading in
    event order plus min/max — windowed EARLIEST/LATEST_BY_OFFSET (the
    KSQL downsampling idiom). min_by/max_by over the (ts, messageId)
    struct keeps it one partial-aggregating shuffle — no per-window
    sort, no row_number pass."""
    from iotstream.schemas import event_time_only

    t = F.col("metrics.temperature")
    order = F.struct("ts", "messageId")
    return (
        event_time_only(_valid(spark, sf_dir))
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("id"))
        .agg(
            F.min_by(t, order).alias("open_temperature"),
            F.max(t).alias("high_temperature"),
            F.min(t).alias("low_temperature"),
            F.max_by(t, order).alias("close_temperature"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "id",
            "open_temperature",
            "high_temperature",
            "low_temperature",
            "close_temperature",
        )
    )


def q_temp_delta(spark, sf_dir):
    """Delta encoding: per-sensor successive-reading temperature change
    (counter-delta / rate-of-change prep). One shuffle on id, linear
    window scan; first reading per sensor keeps NULL."""
    from pyspark.sql import Window

    from iotstream.schemas import event_time_only

    t = F.col("metrics.temperature")
    w = Window.partitionBy("id").orderBy("ts", "messageId")
    return event_time_only(_valid(spark, sf_dir)).select(
        "id",
        "messageId",
        t.alias("temperature"),
        (t - F.lag(t).over(w)).alias("delta_temperature"),
    )


def q_zscore_anomaly(spark, sf_dir):
    """Per-sensor z-score outliers (|z| > 2). Mean/std are derived from
    exact integer sum/sum-of-squares (one whole-partition window, no
    second scan), then the SAME IEEE expression shape as the SQL twin —
    so the filter boundary is bit-deterministic across engines, not a
    float-rounding gamble.

    Zero-divisor contract: a sensor with ONE valid reading (n-1 = 0)
    or zero variance has no z-score. DuckDB's double division by zero
    yields NULL, silently excluding such sensors via abs(zv) > 2;
    Spark under ANSI mode THROWS instead. try_divide is
    exactly DuckDB's null-on-zero-divisor semantic, so both engines
    exclude these sensors identically (and a real fleet's
    single-reading sensors can't crash the query)."""
    from pyspark.sql import Window

    t = F.col("metrics.temperature")
    w = Window.partitionBy("id")
    s = F.sum(t).over(w).cast("double")
    n = F.count(t).over(w).cast("double")
    sq = F.sum(t * t).over(w).cast("double")
    denom = F.sqrt(F.try_divide(sq - s * s / n, n - F.lit(1.0)))
    z = F.try_divide(t.cast("double") - s / n, denom)
    return (
        _valid(spark, sf_dir)
        .select(
            "id",
            "messageId",
            t.alias("temperature"),
            z.alias("_z"),
        )
        .filter(F.abs(F.col("_z")) > 2.0)
        .select(
            "id",
            "messageId",
            "temperature",
            F.round("_z", 6).alias("zscore"),
        )
    )


def q_funnel(spark, sf_dir):
    """Ordered-stage funnel (view → click → purchase) via stacked
    whole-partition window minima — one user_id shuffle for the whole
    chain, no per-stage self-joins."""
    from iotstream.ext.analytics import funnel

    use_utc(spark)
    return funnel(load_table(spark, sf_dir, "events"))


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix; first-seen agg, activity
    distinct, and join all share the user_id partitioning."""
    from iotstream.ext.analytics import cohort_retention

    use_utc(spark)
    return cohort_retention(load_table(spark, sf_dir, "events"))


def q_activity_reconcile(spark, sf_dir):
    """Full-outer join surface (the one join type not exercised
    elsewhere): per-user purchase vs error activity reconciled, keeping
    users present on either side only. Both inputs pre-aggregate before
    the join, so the shuffle carries one row per (user, side) — never
    raw events — and AQE plans the merged exchange."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return p.join(e, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
    )


def q_shipping_priority(spark, sf_dir):
    return xjoins.shipping_priority(spark, sf_dir)


def q_enrichment_join(spark, sf_dir):
    return xjoins.enrichment_join(spark, sf_dir)


def q_topk_per_group(spark, sf_dir):
    return xjoins.topk_per_group(spark, sf_dir).withColumn(
        "rn", F.col("rn").cast("long")
    )


def q_revenue_forecast(spark, sf_dir):
    return xjoins.revenue_forecast(spark, sf_dir)


def q_pricing_summary(spark, sf_dir):
    return xjoins.pricing_summary(spark, sf_dir)


def q_revenue_rollup(spark, sf_dir):
    return xjoins.revenue_rollup(spark, sf_dir)


def q_local_supplier_volume(spark, sf_dir):
    return xjoins.local_supplier_volume(spark, sf_dir)


def q_large_quantity_orders(spark, sf_dir):
    return xjoins.large_quantity_orders(spark, sf_dir)


def q_dormant_customers(spark, sf_dir):
    return xjoins.dormant_customers(spark, sf_dir)


def q_decontaminate_ngram(spark, sf_dir):
    """N-gram-overlap decontamination: docs with doc_id%97==0 play the
    eval set (same convention as the md5 `decontaminate` query); any
    corpus doc sharing a word 3-gram with them is dropped."""
    docs = load_table(spark, sf_dir, "documents")
    return xtext.decontaminate_ngram(
        docs, docs.filter(F.col("doc_id") % 97 == 0), n=3
    )


def q_continuous_rollup(spark, sf_dir):
    from iotstream.ext.temporal import continuous_rollup

    return continuous_rollup(_sensor(spark, sf_dir))


def q_rolling_5min_count(spark, sf_dir):
    """Range-interval window frame: per-user count of events in the
    trailing 5 minutes — the sliding-lookback rate limiter / burst
    detector. RANGE (value-based) frames are tie-stable: rows with
    equal timestamps are frame peers in both engines, so the result is
    deterministic under any shuffle order. One shuffle on user_id.

    The frame key is ``unix_micros`` — FULL timestamp precision, so the
    [t-5min, t] boundary is the oracle's. ``unix_timestamp`` (seconds)
    truncates sub-second digits and silently widens the frame for
    events whose distance is within 1s of the boundary — invisible at
    sf0.01, caught by the sf0.1 sweep."""
    from pyspark.sql.window import Window

    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-300_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_5min"),
    )


def q_grouping_sets_volume(spark, sf_dir):
    return xjoins.priority_nation_volume(spark, sf_dir)


def q_user_value_deciles(spark, sf_dir):
    """ntile/percent_rank deciles over per-user purchase totals,
    ranked by ``ext/ranks.py::with_global_ranks`` (no single-partition
    window). Bit-identical to the builtin ntile/percent_rank under this
    total order (user_id tiebreaker)."""
    from iotstream.ext.ranks import (
        ntile_expr,
        percent_rank_expr,
        with_global_ranks,
    )
    from iotstream.schemas import finite_measures

    use_utc(spark)
    totals = (
        # finite-measures contract: value feeds the exact-decimal total
        finite_measures(load_table(spark, sf_dir, "events"), "value")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value")
        )
    )
    ranked = with_global_ranks(
        totals, _rn=[F.desc("total_value"), F.asc("user_id")]
    )
    rn, total = F.col("_rn"), F.col("_total")
    return ranked.select(
        "user_id",
        "total_value",
        ntile_expr(rn, total, 10).alias("decile"),
        F.round(percent_rank_expr(rn, total), 6).alias("pct_rank"),
    )


def q_props_extract(spark, sf_dir):
    """JSON-path field extraction from the free-form props payload
    (get_json_object stays JVM-side) aggregated per event type —
    exact BIGINT sums."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_mad_outliers(spark, sf_dir):
    from iotstream.ext.analytics import mad_outliers

    return mad_outliers(_sensor(spark, sf_dir))


def q_props_variant(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured props: parse once into
    the binary VARIANT encoding, then typed variant_get extraction —
    the modern replacement for repeated string-JSON reparsing (the
    parse cost is paid once per row, fields decode lazily). Oracle via
    DuckDB's JSON operators on the same payload."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.try_parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count_distinct(F.col("k")).alias("n_distinct_k"),
            F.min("k").alias("min_k"),
        )
    )


def q_neardup_editdist(spark, sf_dir):
    return xdedup.neardup_editdist(load_table(spark, sf_dir, "documents"))


def q_multimodal_resize(spark, sf_dir):
    """Aspect-preserving resize planning over the deterministic
    fake-decoded dimensions — metadata-only codegen expressions, so the
    whole decode→resize chain is oracle-checkable (byte-based fake
    codec; the oracle recomputes dims from strlen(text))."""
    docs = load_table(spark, sf_dir, "documents")
    return resize_media(decode_media(attach_media(docs), fake=True))


def q_multimodal_features(spark, sf_dir):
    """Arrow-batched byte-histogram features per payload (the real
    feature-extract slot; engine-side numpy). The declared projection
    posexplodes the 16-bin array to (doc_id, bin, feature) scalar rows
    so the driver can hash it; the oracle recomputes the histogram from
    the UTF-8 payload bytes (hex-nibble unnest) with the kernel's
    half-up 6-decimal rounding."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_media(docs)).select(
        "doc_id", F.posexplode("features").alias("bin", "feature")
    )


def q_multimodal_frame_sample(spark, sf_dir):
    """Frame sampling (every 4th frame index) over the deterministic
    fake-decoded n_frames — sequence + HOF filter + explode, no UDF, so
    the decode→frame-sample chain is oracle-checkable like resize
    (byte-based fake codec; n_frames from strlen(text))."""
    from iotstream.ext.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(decode_media(attach_media(docs), fake=True))


def q_pydatasource_sensor(spark, sf_dir):
    """S1 on the Spark 4 Python DataSource API: the registered
    'sensorgen' source, partition-sharded with range-filter pushdown
    into the source (PushedFilters reaches the BatchScan). Emits the
    exact rows of synthetic_sensor_events — same oracle."""
    from iotstream.sources.pydatasource import register

    use_utc(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    return (
        spark.read.format("sensorgen")
        .option("n", "1000")
        .load()
        .select(
            "loop",
            "id",
            "messageId",
            "timestamp",
            F.col("metrics.temperature").alias("temperature"),
            F.col("metrics.humidity").alias("humidity"),
        )
    )


def q_trending_event_types(spark, sf_dir):
    """Top-3 event types per day by volume — windowed rank over a
    pre-aggregated (day, type) frame: the corpus-sized work is one
    map-combined groupBy; the rank window runs on day×type rows."""
    from pyspark.sql.window import Window

    use_utc(spark)
    from iotstream.schemas import event_time_only

    ev = event_time_only(load_table(spark, sf_dir, "events"))
    daily = (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("day").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        daily.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


def q_rolling_active_users(spark, sf_dir):
    """Trailing-7-day distinct active users, computed per day. Windowed
    COUNT(DISTINCT) doesn't exist in any engine; the distributed
    formulation is: distinct (day, user) pairs → explode each pair to
    the 7 report days it supports → count distinct per report day.
    Work scales with days×users, never events; no join at all — the
    explode is a narrow map and the one shuffle partial-aggregates
    map-side. A report day appears iff ≥1 user was active in its
    trailing week (days past the last activity day included)."""
    use_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    reported = pairs.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("report_day"),
        "user_id",
    )
    return reported.groupBy("report_day").agg(
        F.count_distinct("user_id").alias("active_users_7d")
    )


def q_revenue_share(spark, sf_dir):
    """Percent-of-total: each nation's share of its region's revenue —
    partition-wide window aggregate over the already-aggregated
    (region, nation) frame; exact decimal sums, one float division.

    Zero-divisor contract (the same class as zscore_anomaly's): a
    region whose orders all total 0 (fully-comped
    market — the zerodiv fixture's ZEROLAND chain) has an UNDEFINED
    share, not a crash. Spark's ANSI decimal division THROWS on a zero
    divisor where DuckDB yields NULL; try_divide is exactly DuckDB's
    null-on-zero semantic, so both engines emit share=NULL for the
    zero-total region."""
    from pyspark.sql.window import Window

    agg = xjoins.enrichment_join(spark, sf_dir)
    region_total = F.sum(F.col("revenue").cast("decimal(18,4)")).over(
        Window.partitionBy("r_name")
    )
    return agg.select(
        "r_name",
        "n_name",
        "revenue",
        F.round(
            F.try_divide(F.col("revenue").cast("decimal(18,4)"), region_total),
            6,
        )
        .cast("double")
        .alias("region_share"),
    )


def q_gopher_quality(spark, sf_dir):
    """Gopher-style rules gate (word-count band, mean word length,
    duplicate-token fraction, symbol ratio → composite keep)."""
    return xtext.gopher_quality(load_table(spark, sf_dir, "documents"))


def q_temp_humidity_corr(spark, sf_dir):
    """Per-sensor Pearson correlation computed FROM EXACT INTEGER SUMS
    (n, Σx, Σy, Σxy, Σx², Σy² are BIGINT — order-independent), with the
    float formula applied once per group at the end. Unlike corr(),
    whose streaming float accumulation is partition-order-sensitive,
    this is bit-identical on any cluster layout AND cross-engine. One
    map-side-combined shuffle."""
    sensor = _sensor(spark, sf_dir)
    t = F.col("metrics.temperature")
    h = F.col("metrics.humidity")
    agg = sensor.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).alias("sx"),
        F.sum(h).alias("sy"),
        F.sum(t * h).alias("sxy"),
        F.sum(t * t).alias("sxx"),
        F.sum(h * h).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return agg.select(
        "id",
        "n",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("corr_th"),
    )


def q_temp_histogram(spark, sf_dir):
    """Fixed-width histogram (10-degree bins) over all readings —
    integer-division binning, one tiny shuffle (≤ ~15 bins)."""
    sensor = _sensor(spark, sf_dir)
    return (
        sensor.select(
            F.expr("metrics.temperature div 10").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_readings"))
    )


try:  # transformWithStateInPandas ships state over protobuf; the
    # container has no google.protobuf, so the query is declared only
    # where the dependency exists (operator + test are still in-repo).
    import google.protobuf  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False


def q_streaming_status_change(spark, sf_dir):
    """T5 EXT on the Spark 4 state API (transformWithStateInPandas):
    per-sensor valid↔invalid edge detector, drained availableNow;
    emitted transitions are oracle-checked against the batch lag()
    formulation of the same predicate."""
    from iotstream.streaming import drain
    from iotstream.streaming.stateful import status_changes

    sensor = sensorize(load_events_stream(spark, sf_dir))
    return drain(spark, status_changes(sensor), "append")


def q_status_change(spark, sf_dir):
    """T5 semantics with a driver verdict despite the protobuf gate:
    batch lag() twin of the transformWithStateInPandas status-change
    detector (iotstream/streaming/stateful.py StatusChangeProcessor) —
    per-sensor valid↔invalid transitions in (ts, messageId) order, the
    first reading per sensor emitted with NULL prev_status. Identical
    output contract to the streaming variant; one window pass keyed on
    the sensor id."""
    from pyspark.sql.window import Window

    from iotstream.schemas import event_time_only

    flat = event_time_only(_sensor(spark, sf_dir)).select(
        "id",
        "ts",
        "messageId",
        F.col("metrics.temperature").alias("temperature"),
        F.col("metrics.humidity").alias("humidity"),
    )
    # NULL metrics make is_valid NULL, so `when` falls through: "valid"
    status = F.when(
        ~is_valid(F.col("temperature"), F.col("humidity")), F.lit("invalid")
    ).otherwise(F.lit("valid"))
    w = Window.partitionBy("id").orderBy("ts", "messageId")
    edges = (
        flat.withColumn("status", status)
        .withColumn("prev_status", F.lag("status").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("status"))
        )
    )
    return edges.select("id", "ts", "messageId", "prev_status", "status")


def q_ewma_smooth(spark, sf_dir):
    """mapInPandas recursive smoother, oracle-checked: the DuckDB twin
    replays the identical IEEE recursion via a recursive CTE (pandas
    ewm(adjust=False) normalizes by 0.8+0.2 == exactly 1.0, so both
    engines compute 0.8*prev + 0.2*x in the same order); exact pandas
    parity also covered in pytest."""
    from iotstream.ext.temporal import ewma_smooth

    return ewma_smooth(_sensor(spark, sf_dir))


def q_time_weighted_avg(spark, sf_dir):
    """TimescaleDB time_weight('locf')-style per-sensor per-day
    time-weighted average over irregular samples — the lead() window
    and the groupBy share one (id, bucket) shuffle; exact integer-µs
    weights, one final float division."""
    from iotstream.ext.temporal import time_weighted_avg

    return time_weighted_avg(_valid(spark, sf_dir))


def q_interpolate_linear(spark, sf_dir):
    """Hypertable gap-fill with LINEAR interpolation (TimescaleDB
    time_bucket_gapfill + interpolate) — gapfill_locf's smoother
    sibling; skeleton from each sensor's own span, both IGNORE-NULLS
    windows share one (id, bucket) sort."""
    from iotstream.ext.temporal import interpolate_linear

    return interpolate_linear(_valid(spark, sf_dir), bucket_width="60 minutes")


def q_rate_of_change(spark, sf_dir):
    """PromQL rate()-style per-sensor per-day change rate scaled to
    per-hour units — min_by/max_by over the event-order struct, a
    single HashAggregate (no window sort)."""
    from iotstream.ext.temporal import rate_of_change

    return rate_of_change(_valid(spark, sf_dir))


def q_scd2_history(spark, sf_dir):
    """SCD type-2 build from the event log: per-user status intervals
    [valid_from, valid_to) opened only on actual event_type changes —
    lag change-detection + lead interval-close, both windows on the
    user_id partitioning."""
    from iotstream.ext.analytics import scd2_history

    use_utc(spark)
    return scd2_history(load_table(spark, sf_dir, "events"))


def q_rfm_segments(spark, sf_dir):
    """RFM segmentation: per-user recency/frequency/exact-decimal
    monetary quartiled into a 3-digit segment (4=best) — ntile windows
    run over the already-aggregated per-user frame only."""
    from iotstream.ext.analytics import rfm_segments

    use_utc(spark)
    return rfm_segments(load_table(spark, sf_dir, "events"))


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (exact-rational tf·N/df variant,
    no log): corpus shuffles once for tf; vocabulary-sized df and the
    1-row N broadcast back; final top-k is one per-doc window."""
    from iotstream.ext.text import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def q_streaming_dedup_wm(spark, sf_dir):
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark —
    the production path where state for a key can be dropped once the
    watermark passes it (plain dropDuplicates keeps ALL keys forever).
    Fixture event_ids are unique, so the drained result equals batch
    DISTINCT (the oracle) regardless of which duplicate survives.

    STRICT epoch contract: like the stream-stream join — and unlike
    windowed/session aggs, whose eviction keys on window END — this
    operator's late-input filter tests ``ts <= watermark`` against the
    initial epoch-0 watermark, so an epoch-EXACT row is silently
    dropped (schemas.positive_event_time)."""
    from iotstream.schemas import positive_event_time
    from iotstream.streaming import drain

    deduped = (
        # watermarked dedup: STRICTLY-positive event-time domain (the
        # late-input filter drops ts <= the epoch-0 watermark)
        positive_event_time(load_events_stream(spark, sf_dir))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return drain(spark, deduped, "append")


# ------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship(spark, DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query by name, each with its ``oracle_sql()`` twin.

    The order is the bench sweep's order; it stays fixed so per-query
    timings compare across changes."""
    return {
        # Cheap batch queries lead, so the first one pays JVM warm-up.
        "json_parse": q_json_parse,
        "distinct_users": q_distinct_users,
        "high_value_purchasers": q_high_value_purchasers,
        "top_events": q_top_events,
        "word_counts": q_word_counts,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "dq_report": q_dq_report,
        "dataset_split": q_dataset_split,
        "stratified_sample": q_stratified_sample,
        "doc_chunks": q_doc_chunks,
        "ngram_counts": q_ngram_counts,
        "length_percentiles": q_length_percentiles,
        "scrub_numbers": q_scrub_numbers,
        "corpus_curate": q_corpus_curate,
        "scrub_repetition": q_scrub_repetition,
        "df_token_filter": q_df_token_filter,
        "decontaminate": q_decontaminate,
        "sessionize": q_sessionize,
        "salted_join": q_salted_join,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "scd2_history": q_scd2_history,
        "window_min": q_window_min,
        "hopping_window_max": q_hopping_window_max,
        "rolling_avg": q_rolling_avg,
        "window_avg": q_window_avg,
        "asof_join": q_asof_join,
        "dedup_exact": q_dedup_exact,
        "neardup_editdist": q_neardup_editdist,
        "similarity_topk": q_similarity_topk,
        "neardup_embedding": q_neardup_embedding,
        "similarity_topk_lsh": q_similarity_topk_lsh,
        "similarity_topk_ivf": q_similarity_topk_ivf,
        "neardup_embedding_lsh": q_neardup_embedding_lsh,
        "multimodal_ingest": q_multimodal_ingest,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_features": q_multimodal_features,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        "multimodal_resize": q_multimodal_resize,
        "streaming_window_agg": q_streaming_window_agg,
        "streaming_dedup": q_streaming_dedup,
        "streaming_dedup_wm": q_streaming_dedup_wm,
        "streaming_enrich": q_streaming_enrich,
        "streaming_interval_join": q_streaming_interval_join,
        "streaming_sessionize": q_streaming_sessionize,
        "stateful_quality_monitor": q_stateful_quality_monitor,
        "dedup_report": q_dedup_report,
        "filter_validity": q_filter_validity,
        "window_max": q_window_max,
        "throughput_count": q_throughput_count,
        "ksql_max_table": q_ksql_max_table,
        "json_roundtrip": q_json_roundtrip,
        "clean_stream_json": q_clean_stream_json,
        "raw_archive_projection": q_raw_archive_projection,
        "synthetic_sensor_stream": q_synthetic_sensor_stream,
        "pydatasource_sensor": q_pydatasource_sensor,
        "props_extract": q_props_extract,
        "props_variant": q_props_variant,
        "mad_outliers": q_mad_outliers,
        "temp_histogram": q_temp_histogram,
        "temp_humidity_corr": q_temp_humidity_corr,
        "rolling_5min_count": q_rolling_5min_count,
        "rolling_active_users": q_rolling_active_users,
        "trending_event_types": q_trending_event_types,
        "continuous_rollup": q_continuous_rollup,
        "revenue_rollup": q_revenue_rollup,
        "revenue_share": q_revenue_share,
        "revenue_forecast": q_revenue_forecast,
        "dormant_customers": q_dormant_customers,
        "large_quantity_orders": q_large_quantity_orders,
        "local_supplier_volume": q_local_supplier_volume,
        "shipping_priority": q_shipping_priority,
        "priority_line_counts": xtpch.priority_line_counts,
        "pricing_summary": q_pricing_summary,
        "topk_per_group": q_topk_per_group,
        "intersect_users": q_intersect_users,
        "enrichment_join": q_enrichment_join,
        "flagship": q_flagship,
        "lm_bigram_xent": q_lm_bigram_xent,
        "gopher_quality": q_gopher_quality,
        "embedding_label_stats": q_embedding_label_stats,
        "tokenize_encode": q_tokenize_encode,
        "sequence_pack": q_sequence_pack,
        "vocab_build": q_vocab_build,
        "rfm_segments": q_rfm_segments,
        "user_value_deciles": q_user_value_deciles,
        "quantile_sketch": q_quantile_sketch,
        "hll_distinct": q_hll_distinct,
        "simhash": q_simhash,
        "neardup_jaccard": q_neardup_jaccard,
        "neardup_minhash": q_neardup_minhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_lsh": q_dedup_clusters_lsh,
        "interval_join": q_interval_join,
        "market_share": xtpch.market_share,
        "product_profit": xtpch.product_profit,
        "cross_nation_volume": xtpch.cross_nation_volume,
        "returned_item_revenue": xtpch.returned_item_revenue,
        "order_priority_check": xtpch.order_priority_check,
        "customer_order_distribution": xtpch.customer_order_distribution,
        "promo_revenue": xtpch.promo_revenue,
        "top_supplier": xtpch.top_supplier,
        "parts_supplier_count": xtpch.parts_supplier_count,
        "small_qty_revenue": xtpch.small_qty_revenue,
        "disjunctive_revenue": xtpch.disjunctive_revenue,
        "excess_supply_suppliers": xtpch.excess_supply_suppliers,
        "waiting_supplier_blame": xtpch.waiting_supplier_blame,
        "min_cost_supplier": xtpch.min_cost_supplier,
        "important_stock": xtpch.important_stock,
        "interpolate_linear": q_interpolate_linear,
        "gapfill_locf": q_gapfill_locf,
        "time_weighted_avg": q_time_weighted_avg,
        "latest_reading": q_latest_reading,
        "candlestick": q_candlestick,
        "temp_delta": q_temp_delta,
        "rate_of_change": q_rate_of_change,
        "zscore_anomaly": q_zscore_anomaly,
        "activity_reconcile": q_activity_reconcile,
        "tfidf_top_terms": q_tfidf_top_terms,
        "cube_docs": q_cube_docs,
        "pivot_event_types": q_pivot_event_types,
        "grouping_sets_volume": q_grouping_sets_volume,
        "status_change": q_status_change,
        "decontaminate_ngram": q_decontaminate_ngram,
        "ewma_smooth": q_ewma_smooth,
        **(
            {"streaming_status_change": q_streaming_status_change}
            if _HAS_PROTOBUF
            else {}
        ),
    }


#: perfbench/workloads.py calls this name; it is the same dict.
_declared_queries = queries


_SENSOR_FLAT = (
    'SELECT id, "messageId", "timestamp", temperature, humidity FROM sensor'
)

_CLUSTERS_ORACLE = """
            WITH RECURSIVE
            d AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
            t AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
            idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t),
            sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
                   FROM idx),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            jp AS (SELECT doc_a, doc_b
                   FROM inter JOIN sz sa ON sa.doc_id = doc_a
                              JOIN sz sb ON sb.doc_id = doc_b
                   WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
            e AS (SELECT doc_a AS a, doc_b AS b FROM jp
                  UNION SELECT doc_b, doc_a FROM jp),
            reach(node, label) AS (
              SELECT doc_id, doc_id FROM d
              UNION
              SELECT e.b, r.label FROM reach r JOIN e ON r.node = e.a)
            SELECT node AS doc_id, min(label) AS cluster_id
            FROM reach GROUP BY node"""

# Uncapped twin for the MinHash+LSH path: verified-LSH pairs equal the
# exact J>=0.5 pair set whenever banding recall is 1, which holds
# deterministically on this corpus (dups all sit at J>=0.89; verified
# missed=0 at sf0.001/0.01/0.1 over the FULL corpus, fixed xxhash64
# seeds make it reproducible).
_JACCARD_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE doc_id < 2000),
idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t),
sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM idx),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM j WHERE jaccard >= 0.5
"""

_JACCARD_ORACLE_UNCAPPED = _JACCARD_ORACLE.replace(
    "FROM documents\n           WHERE doc_id < 2000", "FROM documents"
)
# str.replace is a silent no-op on mismatch: a whitespace-only edit to
# _JACCARD_ORACLE would leave the minhash oracle capped, coinciding at
# sf0.001/0.01 (all doc_id < 2000) and failing only at larger SFs.
assert "doc_id < 2000" not in _JACCARD_ORACLE_UNCAPPED, (
    "uncapped-jaccard derivation no longer matches _JACCARD_ORACLE"
)

_COSINE = (
    "list_dot_product(v, qv) / "
    "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))"
)

#: Usable-direction predicate, the oracle twin of
#: ``similarity.drop_null_vectors``: a NULL
#: vector, a vector with a NULL/NaN/±Inf component, or the all-zero
#: vector matches nothing — NaN similarities rank nondeterministically
#: and ‖0‖ divides by zero. Inlined verbatim at the two plain-string
#: oracle sites (dedup_report, embedding_label_stats).
_VALID_EMB = (
    "embedding IS NOT NULL AND len(list_filter(embedding, "
    "x -> x IS NULL OR isnan(x) OR isinf(x))) = 0 AND "
    "list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[])) > 0"
)

_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE {_VALID_EMB}),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
s AS (SELECT query_id, vec_id, {_COSINE} AS cosine
      FROM e, q WHERE vec_id <> query_id),
r AS (SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank FROM r WHERE rank <= 5
"""

_NEARDUP_EMB_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE {_VALID_EMB}),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.4
"""

_STOP_FILTER = "list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'to'))"

_DEC = "CAST({x} AS DECIMAL(12,4))"

#: Oracle twin of schemas.finite_lineitem — the TABLE-LEVEL finite-
#: measures contract: every exact-DECIMAL lineitem consumer excludes
#: rows with a non-finite value in ANY of the four float measures,
#: uniformly, instead of guarding only the columns each query happens
#: to cast. NULLs still flow (SUM skips them identically).
_FINITE_LI = (
    "(l_quantity IS NULL OR isfinite(l_quantity))"
    " AND (l_extendedprice IS NULL OR isfinite(l_extendedprice))"
    " AND (l_discount IS NULL OR isfinite(l_discount))"
    " AND (l_tax IS NULL OR isfinite(l_tax))"
)


def oracle_sql() -> dict[str, str]:
    cte = sensor_cte()
    span = (
        "CAST(floor(epoch(max(ts))) AS BIGINT) - "
        "CAST(floor(epoch(min(ts))) AS BIGINT)"
    )
    d = lambda x: _DEC.format(x=x)  # noqa: E731
    disc = f"{d('l_extendedprice')} * ({d(1)} - {d('l_discount')})"
    # DuckDB narrows the disc product to DECIMAL(18,8) (int64), so the
    # tax multiply overflows on extreme-but-valid prices the schema
    # admits (9e6 · 0.96 · 1.01 > int64 at scale 12). Widening disc
    # to (26,8) first makes the product
    # DECIMAL(38,12), exactly Spark's (12,4)-input result type, so the
    # twins stay bit-equal instead of one engine raising.
    charge = f"CAST({disc} AS DECIMAL(26,8)) * ({d(1)} + {d('l_tax')})"
    return {
        "flagship": _window_oracle("max", "min", "avg"),
        "filter_validity": (
            f"WITH sensor AS ({cte}) {_SENSOR_FLAT} WHERE {VALID_SQL}"
        ),
        "window_max": _window_oracle("max"),
        "window_min": _window_oracle("min"),
        "window_avg": _window_oracle("avg"),
        "hopping_window_max": f"""
            WITH sensor AS ({cte}),
            h AS (SELECT id, temperature,
                         time_bucket(INTERVAL '1 minute', ts)
                             - k * INTERVAL '1 minute' AS window_start
                  FROM sensor, unnest([0, 1]) AS u(k)
                  WHERE {VALID_SQL} AND ts IS NOT NULL)
            SELECT window_start,
                   window_start + INTERVAL '2 minutes' AS window_end,
                   id, max(temperature) AS max_temperature
            FROM h GROUP BY 1, 2, 3""",
        "rolling_avg": f"""
            WITH sensor AS ({cte})
            SELECT id, "messageId", temperature,
                   round(avg(temperature) OVER (
                       PARTITION BY id ORDER BY ts, "messageId"
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
                       AS rolling_avg_temperature
            FROM sensor WHERE {VALID_SQL} AND ts IS NOT NULL""",
        "json_parse": (
            "SELECT event_id, CASE WHEN json_valid(props) THEN "
            "CAST(json_extract(props, '$.k') AS BIGINT) END AS k "
            "FROM events"
        ),
        "json_roundtrip": f"WITH sensor AS ({cte}) {_SENSOR_FLAT}",
        "clean_stream_json": f"""
            WITH sensor AS ({cte})
            SELECT CAST(json_merge_patch('{{}}', to_json(struct_pack(
                id := id,
                "messageId" := "messageId",
                "timestamp" := "timestamp",
                metrics := struct_pack(temperature := temperature,
                                       humidity := humidity)))) AS VARCHAR)
                AS value
            FROM sensor WHERE {VALID_SQL}""",
        "raw_archive_projection": f"""
            WITH sensor AS ({cte})
            SELECT "messageId" AS "_messageId", id AS "sensorId",
                   "timestamp", temperature, humidity
            FROM sensor""",
        "throughput_count": f"""
            WITH sensor AS ({cte})
            SELECT id, count(*) AS n_events, {span} AS span_seconds,
                   round(CAST(count(*) AS DOUBLE) /
                         CAST(greatest({span}, 1) AS DOUBLE), 6) AS msgs_per_sec
            FROM sensor GROUP BY id""",
        "streaming_window_agg": _window_oracle(
            "max", "min", "avg",
            # watermarked op: Spark watermarks start at epoch 0, so the
            # engine declares ts >= 1970 (schemas.nonnegative_event_time)
            extra_where=" AND ts >= TIMESTAMP '1970-01-01'",
        ),
        "stateful_quality_monitor": f"""
            -- total order (ts, messageId): duplicate timestamps within
            -- a sensor leave run lengths order-dependent without the
            -- unique tie-break (copied rows can share ts with their
            -- originals) — the engine's pandas sort uses the same
            -- two keys
            WITH sensor AS ({cte}),
            flagged AS (
              SELECT id, ts, "messageId",
                     CASE WHEN NOT ({VALID_SQL}) THEN 1 ELSE 0 END AS inv,
                     row_number() OVER (PARTITION BY id
                                        ORDER BY ts, "messageId") AS rn
              FROM sensor),
            islands AS (
              SELECT id, inv,
                     rn - row_number() OVER (PARTITION BY id, inv
                                             ORDER BY ts, "messageId") AS grp
              FROM flagged),
            runs AS (
              SELECT id, count(*) AS run_len
              FROM islands WHERE inv = 1 GROUP BY id, grp),
            max_runs AS (SELECT id, max(run_len) AS max_run FROM runs GROUP BY id),
            totals AS (
              SELECT id, count(*) AS n_total,
                     CAST(sum(inv) AS BIGINT) AS n_invalid
              FROM flagged GROUP BY id)
            SELECT t.id, t.n_total, t.n_invalid,
                   coalesce(m.max_run, 0) AS max_invalid_run
            FROM totals t LEFT JOIN max_runs m ON t.id = m.id""",
        "sessionize": """
            WITH base AS (
              SELECT user_id, event_id, ts,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ep
              FROM events WHERE ts IS NOT NULL),
            lagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ep) OVER w IS NULL
                            OR ep - lag(ep) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            ids AS (
              SELECT user_id, ts,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM lagged)
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM ids GROUP BY user_id, session_id""",
        "streaming_sessionize": """
            -- session_window splits on the FULL-precision gap
            -- (microseconds), not floored seconds: epoch_us parity
            -- with Spark's internal long-micros clock. Windows merge
            -- when they touch (inclusive overlap), so a new session
            -- needs gap STRICTLY greater than the threshold —
            -- pinned by test_session_window_microsecond_boundary.
            -- watermarked operator: the engine declares ts >= epoch
            -- (schemas.nonnegative_event_time — Spark's watermark
            -- evicts sessions that end at or before 1970-01-01)
            WITH base AS (
              SELECT user_id, event_id, ts, epoch_us(ts) AS ep
              FROM events
              WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01'),
            lagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ep) OVER w IS NULL
                            OR ep - lag(ep) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            ids AS (
              SELECT user_id, ts,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM lagged)
            SELECT min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   user_id,
                   count(*) AS n_events
            FROM ids GROUP BY user_id, session_id""",
        "ksql_max_table": _window_oracle("max"),
        "top_events": """
            SELECT event_id, user_id, event_type, value FROM events
            ORDER BY value DESC, event_id LIMIT 100""",
        "distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type""",
        "high_value_purchasers": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 320
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND value > 320""",
        "synthetic_sensor_stream": f"""
            WITH l AS (SELECT unnest(range(1, 1001)) AS loop),
            s AS (SELECT loop,
                   'sensor' || CAST(loop % 10 AS VARCHAR) || 'rcc-1' AS id,
                   CAST(1704067200 + loop * 2 AS VARCHAR) AS ts_str,
                   {_TEMP} AS temperature, {_HUM} AS humidity
                  FROM l)
            SELECT loop, id, id || CAST(loop AS VARCHAR) AS "messageId",
                   ts_str AS "timestamp", temperature, humidity
            FROM s""",
        "pydatasource_sensor": f"""
            WITH l AS (SELECT unnest(range(1, 1001)) AS loop),
            s AS (SELECT loop,
                   'sensor' || CAST(loop % 10 AS VARCHAR) || 'rcc-1' AS id,
                   CAST(1704067200 + loop * 2 AS VARCHAR) AS ts_str,
                   {_TEMP} AS temperature, {_HUM} AS humidity
                  FROM l)
            SELECT loop, id, id || CAST(loop AS VARCHAR) AS "messageId",
                   ts_str AS "timestamp", temperature, humidity
            FROM s""",
        "dedup_exact": (
            "SELECT text, min(doc_id) AS doc_id, count(*) AS n_copies "
            "FROM documents GROUP BY text"
        ),
        "word_counts": (
            "SELECT tok AS word, count(*) AS cnt FROM (SELECT "
            "unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok"
        ),
        "token_stats": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_runs,
                   n_chars,
                   round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6)
                       AS avg_token_len
            FROM documents""",
        "quality_score": f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   CAST(len({_STOP_FILTER}) AS BIGINT) AS stop_hits,
                   round(CAST(len({_STOP_FILTER}) AS DOUBLE) / len(w), 6) AS stop_ratio,
                   round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) *
                         (1.0 - CAST(len({_STOP_FILTER}) AS DOUBLE) / len(w)), 6)
                       AS quality
            FROM t""",
        "lang_id": """
            SELECT doc_id, lang,
                   CASE WHEN list_contains(string_split(text, ' '), 'the')
                          OR list_contains(string_split(text, ' '), 'a')
                        THEN 'en' ELSE 'unknown' END AS predicted_lang
            FROM documents""",
        "doc_fingerprint": "SELECT doc_id, md5(text) AS fingerprint FROM documents",
        "dq_report": """
            SELECT 'null_user_id' AS rule,
                   CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT)
                       AS n_violations FROM events
            UNION ALL
            SELECT 'value_out_of_range',
                   count(*) FILTER (WHERE value < 0 OR value > 340) FROM events
            UNION ALL
            SELECT 'unknown_event_type',
                   count(*) FILTER (WHERE event_type NOT IN
                       ('click','view','purchase','error','signup')) FROM events
            UNION ALL
            SELECT 'stale_timestamp',
                   count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-01'
                                       OR ts >= TIMESTAMP '2027-01-01') FROM events
            UNION ALL
            SELECT 'duplicate_event_id',
                   count(*) - count(DISTINCT event_id) FROM events""",
        "dedup_report": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
            canon AS (SELECT text, min(doc_id) AS canonical_id FROM d
                      WHERE text IS NOT NULL GROUP BY text),
            -- NULL-text docs: LEFT JOIN misses (unknown content is not
            -- EQUAL to other unknown content), each is its own
            -- singleton — canonical_id = itself, is_exact_dup = false
            base AS (SELECT d.doc_id,
                            coalesce(c.canonical_id, d.doc_id) AS canonical_id,
                            d.doc_id <> coalesce(c.canonical_id, d.doc_id)
                                AS is_exact_dup
                     FROM d LEFT JOIN canon c ON d.text = c.text),
            t AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
            idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM t),
            sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
                   FROM idx),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            jp AS (SELECT doc_a, doc_b
                   FROM inter JOIN sz sa ON sa.doc_id = doc_a
                              JOIN sz sb ON sb.doc_id = doc_b
                   WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
            nd AS (SELECT DISTINCT doc_id FROM
                   (SELECT doc_a AS doc_id FROM jp
                    UNION ALL SELECT doc_b FROM jp)),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings
                  -- _VALID_EMB inlined (plain string can't interpolate)
                  WHERE vec_id < 2000 AND embedding IS NOT NULL
                    AND len(list_filter(embedding,
                            x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[])) > 0),
            ep AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM e a JOIN e b ON a.vec_id < b.vec_id
                   WHERE list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v))) >= 0.4),
            ed AS (SELECT DISTINCT id FROM
                   (SELECT id_a AS id FROM ep UNION ALL SELECT id_b FROM ep))
            SELECT b.doc_id, b.canonical_id, b.is_exact_dup,
                   nd.doc_id IS NOT NULL AS has_near_dup,
                   ed.id IS NOT NULL AS has_embed_dup
            FROM base b
            LEFT JOIN nd ON b.doc_id = nd.doc_id
            LEFT JOIN ed ON b.doc_id = ed.id""",
        "dedup_clusters": _CLUSTERS_ORACLE,
        # verified-LSH pairs == exact J>=0.5 pairs on this corpus
        # (banding recall 1 at the fixture's J>=0.89 dup density) —
        # same reachability closure grades both feeds.
        "dedup_clusters_lsh": _CLUSTERS_ORACLE,
        "dataset_split": """
            WITH b AS (SELECT doc_id, lang,
                              ((doc_id % 1000003) * 2654435761) % 1000 AS bucket
                       FROM documents)
            SELECT doc_id, lang, bucket,
                   CASE WHEN bucket < 900 THEN 'train'
                        WHEN bucket < 950 THEN 'validation'
                        ELSE 'test' END AS split
            FROM b""",
        "stratified_sample": """
            SELECT doc_id, lang, source, n_chars,
                   ((doc_id % 1000003) * 2654435761) % 1000 AS bucket
            FROM documents
            WHERE ((doc_id % 1000003) * 2654435761) % 1000 < 100""",
        "doc_chunks": """
            WITH i AS (SELECT doc_id, text,
                              unnest(range(0, (n_chars - 1) // 90 + 1)) AS chunk_id
                       FROM documents)
            SELECT doc_id, chunk_id,
                   substring(text, CAST(chunk_id * 90 + 1 AS INT), 120) AS chunk_text,
                   CAST(length(substring(text, CAST(chunk_id * 90 + 1 AS INT), 120))
                        AS BIGINT) AS chunk_len
            FROM i""",
        "vocab_build": """
            WITH wc AS (SELECT tok AS word, count(*) AS cnt
                        FROM (SELECT unnest(string_split(text, ' ')) AS tok
                              FROM documents)
                        GROUP BY tok)
            SELECT word, cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT)
                       AS token_id
            FROM wc WHERE cnt >= 5""",
        "sequence_pack": """
            WITH n AS (SELECT doc_id,
                              CAST(len(string_split(text, ' ')) AS BIGINT)
                                  AS n_tokens
                       FROM documents),
            o AS (SELECT doc_id, n_tokens,
                         CAST(coalesce(sum(n_tokens) OVER (
                             ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT)
                             AS token_offset
                  FROM n)
            SELECT doc_id, n_tokens, token_offset,
                   CAST(floor(token_offset / 512) AS BIGINT) AS chunk_first,
                   CAST(floor((token_offset + n_tokens - 1) / 512) AS BIGINT)
                       AS chunk_last
            FROM o""",
        "tokenize_encode": """
            WITH wc AS (SELECT tok AS word, count(*) AS cnt
                        FROM (SELECT unnest(string_split(text, ' ')) AS tok
                              FROM documents)
                        GROUP BY tok),
            v AS (SELECT word,
                         CAST(row_number() OVER (ORDER BY cnt DESC, word)
                              AS BIGINT) AS token_id
                  FROM wc WHERE cnt >= 5),
            t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            p AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t),
            e AS (SELECT p.doc_id, p.i, coalesce(v.token_id, 0) AS tid
                  FROM p LEFT JOIN v ON p.w[p.i] = v.word)
            SELECT doc_id,
                   string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY i)
                       AS token_ids_str,
                   count(*) AS n_tokens,
                   CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_oov
            FROM e GROUP BY doc_id""",
        # anchored on documents with a LEFT JOIN so NULL-text docs pass
        # through as (NULL, NULL) — a scrubber is a map, every input
        # doc comes out; the unnest-based CTE silently loses them
        "scrub_repetition": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents WHERE text IS NOT NULL),
            i AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t),
            k AS (SELECT doc_id, i, w[i] AS tok, len(w) AS n
                  FROM i WHERE i = 1 OR w[i] <> w[i - 1]),
            agg AS (SELECT doc_id,
                           string_agg(tok, ' ' ORDER BY i) AS text,
                           any_value(n) - count(*) AS n_removed
                    FROM k GROUP BY doc_id)
            SELECT d.doc_id, a.text, a.n_removed
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
        "ngram_counts": """
            WITH t AS (SELECT string_split(text, ' ') AS w FROM documents
                       WHERE len(string_split(text, ' ')) >= 2),
            idx AS (SELECT w, unnest(range(1, len(w))) AS i FROM t),
            g AS (SELECT w[i] || ' ' || w[i+1] AS ngram FROM idx)
            SELECT ngram, count(*) AS cnt FROM g
            GROUP BY ngram HAVING count(*) >= 5""",
        "lm_bigram_xent": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents
                       WHERE len(string_split(text, ' ')) >= 2),
            idx AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t),
            big AS (SELECT doc_id, w[i] AS ctx,
                           w[i] || ' ' || w[i+1] AS ngram
                    FROM idx),
            c2 AS (SELECT ngram, count(*) AS c2 FROM big GROUP BY ngram),
            c1 AS (SELECT ctx, count(*) AS c1 FROM big GROUP BY ctx),
            v AS (SELECT count(DISTINCT tok) AS v
                  FROM (SELECT unnest(string_split(text, ' ')) AS tok
                        FROM documents)),
            s AS (SELECT b.doc_id,
                         -ln(CAST(c2.c2 + 1 AS DOUBLE)
                             / CAST(c1.c1 + v.v AS DOUBLE)) AS nll
                  FROM big b
                  JOIN c2 USING (ngram)
                  JOIN c1 USING (ctx)
                  CROSS JOIN v)
            SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS xent
            FROM s GROUP BY doc_id""",
        "length_percentiles": """
            SELECT lang, count(*) AS n_docs,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
                   round(quantile_cont(n_chars, 0.99), 6) AS p99_chars,
                   round(avg(n_chars), 6) AS avg_chars
            FROM documents GROUP BY lang""",
        "scrub_numbers": (
            "SELECT event_id, "
            "regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed "
            "FROM events"
        ),
        "corpus_curate": f"""
            WITH canon AS (SELECT min(doc_id) AS doc_id FROM documents
                           GROUP BY text),
            blocked AS (SELECT DISTINCT md5(text) AS fp FROM documents
                        WHERE doc_id % 97 = 0),
            tq AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            q AS (SELECT doc_id,
                         round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) *
                               (1.0 - CAST(len({_STOP_FILTER}) AS DOUBLE) / len(w)),
                               6) AS quality
                  FROM tq),
            b AS (SELECT doc_id,
                         ((doc_id % 1000003) * 2654435761) % 1000 AS bucket
                  FROM documents)
            SELECT d.doc_id, d.lang, d.source, q.quality,
                   CASE WHEN b.bucket < 900 THEN 'train'
                        WHEN b.bucket < 950 THEN 'validation'
                        ELSE 'test' END AS split
            FROM documents d
            JOIN canon USING (doc_id)
            JOIN q USING (doc_id)
            JOIN b USING (doc_id)
            WHERE md5(d.text) NOT IN (SELECT fp FROM blocked)
              AND q.quality >= 0.1""",
        "df_token_filter": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            pos AS (SELECT doc_id, i, w[i] AS tok
                    FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
                          FROM t)),
            dfc AS (SELECT tok FROM (SELECT tok, count(DISTINCT doc_id) AS df
                                     FROM pos GROUP BY tok)
                    WHERE df >= CAST(ceil(
                        (SELECT count(*) FROM documents) * 0.5) AS BIGINT)),
            kept AS (SELECT doc_id, i, tok FROM pos
                     WHERE tok NOT IN (SELECT tok FROM dfc)),
            reagg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text
                      FROM kept GROUP BY doc_id)
            SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text
            FROM documents d LEFT JOIN reagg r ON d.doc_id = r.doc_id""",
        # NOT EXISTS with an equality, not NOT IN: a NULL fingerprint
        # (NULL-text doc) must be KEPT — it matches nothing in the eval
        # set, exactly the Spark left_anti semantics — whereas NULL NOT
        # IN (...) is NULL and silently drops the row
        "decontaminate": """
            SELECT doc_id, lang, source, n_chars, md5(text) AS fingerprint
            FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM documents b
                              WHERE b.doc_id % 97 = 0
                                AND md5(b.text) = md5(d.text))""",
        "neardup_jaccard": _JACCARD_ORACLE,
        "neardup_minhash": _JACCARD_ORACLE_UNCAPPED,
        # simhash: the signatures are engine-internal, but the
        # identical-input invariant is SQL-expressible — one distinct
        # simhash per exact-dup group (Spark computes count(distinct)
        # for real; the oracle pins it at 1). Same >=3-words filter as
        # the shingle pipeline the kernel rides on.
        "simhash": """
            SELECT min(doc_id) AS doc_id,
                   count(*) AS n_docs,
                   CAST(1 AS BIGINT) AS n_distinct_simhash
            FROM documents
            WHERE len(string_split(text, ' ')) >= 3
            GROUP BY md5(text)""",
        # ANN variants pinned at provable-recall-1 configurations
        # (probe-all IVF; 64-table LSH): outputs equal the exact
        # kernel's, so they share its oracle.
        "similarity_topk_lsh": _TOPK_ORACLE,
        "similarity_topk_ivf": _TOPK_ORACLE,
        "neardup_embedding_lsh": _NEARDUP_EMB_ORACLE,
        # multimodal_decode: deterministic fake codec over the UTF-8
        # payload BYTES — strlen() is DuckDB's byte length (length() is
        # code points), matching the engine's len(payload) on any
        # multilingual corpus, not just ASCII.
        "multimodal_decode": """
            SELECT doc_id,
                   'application/x-fixture-' || source AS mime,
                   CAST(strlen(text) % 640 + 1 AS BIGINT) AS width,
                   CAST(strlen(text) % 480 + 1 AS BIGINT) AS height,
                   CAST(strlen(text) % 24 + 1 AS BIGINT) AS n_frames
            FROM documents""",
        "similarity_topk": _TOPK_ORACLE,
        "neardup_embedding": _NEARDUP_EMB_ORACLE,
        "embedding_label_stats": """
            WITH e AS (SELECT label,
                              sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                    CAST(embedding AS DOUBLE[])))
                                  AS norm
                       FROM embeddings
                       -- _VALID_EMB inlined (plain string can't interpolate)
                       WHERE embedding IS NOT NULL
                         AND len(list_filter(embedding,
                                 x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                         AND list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])) > 0)
            SELECT label, count(*) AS n_vecs,
                   round(avg(norm), 6) AS avg_norm,
                   round(min(norm), 6) AS min_norm,
                   round(max(norm), 6) AS max_norm
            FROM e GROUP BY label""",
        # strlen = UTF-8 byte count (CAST(text AS BLOB) raises on
        # non-ASCII input; encode()/strlen() are the lossless paths)
        "multimodal_ingest": """
            SELECT doc_id,
                   'application/x-fixture-' || source AS mime,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents""",
        "salted_join": """
            SELECT c_mktsegment, count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
            FROM events JOIN customer ON user_id = c_custkey
            WHERE (value IS NULL OR isfinite(value))
            GROUP BY c_mktsegment""",
        "streaming_dedup": """
            SELECT DISTINCT ON (event_id) event_id, user_id, event_type, value
            FROM events ORDER BY event_id""",
        "streaming_enrich": """
            SELECT c_mktsegment, count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
            FROM events JOIN customer ON user_id = c_custkey
            WHERE (value IS NULL OR isfinite(value))
            GROUP BY c_mktsegment""",
        "streaming_interval_join": """
            -- both sides declare ts STRICTLY > epoch
            -- (schemas.positive_event_time — the stream-stream join's
            -- late-input filter drops rows at ts <= the initial
            -- epoch-0 watermark: an epoch-EXACT error loses its pair
            -- while a 00:00:01 one keeps it)
            SELECT e.event_id AS error_event_id,
                   f.event_id AS follow_event_id,
                   e.user_id, f.value AS follow_value
            FROM events e JOIN events f
              ON e.user_id = f.user_id
             AND f.ts > e.ts AND f.ts <= e.ts + INTERVAL 30 MINUTE
            WHERE e.event_type = 'error'
              AND e.ts > TIMESTAMP '1970-01-01 00:00:00'
              AND f.ts > TIMESTAMP '1970-01-01 00:00:00'""",
        "cube_docs": """
            SELECT lang, source, count(*) AS n_docs,
                   round(avg(n_chars), 6) AS avg_chars
            FROM documents GROUP BY CUBE(lang, source)""",
        # hll_distinct / quantile_sketch: sketch estimates are engine-
        # internal (HLL registers / GK summaries differ across engines),
        # so the graded sheets assert the sketch's error bound against
        # exact values recomputed from data — same invariant-sheet
        # playbook as simhash.
        "hll_distinct": """
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_users,
                   true AS within_5pct
            FROM events GROUP BY event_type""",
        "quantile_sketch": """
            SELECT e.event_type, q.q,
                   count(e.value) AS n_events,
                   true AS rank_ok
            FROM events e
            CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q) q
            WHERE e.value IS NOT NULL
            GROUP BY e.event_type, q.q""",
        "pivot_event_types": """
            SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'view') AS view,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'error') AS error
            FROM events WHERE user_id < 100 GROUP BY user_id""",
        "intersect_users": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'click' AND value > 150
            INTERSECT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 150""",
        "asof_join": """
            SELECT c.event_id, c.ts, c.user_id, c.value,
                   p.event_id AS purchase_event_id,
                   p.ts AS purchase_ts,
                   p.value AS purchase_value
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
            ON c.user_id = p.user_id AND c.ts >= p.ts""",
        "interval_join": """
            SELECT e.event_id, e.user_id, count(*) AS n_follow,
                   CAST(SUM(CASE WHEN isfinite(f.value)
                                 THEN CAST(f.value AS DECIMAL(12,4)) END)
                        AS DOUBLE) AS follow_value
            FROM events e JOIN events f
              ON e.user_id = f.user_id
             AND f.ts > e.ts AND f.ts <= e.ts + INTERVAL 30 MINUTE
            WHERE e.event_type = 'error'
            GROUP BY e.event_id, e.user_id""",
        "gapfill_locf": f"""
            WITH sensor AS ({cte}),
            obs AS (
              SELECT id, time_bucket(INTERVAL '60 minutes', ts) AS bucket,
                     round(avg(temperature), 6) AS obs_v
              FROM sensor WHERE {VALID_SQL} AND ts IS NOT NULL GROUP BY 1, 2),
            spans AS (SELECT id, min(bucket) AS lo, max(bucket) AS hi
                      FROM obs GROUP BY 1),
            skel AS (SELECT id,
                            unnest(generate_series(lo, hi, INTERVAL '60 minutes'))
                                AS bucket
                     FROM spans)
            SELECT s.id, s.bucket,
                   last_value(o.obs_v IGNORE NULLS) OVER (
                       PARTITION BY s.id ORDER BY s.bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS temperature,
                   o.obs_v IS NULL AS filled
            FROM skel s LEFT JOIN obs o
              ON s.id IS NOT DISTINCT FROM o.id AND s.bucket = o.bucket""",
        "latest_reading": f"""
            WITH sensor AS ({cte}),
            r AS (SELECT id, temperature, humidity, ts,
                         row_number() OVER (
                             PARTITION BY id
                             ORDER BY ts DESC, "messageId" DESC) AS rn
                  FROM sensor WHERE {VALID_SQL})
            SELECT id, temperature AS latest_temperature,
                   humidity AS latest_humidity, ts AS latest_ts
            FROM r WHERE rn = 1""",
        "candlestick": f"""
            WITH sensor AS ({cte})
            SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
                   time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day'
                       AS window_end,
                   id,
                   first(temperature ORDER BY ts, "messageId")
                       AS open_temperature,
                   max(temperature) AS high_temperature,
                   min(temperature) AS low_temperature,
                   last(temperature ORDER BY ts, "messageId")
                       AS close_temperature
            FROM sensor WHERE {VALID_SQL} AND ts IS NOT NULL
            GROUP BY 1, 2, 3""",
        "temp_delta": f"""
            WITH sensor AS ({cte})
            SELECT id, "messageId", temperature,
                   temperature - lag(temperature) OVER (
                       PARTITION BY id ORDER BY ts, "messageId")
                       AS delta_temperature
            FROM sensor WHERE {VALID_SQL} AND ts IS NOT NULL""",
        "zscore_anomaly": f"""
            WITH sensor AS ({cte}),
            z AS (
              SELECT id, "messageId", temperature,
                     (CAST(temperature AS DOUBLE)
                         - CAST(sum(temperature) OVER w AS DOUBLE)
                           / CAST(count(temperature) OVER w AS DOUBLE))
                     / sqrt((CAST(sum(temperature * temperature) OVER w AS DOUBLE)
                             - CAST(sum(temperature) OVER w AS DOUBLE)
                               * CAST(sum(temperature) OVER w AS DOUBLE)
                               / CAST(count(temperature) OVER w AS DOUBLE))
                            / (CAST(count(temperature) OVER w AS DOUBLE) - 1.0))
                         AS zv
              FROM sensor WHERE {VALID_SQL}
              WINDOW w AS (PARTITION BY id))
            SELECT id, "messageId", temperature, round(zv, 6) AS zscore
            FROM z WHERE abs(zv) > 2.0""",
        "funnel": """
            WITH w1 AS (
              SELECT user_id, ts, event_type,
                     min(CASE WHEN event_type = 'view' THEN ts END)
                         OVER (PARTITION BY user_id) AS v_ts
              FROM events),
            w2 AS (
              SELECT *, min(CASE WHEN event_type = 'click' AND ts >= v_ts
                                 THEN ts END)
                            OVER (PARTITION BY user_id) AS c_ts
              FROM w1),
            w3 AS (
              SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= c_ts
                                 THEN ts END)
                            OVER (PARTITION BY user_id) AS p_ts
              FROM w2),
            u AS (SELECT user_id, max(v_ts) AS v, max(c_ts) AS c,
                         max(p_ts) AS p
                  FROM w3 GROUP BY user_id)
            SELECT 'view' AS stage, count(v) AS users FROM u
            UNION ALL
            SELECT 'click_after_view', count(c) FROM u
            UNION ALL
            SELECT 'purchase_after_click', count(p) FROM u""",
        "cohort_retention": """
            WITH a AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
              FROM events),
            f AS (SELECT user_id, min(wk) AS cohort_week FROM a GROUP BY 1)
            SELECT f.cohort_week,
                   CAST((epoch(a.wk) - epoch(f.cohort_week)) / 604800 AS BIGINT)
                       AS week_offset,
                   count(DISTINCT a.user_id) AS active_users
            FROM a JOIN f USING (user_id)
            GROUP BY 1, 2""",
        "activity_reconcile": """
            WITH p AS (
              SELECT user_id, count(*) AS n_purchases FROM events
              WHERE event_type = 'purchase' GROUP BY 1),
            e AS (
              SELECT user_id, count(*) AS n_errors FROM events
              WHERE event_type = 'error' GROUP BY 1)
            SELECT user_id,
                   coalesce(n_purchases, 0) AS n_purchases,
                   coalesce(n_errors, 0) AS n_errors
            FROM p FULL OUTER JOIN e USING (user_id)""",
        "shipping_priority": f"""
            SELECT o_orderkey, o_orderdate,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
                            (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))))
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
              AND {_FINITE_LI}
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey LIMIT 10""",
        "enrichment_join": """
            SELECT r_name, n_name, count(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
            GROUP BY r_name, n_name""",
        "topk_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
            WHERE rn <= 3""",
        "revenue_forecast": f"""
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
                            CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.03 AND 0.05
              AND l_quantity < 24
              AND {_FINITE_LI}""",
        "pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM({d('l_quantity')}) AS DOUBLE) AS sum_qty,
                   CAST(SUM({d('l_extendedprice')}) AS DOUBLE) AS sum_base_price,
                   CAST(SUM({disc}) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM({charge}) AS DOUBLE) AS sum_charge,
                   round(CAST(SUM({d('l_quantity')}) AS DOUBLE) / count(*), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              AND {_FINITE_LI}
            GROUP BY l_returnflag, l_linestatus""",
        "revenue_rollup": """
            SELECT r_name, n_name, count(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
            GROUP BY ROLLUP(r_name, n_name)""",
        "local_supplier_volume": f"""
            SELECT n_name,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
                            (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))))
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND {_FINITE_LI}
            GROUP BY n_name""",
        "large_quantity_orders": f"""
            WITH qty AS (SELECT l_orderkey,
                                CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE)
                                    AS total_qty
                         FROM lineitem
                         WHERE {_FINITE_LI}
                         GROUP BY l_orderkey
                         HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) > 300)
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
            FROM orders
            JOIN qty ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
        "dormant_customers": """
            -- finite-measures contract CTE (not a WHERE clause on the
            -- main query: the DECIMAL cast in its WHERE could be
            -- evaluated before the finite predicate and raise)
            WITH cust AS (SELECT * FROM customer
                          WHERE (c_acctbal IS NULL OR isfinite(c_acctbal))),
            bal AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS sum_bal,
                           count(*) AS n_bal
                    FROM cust WHERE c_acctbal > 0),
            recent AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderdate >= TIMESTAMP '2000-01-01')
            SELECT n_name, count(*) AS n_dormant,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_balance
            FROM cust CROSS JOIN bal
            JOIN nation ON c_nationkey = n_nationkey
            WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n_bal > sum_bal
              AND c_custkey NOT IN (SELECT o_custkey FROM recent)
            GROUP BY n_name""",
        "decontaminate_ngram": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            i AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
                  FROM t WHERE len(w) >= 3),
            g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS ngram
                  FROM i),
            bad AS (SELECT DISTINCT doc_id FROM g WHERE ngram IN
                    (SELECT DISTINCT ngram FROM g WHERE doc_id % 97 = 0))
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",
        "continuous_rollup": f"""
            WITH sensor AS ({cte})
            SELECT id, date_trunc('hour', ts) AS hour_start,
                   max(temperature) AS max_temp,
                   min(temperature) AS min_temp,
                   round(CAST(sum(temperature) AS DOUBLE) / count(*), 6) AS avg_temp,
                   count(*) AS n_readings
            FROM sensor WHERE ts IS NOT NULL
            GROUP BY id, date_trunc('hour', ts)""",
        "rolling_5min_count": """
            SELECT event_id, user_id, ts,
                   count(*) OVER (PARTITION BY user_id ORDER BY ts
                                  RANGE BETWEEN INTERVAL 5 MINUTE PRECEDING
                                        AND CURRENT ROW) AS n_last_5min
            FROM events""",
        "grouping_sets_volume": """
            SELECT n_name, o_orderpriority, count(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
            GROUP BY GROUPING SETS ((n_name), (o_orderpriority))""",
        "user_value_deciles": """
            WITH totals AS (
              SELECT user_id,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
              FROM events WHERE event_type = 'purchase'
                AND (value IS NULL OR isfinite(value))
              GROUP BY user_id)
            SELECT user_id, total_value,
                   ntile(10) OVER (ORDER BY total_value DESC, user_id) AS decile,
                   round(percent_rank() OVER (ORDER BY total_value DESC, user_id), 6)
                       AS pct_rank
            FROM totals""",
        "props_extract": """
            SELECT event_type, count(*) AS n_events,
                   CAST(SUM(CASE WHEN json_valid(props) THEN CAST(props->>'$.k' AS BIGINT) END) AS BIGINT) AS sum_k,
                   MAX(CASE WHEN json_valid(props) THEN CAST(props->>'$.k' AS BIGINT) END) AS max_k
            FROM events GROUP BY event_type""",
        "mad_outliers": f"""
            WITH sensor AS ({cte}),
            base AS (SELECT id, "messageId", temperature FROM sensor),
            med AS (SELECT id, median(temperature) AS med_t FROM base GROUP BY id),
            dev AS (SELECT b.id, b."messageId", b.temperature, m.med_t,
                           abs(b.temperature - m.med_t) AS absdev
                    FROM base b JOIN med m ON b.id = m.id),
            mad AS (SELECT id, median(absdev) AS mad_t FROM dev GROUP BY id)
            SELECT d.id, d."messageId", d.temperature, d.med_t, ma.mad_t
            FROM dev d JOIN mad ma ON d.id = ma.id
            WHERE d.absdev > 3.0 * ma.mad_t""",
        "props_variant": """
            SELECT event_type,
                   count(DISTINCT CASE WHEN json_valid(props) THEN CAST(props->>'$.k' AS BIGINT) END) AS n_distinct_k,
                   MIN(CASE WHEN json_valid(props) THEN CAST(props->>'$.k' AS BIGINT) END) AS min_k
            FROM events GROUP BY event_type""",
        "neardup_editdist": """
            WITH pick AS (SELECT doc_id, source, n_chars,
                                 CAST(n_chars // 32 AS BIGINT) AS bucket,
                                 substr(text, 1, 64) AS prefix
                          FROM documents)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   levenshtein(a.prefix, b.prefix) AS dist
            FROM pick a JOIN pick b
              ON a.source = b.source AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
             AND abs(a.n_chars - b.n_chars) <= 10
            WHERE levenshtein(a.prefix, b.prefix) <= 10""",
        # ewma_smooth: the recursion replays exactly in a recursive CTE —
        # pandas ewm(adjust=False) computes (0.8*prev + 0.2*x)/(0.8+0.2)
        # where the denominator is exactly 1.0 in IEEE double, so the
        # same-order SQL arithmetic is bit-identical (verified at
        # sf0.001/0.01/0.1); round(6) on both sides.
        "ewma_smooth": f"""
            WITH RECURSIVE sensor AS ({cte}),
            o AS (SELECT id, "messageId", ts, temperature,
                         row_number() OVER (PARTITION BY id
                                            ORDER BY ts, "messageId") AS rn
                  FROM sensor WHERE ts IS NOT NULL),
            r(id, "messageId", ts, temperature, rn, s) AS (
              SELECT id, "messageId", ts, temperature, rn,
                     CAST(temperature AS DOUBLE)
              FROM o WHERE rn = 1
              UNION ALL
              SELECT o.id, o."messageId", o.ts, o.temperature, o.rn,
                     (1 - 0.2) * r.s + 0.2 * CAST(o.temperature AS DOUBLE)
              FROM o JOIN r ON o.id = r.id AND o.rn = r.rn + 1)
            SELECT id, "messageId", ts, temperature,
                   round(s, 6) AS ewma_t
            FROM r""",
        "status_change": f"""
            WITH sensor AS ({cte}),
            s AS (SELECT id, ts, "messageId",
                         CASE WHEN (temperature = 0 AND humidity = 0)
                                OR (temperature >= 50 AND humidity >= 100)
                              THEN 'invalid' ELSE 'valid' END AS status
                  FROM sensor WHERE ts IS NOT NULL),
            l AS (SELECT id, ts, "messageId", status,
                         lag(status) OVER (PARTITION BY id
                                           ORDER BY ts, "messageId")
                             AS prev_status
                  FROM s)
            SELECT id, ts, "messageId", prev_status, status FROM l
            WHERE prev_status IS NULL OR prev_status <> status""",
        **({} if not _HAS_PROTOBUF else {"streaming_status_change": f"""
            WITH sensor AS ({cte}),
            s AS (SELECT id, ts, "messageId",
                         CASE WHEN (temperature = 0 AND humidity = 0)
                                OR (temperature >= 50 AND humidity >= 100)
                              THEN 'invalid' ELSE 'valid' END AS status
                  FROM sensor WHERE ts IS NOT NULL),
            l AS (SELECT id, ts, "messageId", status,
                         lag(status) OVER (PARTITION BY id
                                           ORDER BY ts, "messageId")
                             AS prev_status
                  FROM s)
            SELECT id, ts, "messageId", prev_status, status FROM l
            WHERE prev_status IS NULL OR prev_status <> status"""}),
        "temp_humidity_corr": f"""
            WITH sensor AS ({cte}),
            agg AS (SELECT id, count(*) AS n,
                           sum(temperature) AS sx, sum(humidity) AS sy,
                           sum(temperature * humidity) AS sxy,
                           sum(temperature * temperature) AS sxx,
                           sum(humidity * humidity) AS syy
                    FROM sensor GROUP BY id)
            SELECT id, n,
                   round(CAST(n * sxy - sx * sy AS DOUBLE) /
                         nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                                     CAST(n * syy - sy * sy AS DOUBLE)), 0.0),
                         6) AS corr_th
            FROM agg""",
        "temp_histogram": f"""
            WITH sensor AS ({cte})
            SELECT temperature // 10 AS bin, count(*) AS n_readings
            FROM sensor GROUP BY 1""",
        "gopher_quality": """
            WITH sig AS (
              SELECT doc_id,
                     len(string_split(text, ' ')) AS n_words,
                     round(CAST(n_chars - (len(string_split(text, ' ')) - 1)
                                AS DOUBLE) / len(string_split(text, ' ')), 6)
                         AS mean_word_len,
                     round(1.0 - CAST(len(list_distinct(string_split(text, ' ')))
                                      AS DOUBLE) / len(string_split(text, ' ')), 6)
                         AS dup_token_frac,
                     round(CAST(len(regexp_extract_all(text, '[^a-z0-9 ]'))
                                AS DOUBLE) / n_chars, 6) AS symbol_ratio
              FROM documents)
            SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
                   dup_token_frac, symbol_ratio,
                   (n_words BETWEEN 50 AND 100000)
                   AND (mean_word_len BETWEEN 3.0 AND 10.0)
                   AND dup_token_frac <= 0.6
                   AND symbol_ratio <= 0.1 AS keep
            FROM sig""",
        "multimodal_resize": """
            WITH d AS (SELECT doc_id, (strlen(text) % 640) + 1 AS width,
                              (strlen(text) % 480) + 1 AS height
                       FROM documents),
            s AS (SELECT doc_id, width, height,
                         least(224.0 / width, 224.0 / height, 1.0) AS scale
                  FROM d)
            SELECT doc_id, CAST(width AS BIGINT) AS width,
                   CAST(height AS BIGINT) AS height,
                   CAST(greatest(floor(width * scale), 1) AS BIGINT) AS out_width,
                   CAST(greatest(floor(height * scale), 1) AS BIGINT) AS out_height
            FROM s""",
        "multimodal_frame_sample": """
            WITH d AS (SELECT doc_id, (strlen(text) % 24) + 1 AS n_frames
                       FROM documents),
            i AS (SELECT doc_id, unnest(range(0, n_frames)) AS frame_idx
                  FROM d)
            SELECT doc_id, frame_idx FROM i WHERE frame_idx % 4 = 0""",
        # multimodal_features: histogram over the UTF-8 payload BYTES
        # (not char codes — multilingual text has multi-byte chars): a
        # byte's top nibble IS its first hex digit, so hex(encode(text))
        # + per-byte nibble lookup recomputes the kernel's bin = byte>>4
        # exactly. Kernel rounds half-UP at 6 decimals (floor(x*1e6+.5))
        # so this integer-arithmetic twin can match it (np.round's
        # banker's rounding diverges on 128-byte-style .xxxxxx5 ties).
        "multimodal_features": """
            WITH n AS (SELECT doc_id, strlen(text) AS n,
                              hex(encode(text)) AS h
                       FROM documents),
            i AS (SELECT doc_id, h, n, unnest(range(1, n + 1)) AS i FROM n),
            b AS (SELECT doc_id, n,
                         instr('0123456789ABCDEF',
                               substr(h, CAST(2 * i - 1 AS INT), 1)) - 1 AS bin
                  FROM i),
            c AS (SELECT doc_id, bin, count(*) AS c FROM b GROUP BY 1, 2),
            -- h IS NOT NULL (i.e. text IS NOT NULL): features are
            -- UNDEFINED for a failed payload — the table omits the doc
            -- (Spark's posexplode of a NULL array drops it), it does
            -- not fabricate 16 NULL bins
            dense AS (SELECT d.doc_id, d.n, CAST(r.range AS INT) AS bin
                      FROM n d CROSS JOIN range(16) r
                      WHERE d.h IS NOT NULL)
            SELECT dense.doc_id, dense.bin,
                   floor(COALESCE(c.c, 0) / GREATEST(dense.n, 1) * 1000000
                         + 0.5) / 1000000 AS feature
            FROM dense LEFT JOIN c
              ON dense.doc_id = c.doc_id AND dense.bin = c.bin""",
        "trending_event_types": """
            WITH daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                  event_type, count(*) AS n_events
                           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
            SELECT day, event_type, n_events, rank FROM (
              SELECT day, event_type, n_events,
                     row_number() OVER (PARTITION BY day
                                        ORDER BY n_events DESC, event_type) AS rank
              FROM daily)
            WHERE rank <= 3""",
        "rolling_active_users": """
            WITH pairs AS (SELECT DISTINCT time_bucket(INTERVAL '1 day', ts) AS day, user_id
                           FROM events),
            rep AS (SELECT unnest(generate_series(day, day + INTERVAL 6 DAY,
                                                  INTERVAL 1 DAY)) AS report_day,
                           user_id
                    FROM pairs)
            SELECT report_day, count(DISTINCT user_id) AS active_users_7d
            FROM rep GROUP BY report_day""",
        "revenue_share": """
            WITH agg AS (SELECT r_name, n_name, count(*) AS n_orders,
                                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                                     AS DOUBLE) AS revenue
                         FROM orders
                         JOIN customer ON o_custkey = c_custkey
                         JOIN nation ON c_nationkey = n_nationkey
                         JOIN region ON n_regionkey = r_regionkey
                         WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
                         GROUP BY r_name, n_name)
            SELECT r_name, n_name, revenue,
                   CAST(round(CAST(revenue AS DECIMAL(18,4)) /
                              SUM(CAST(revenue AS DECIMAL(18,4)))
                                  OVER (PARTITION BY r_name), 6)
                        AS DOUBLE) AS region_share
            FROM agg""",
        "order_priority_check": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_discount > l_tax)
            GROUP BY o_orderpriority""",
        "cross_nation_volume": f"""
            SELECT supp_nation, cust_nation, l_year,
                   CAST(revenue AS DOUBLE) AS revenue FROM (
              SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                     year(l_shipdate) AS l_year, SUM({disc}) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ns ON s_nationkey = ns.n_nationkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation nc ON c_nationkey = nc.n_nationkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
                AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
                  OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
                AND {_FINITE_LI}
              GROUP BY 1, 2, 3)""",
        "market_share": f"""
            SELECT o_year,
                   round(CAST(_nat AS DOUBLE) / CAST(_tot AS DOUBLE), 6)
                       AS mkt_share FROM (
              SELECT year(o_orderdate) AS o_year,
                     SUM(CASE WHEN ns.n_name = 'NATION_7'
                              THEN CAST({disc} AS DECIMAL(26,8))
                              ELSE CAST(0 AS DECIMAL(26,8)) END) AS _nat,
                     SUM(CAST({disc} AS DECIMAL(26,8))) AS _tot
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ns ON s_nationkey = ns.n_nationkey
              WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
                AND o_custkey IN (SELECT c_custkey FROM customer
                                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
                                  JOIN region ON n2.n_regionkey = r_regionkey
                                  WHERE r_name = 'ASIA')
                AND {_FINITE_LI}
              GROUP BY 1)""",
        "product_profit": f"""
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(SUM(CAST({disc} AS DECIMAL(30,9)) -
                            CAST({d('p_retailprice')} * {d('l_quantity')} *
                                 CAST(0.1 AS DECIMAL(2,1)) AS DECIMAL(30,9)))
                        AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE {_FINITE_LI}
              AND (p_retailprice IS NULL OR isfinite(p_retailprice))
            GROUP BY 1, 2""",
        "returned_item_revenue": f"""
            SELECT c_custkey, c_name, revenue, c_acctbal, n_name FROM (
              SELECT o_custkey, CAST(SUM({disc}) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1996-04-01'
                AND {_FINITE_LI}
              GROUP BY o_custkey)
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY revenue DESC, c_custkey LIMIT 20""",
        "priority_line_counts": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_linestatus""",
        "customer_order_distribution": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN orders ON c_custkey = o_custkey
                              AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
            GROUP BY c_count""",
        "promo_revenue": f"""
            SELECT round(100.0 *
                     CAST(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN CAST({disc} AS DECIMAL(26,8))
                                   ELSE CAST(0 AS DECIMAL(26,8)) END) AS DOUBLE)
                     / CAST(SUM(CAST({disc} AS DECIMAL(26,8))) AS DOUBLE), 6)
                   AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01'
              AND l_shipdate < TIMESTAMP '1996-10-01'
              AND {_FINITE_LI}""",
        "top_supplier": f"""
            WITH ps AS (SELECT l_suppkey, SUM({disc}) AS _rev
                        FROM lineitem
                        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                          AND l_shipdate < TIMESTAMP '1996-04-01'
                          AND {_FINITE_LI}
                        GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, CAST(_rev AS DOUBLE) AS total_revenue
            FROM ps JOIN supplier ON l_suppkey = s_suppkey
            WHERE _rev = (SELECT MAX(_rev) FROM ps)""",
        "parts_supplier_count": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_size <= 25
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 1000.0)
            GROUP BY 1, 2, 3""",
        "small_qty_revenue": f"""
            WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
                        FROM lineitem JOIN part ON l_partkey = p_partkey
                        WHERE p_brand = 'Brand#1' AND {_FINITE_LI}),
            pp AS (SELECT l_partkey AS _pk,
                          SUM({d('l_quantity')}) AS _sq, count(*) AS _cnt
                   FROM li GROUP BY 1)
            SELECT round(CAST(SUM({d('l_extendedprice')}) AS DOUBLE) / 7.0, 6)
                       AS avg_yearly
            FROM li JOIN pp ON l_partkey = _pk
            WHERE {d('l_quantity')} * 2 * _cnt < _sq""",
        "disjunctive_revenue": f"""
            SELECT CAST(SUM({disc}) AS DOUBLE) AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE {_FINITE_LI}
              AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                    AND l_quantity BETWEEN 1 AND 11)
                OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                    AND l_quantity BETWEEN 10 AND 20)
                OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
                    AND l_quantity BETWEEN 20 AND 30))""",
        "excess_supply_suppliers": f"""
            WITH li AS (SELECT l_partkey, l_suppkey, l_quantity
                        FROM lineitem JOIN part ON l_partkey = p_partkey
                        WHERE p_name LIKE '%widget%'
                          AND l_shipdate >= TIMESTAMP '1996-01-01'
                          AND l_shipdate < TIMESTAMP '1997-01-01'
                          AND {_FINITE_LI}),
            ps AS (SELECT l_partkey, l_suppkey,
                          SUM({d('l_quantity')}) AS _sq
                   FROM li GROUP BY 1, 2),
            tot AS (SELECT l_partkey AS _pk, SUM(_sq) AS _tq
                    FROM ps GROUP BY 1)
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (SELECT l_suppkey FROM ps
                                JOIN tot ON l_partkey = _pk
                                WHERE _sq * 2 > _tq)""",
        "waiting_supplier_blame": """
            WITH per_os AS (
              SELECT l_orderkey, l_suppkey,
                     MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                         AS _has_r
              FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                   WHERE o_orderstatus = 'F')
              GROUP BY 1, 2),
            w AS (SELECT *,
                         count(*) OVER (PARTITION BY l_orderkey) AS _n_supp,
                         SUM(_has_r) OVER (PARTITION BY l_orderkey) AS _n_r
                  FROM per_os)
            SELECT s_name, numwait FROM (
              SELECT l_suppkey, count(*) AS numwait FROM w
              WHERE _has_r = 1 AND _n_supp > 1 AND _n_r = 1
              GROUP BY 1)
            JOIN supplier ON l_suppkey = s_suppkey
            ORDER BY numwait DESC, s_name LIMIT 20""",
        "min_cost_supplier": """
            WITH li AS (SELECT l_partkey, l_suppkey, l_extendedprice, l_quantity
                        FROM lineitem JOIN part ON l_partkey = p_partkey
                        WHERE p_size BETWEEN 10 AND 20),
            unit AS (SELECT l_partkey, l_suppkey,
                            round(MIN(l_extendedprice / l_quantity), 6)
                                AS unit_cost
                     FROM li GROUP BY 1, 2),
            best AS (SELECT * FROM (
                       SELECT *, row_number() OVER (
                           PARTITION BY l_partkey
                           ORDER BY unit_cost, l_suppkey) AS _rn
                       FROM unit) WHERE _rn = 1)
            SELECT best.l_partkey AS p_partkey, p_name, s_name, s_acctbal,
                   n_name, unit_cost
            FROM best
            JOIN supplier ON best.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN part ON best.l_partkey = part.p_partkey""",
        "important_stock": f"""
            WITH li AS (SELECT l_partkey, {disc} AS vol
                        FROM lineitem
                        WHERE l_suppkey IN (
                          SELECT s_suppkey FROM supplier
                          JOIN nation ON s_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
                          WHERE r_name = 'ASIA')
                          AND {_FINITE_LI}),
            pp AS (SELECT l_partkey, SUM(vol) AS _val FROM li GROUP BY 1)
            SELECT l_partkey, CAST(_val AS DOUBLE) AS part_value FROM pp
            WHERE _val * 1000 > (SELECT CAST(SUM(_val) AS DECIMAL(38,8))
                                 FROM pp)""",
        "time_weighted_avg": f"""
            WITH sensor AS ({cte}),
            v AS (SELECT * FROM sensor WHERE {VALID_SQL}),
            p AS (SELECT id, time_bucket(INTERVAL '1 day', ts) AS bucket, temperature,
                         epoch_us(ts) AS tus,
                         lead(epoch_us(ts)) OVER (
                             PARTITION BY id, time_bucket(INTERVAL '1 day', ts)
                             ORDER BY ts, "messageId") AS next_us
                  FROM v)
            SELECT id, bucket, count(*) AS n_readings,
                   CASE WHEN COALESCE(sum(next_us - tus), 0) > 0
                        THEN round(
                            CAST(sum(temperature * (next_us - tus)) AS DOUBLE)
                            / CAST(sum(next_us - tus) AS DOUBLE), 6)
                        ELSE CAST(min(temperature) AS DOUBLE)
                   END AS twa_temperature
            FROM p GROUP BY 1, 2""",
        "interpolate_linear": f"""
            WITH sensor AS ({cte}),
            obs AS (
              SELECT id, time_bucket(INTERVAL '60 minutes', ts) AS bucket,
                     round(avg(temperature), 6) AS obs_v
              FROM sensor WHERE {VALID_SQL} AND ts IS NOT NULL GROUP BY 1, 2),
            spans AS (SELECT id, min(bucket) AS lo, max(bucket) AS hi
                      FROM obs GROUP BY 1),
            skel AS (SELECT id,
                            unnest(generate_series(lo, hi, INTERVAL '60 minutes'))
                                AS bucket
                     FROM spans),
            dense AS (SELECT s.id, s.bucket, o.obs_v,
                             CAST(floor(epoch(s.bucket)) AS BIGINT) AS x
                      FROM skel s LEFT JOIN obs o
                        ON s.id IS NOT DISTINCT FROM o.id
                       AND s.bucket = o.bucket),
            fb AS (SELECT *,
                last_value(obs_v IGNORE NULLS) OVER (
                    PARTITION BY id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
                last_value(CASE WHEN obs_v IS NOT NULL THEN x END IGNORE NULLS)
                    OVER (PARTITION BY id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_x,
                first_value(obs_v IGNORE NULLS) OVER (
                    PARTITION BY id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
                first_value(CASE WHEN obs_v IS NOT NULL THEN x END IGNORE NULLS)
                    OVER (PARTITION BY id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_x
                FROM dense),
            -- sign-aware HALF_AWAY at 6 decimals, matching the Spark
            -- kernel's signum(raw)*floor(abs(raw)*1e6+0.5)/1e6 chain
            -- (a sign-unaware floor(x*1e6+0.5) diverges on negative
            -- ties — latent on this fixture's 0..80 temperatures, but
            -- the chains must be identical either way)
            calc AS (SELECT id, bucket, obs_v,
                            prev_v + (next_v - prev_v) *
                                (CAST(x - prev_x AS DOUBLE)
                                 / CAST(next_x - prev_x AS DOUBLE)) AS raw
                     FROM fb)
            SELECT id, bucket,
                   CASE WHEN obs_v IS NOT NULL THEN obs_v
                        ELSE sign(raw) * floor(abs(raw) * 1000000.0 + 0.5)
                             / 1000000.0
                   END AS temperature,
                   obs_v IS NULL AS filled
            FROM calc""",
        "rate_of_change": f"""
            WITH sensor AS ({cte}),
            v AS (SELECT * FROM sensor WHERE {VALID_SQL})
            SELECT id, time_bucket(INTERVAL '1 day', ts) AS day, count(*) AS n_readings,
                   CASE WHEN epoch_us(max(ts)) - epoch_us(min(ts)) > 0
                        THEN round(
                            CAST(last(temperature ORDER BY ts, "messageId")
                                 - first(temperature ORDER BY ts, "messageId")
                                 AS DOUBLE)
                            * 3600000000.0
                            / CAST(epoch_us(max(ts)) - epoch_us(min(ts))
                                   AS DOUBLE), 6)
                   END AS temp_rate_per_hour
            FROM v GROUP BY 1, 2""",
        "scd2_history": """
            WITH c AS (SELECT user_id, ts, event_id, event_type,
                              lag(event_type) OVER (
                                  PARTITION BY user_id
                                  ORDER BY ts, event_id) AS _prev
                       FROM events WHERE ts IS NOT NULL),
            ch AS (SELECT * FROM c
                   WHERE _prev IS NULL OR _prev <> event_type)
            SELECT user_id, event_type AS status, ts AS valid_from,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) IS NULL AS is_current
            FROM ch""",
        "rfm_segments": """
            WITH p AS (SELECT user_id, max(ts) AS last_purchase_ts,
                              count(*) AS frequency,
                              sum(CAST(value AS DECIMAL(12,4))) AS _mon
                       FROM events WHERE event_type = 'purchase'
                         AND (value IS NULL OR isfinite(value))
                       GROUP BY 1),
            s AS (SELECT user_id, last_purchase_ts, frequency, _mon,
                         5 - ntile(4) OVER (
                             ORDER BY last_purchase_ts DESC, user_id)
                             AS r_score,
                         5 - ntile(4) OVER (
                             ORDER BY frequency DESC, user_id) AS f_score,
                         5 - ntile(4) OVER (
                             ORDER BY _mon DESC, user_id) AS m_score
                  FROM p)
            SELECT user_id, last_purchase_ts, frequency,
                   CAST(_mon AS DOUBLE) AS monetary,
                   r_score, f_score, m_score,
                   CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                       || CAST(m_score AS VARCHAR) AS segment
            FROM s""",
        "tfidf_top_terms": """
            WITH tok AS (SELECT doc_id,
                                unnest(string_split(text, ' ')) AS word
                         FROM documents),
            tf AS (SELECT doc_id, word, count(*) AS tf
                   FROM tok GROUP BY 1, 2),
            dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            sc AS (SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
                          round(CAST(tf.tf * n.n_docs AS DOUBLE) / dfq.df, 6)
                              AS tfidf
                   FROM tf, dfq, n WHERE tf.word = dfq.word),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY tfidf DESC, word) AS _rn
                  FROM sc)
            SELECT doc_id, word, tf, df, tfidf FROM r WHERE _rn <= 3""",
        "streaming_dedup_wm": """
            -- STRICT epoch bound (schemas.positive_event_time):
            -- dropDuplicatesWithinWatermark's late-input filter tests
            -- ts <= the initial epoch-0 watermark, dropping an
            -- epoch-EXACT row. NULL event times are kept (NULL-parity
            -- contract).
            SELECT event_id, ts, user_id, event_type, value FROM events
            WHERE ts IS NULL OR ts > TIMESTAMP '1970-01-01'""",
    }
