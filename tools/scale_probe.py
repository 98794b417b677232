"""Empirical scale-linearity probe for the headline scale-path queries.

The bench fixtures top out at sf0.1; plan reading says the scale paths
are linear, this MEASURES it. The probe replicates the sf0.1 fixtures
×N into /tmp with per-replica key shifts chosen so the WORKLOAD scales
honestly, times a query set at ×1 and ×N in the record session
(``bench._session``) with the record timing (``bench.measure``:
warm-up, forced GC, min-of-2, noop sink), and reports each query's
scaling exponent  log(t_N / t_1) / log(N).  Exponent ≈ 1 is linear; values
well under 1 mean fixed overhead still dominates at this size; anything
over the flag threshold (default 1.25) is called out as superlinear —
the thing a 100 TB run cannot afford.

Replica construction (the honesty part):
- ids shift per replica (doc_id/vec_id/user_id/custkey +i·1e7,
  event_id/orderkey +i·1e9) so keyed joins and groupings scale ×N
  without cross-replica collisions; customer replicates WITH events /
  orders (it is fact-sided), while nation/region/part/supplier stay
  unreplicated — exactly the broadcast-dim assumption the plans make.
- document text is passed through a per-replica random PERMUTATION
  of the alphabet (seeded by the replica index — 26! distinct maps,
  identity for replica 0; a rotation-only scheme repeats every 25
  replicas and re-creates byte-identical cross-replica texts), which
  preserves each replica's internal shingle/near-dup structure but
  removes cross-replica shingle collisions — so LSH candidate pairs
  scale ×N, not ×N².
- embeddings get a per-replica deterministic sign-flip mask
  (flip where (2654435761·j + 40503·i) mod 1000003 < 500000, identity
  for i=0 — the modulus is prime and far above any realistic replica
  count, so masks never repeat): within-replica cosine structure is
  preserved exactly (flips cancel), cross-replica cosine collapses
  toward 0 — near-dup pair counts and bucket sizes scale ×N, not ×N².

Usage:
    python tools/scale_probe.py [--mult 16] [--queries a,b,c]
                                [--ingest] [--teardown]

Scaled dirs are cached under CACHE_ROOT and reused across runs;
--teardown removes the cache afterwards. --ingest additionally times
the full streaming topology with ``bench.ingest`` at both sizes and
reports {events, seconds, events_per_sec} for each — fixed
micro-batch overhead should amortize, so events/s is expected to RISE
with corpus size.

Prints a table on stdout, then one JSON line: {"mult", "t1", "tn",
"exponents", "superlinear"[, "ingest"]}. Exits 1 when any query is
superlinear or fails at either size, 2 on an unknown query name.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

SRC_SF_DIR = "/root/testdata/sf0.1"
# v2: permutation text transform + prime flip mask (v1 dirs are
# contaminated beyond ×25/×97 replicas — never reuse them)
CACHE_ROOT = "/tmp/iotstream-scale-v2"

# Queries whose cost should scale with corpus size, spanning every
# scale-path family: text LSH dedup, connected components, embedding
# ANN, distributed ranks, sessionization, prefix-sum packing,
# broadcast-dim star joins, and two pure scan-agg linear baselines.
DEFAULT_QUERIES = [
    "token_stats",
    "pricing_summary",
    "dedup_exact",
    "neardup_minhash",
    "simhash",
    # the DECLARED dedup_clusters_lsh has a doc_id<2000 demo cap, so
    # probing it measures the cap; the _full entry is the real pipeline
    "dedup_clusters_lsh_full",
    "similarity_topk",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    # the declared entry runs the auto-sizing path (lsh_auto_params),
    # so probing it verbatim probes the production plan; the `_auto`
    # alias remains for trend comparability
    "neardup_embedding_lsh",
    "sequence_pack",
    "rfm_segments",
    "sessionize",
    "market_share",
]

SUPERLINEAR_FLAG = 1.25

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _permuted(i: int) -> str:
    """A full random permutation of the alphabet per replica (identity
    for replica 0), seeded by the replica index: 26! distinct maps, so
    no two replicas share a transform at ANY multiplier. (The earlier
    rotation scheme had only 25 non-identity shifts — replicas 1/26/51
    were byte-identical, quietly re-introducing the ×N² pair growth
    the construction exists to prevent.)"""
    if not i:
        return ALPHA
    import random

    letters = list(ALPHA)
    random.Random(i).shuffle(letters)
    return "".join(letters)


def _fixture_fingerprint() -> str:
    """Identity of the SOURCE fixtures (name, size, mtime of every
    parquet under SRC_SF_DIR), hashed. Stored inside the _COMPLETE
    marker so a regenerated sf0.1 fixture invalidates cached replicas
    instead of silently reusing stale ones."""
    import hashlib

    parts = []
    for name in sorted(os.listdir(SRC_SF_DIR)):
        if not name.endswith(".parquet"):
            continue
        p = os.path.join(SRC_SF_DIR, name)
        if os.path.isdir(p):  # parquet as directory of part files
            for f in sorted(os.listdir(p)):
                st = os.stat(os.path.join(p, f))
                parts.append(f"{name}/{f}:{st.st_size}:{int(st.st_mtime)}")
        else:
            st = os.stat(p)
            parts.append(f"{name}:{st.st_size}:{int(st.st_mtime)}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def build_scaled(spark, mult: int, skew: bool = False) -> str:
    """Write the ×mult fixture dir (cached; cache key includes a
    source-fixture fingerprint — see ``_fixture_fingerprint``).
    Replica 0 is bit-identical
    to the source tables, so ×1 runs the probe's storage layout, not
    the pristine fixture files — both sizes pay identical read paths.

    ``skew=True`` builds the adversarial variant: 10% of every
    replica's documents share ONE byte-identical text (a global
    mega-dup group of mult·500 docs — the input that blows up LSH
    banding without a bucket cap) and 10% of every replica's events
    land on ONE hot user_id (the key that makes per-key windows and
    unsalted joins straggle). Uniform scaling is the easy case; this
    is the one the guards exist for."""
    from pyspark.sql import functions as F

    from iotstream.schemas import load_table

    out_dir = f"{CACHE_ROOT}/x{mult}{'skew' if skew else ''}"
    marker = f"{out_dir}/_COMPLETE"
    fp = _fixture_fingerprint()
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fp:
                return out_dir
        print(f"stale scaled cache {out_dir} (fixture changed); rebuilding",
              file=sys.stderr)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def replicate(name: str, transform):
        base = load_table(spark, SRC_SF_DIR, name)
        parts = [transform(base, i) for i in range(mult)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    def docs_replica(df, i):
        text = F.translate(
            "text", ALPHA + ALPHA.upper(), _permuted(i) + _permuted(i).upper()
        )
        if skew:
            text = F.when(
                F.col("doc_id") % 10 == 0,
                F.lit("the quick brown fox jumps over the lazy dog again"),
            ).otherwise(text)
        return df.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            # n_chars must describe the text the replica actually
            # carries: skew-replaced docs keep their length-derived
            # metadata consistent (length-blocked ops like
            # neardup_editdist would otherwise see stale lengths).
            F.length(text).cast("long").alias("n_chars"),
        )

    def emb_replica(df, i):
        if i == 0:
            return df
        flip = F.transform(
            "embedding",
            lambda x, j: x
            * F.when(
                (2654435761 * j + 40503 * i) % 1_000_003 < 500_000,
                F.lit(-1.0),
            ).otherwise(F.lit(1.0)),
        ).cast("array<float>")
        return df.select(
            (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
            flip.alias("embedding"),
            "label",
        )

    def events_replica(df, i):
        uid = F.col("user_id") + i * 10_000_000
        if skew:
            uid = F.when(F.col("event_id") % 10 == 0, F.lit(7)).otherwise(uid)
        return df.select(
            (F.col("event_id") + i * 1_000_000_000).alias("event_id"),
            "ts",
            uid.alias("user_id"),
            "event_type",
            "value",
            "props",
        )

    def orders_replica(df, i):
        return df.select(
            (F.col("o_orderkey") + i * 1_000_000_000).alias("o_orderkey"),
            (F.col("o_custkey") + i * 10_000_000).alias("o_custkey"),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )

    def lineitem_replica(df, i):
        return df.select(
            (F.col("l_orderkey") + i * 1_000_000_000).alias("l_orderkey"),
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        )

    def customer_replica(df, i):
        return df.select(
            (F.col("c_custkey") + i * 10_000_000).alias("c_custkey"),
            "c_name",
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )

    replicate("documents", docs_replica)
    replicate("embeddings", emb_replica)
    replicate("events", events_replica)
    replicate("orders", orders_replica)
    replicate("lineitem", lineitem_replica)
    replicate("customer", customer_replica)
    for dim in ("nation", "region", "part", "supplier"):
        load_table(spark, SRC_SF_DIR, dim).write.mode("overwrite").parquet(
            f"{out_dir}/{dim}.parquet"
        )
    with open(marker, "w") as fh:
        fh.write(fp)
    return out_dir


def _q_neardup_embedding_lsh_auto(spark, sf_dir):
    from iotstream.ext.similarity import neardup_embedding_lsh
    from iotstream.schemas import load_table

    return neardup_embedding_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _q_neardup_minhash_guarded(spark, sf_dir):
    """The skew-dir companion: MinHash near-dup WITH the max_bucket
    mega-bucket guard. On the skew fixture (a global 10% exact-dup
    group) the unguarded path verifies |group|²·bands candidate pairs
    — quadratic in the dup-group size; the guard drops over-cap
    (band, bucket) groups and keeps the verify linear. Exact-dup mass
    belongs to dedup_exact upstream anyway (run dedup first, then
    near-dup — the documented pipeline order)."""
    from iotstream.ext.dedup import neardup_minhash
    from iotstream.schemas import load_table

    return neardup_minhash(
        load_table(spark, sf_dir, "documents"), max_bucket=512
    )


def _q_dedup_clusters_lsh_full(spark, sf_dir):
    """The UNCAPPED MinHash→LSH→verify→connected-components pipeline
    over the whole scaled corpus. The declared `dedup_clusters_lsh`
    carries a doc_id<2000 demo cap (its oracle is a recursive CTE that
    must terminate at grading scale), so probing IT measures the cap,
    not the pipeline — this entry is the honest scale measurement,
    with the mega-bucket guard on as any production run would have."""
    from pyspark.sql import functions as F

    from iotstream.ext.dedup import neardup_minhash
    from iotstream.ext.graph import connected_components
    from iotstream.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = neardup_minhash(docs, threshold=0.5, max_bucket=512).select(
        "doc_a", "doc_b"
    )
    comp = connected_components(
        pairs, docs.select("doc_id"), src="doc_a", dst="doc_b", node="doc_id"
    )
    return comp.select(F.col("node").alias("doc_id"), "cluster_id")


def time_queries(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    import __spark_entry__ as entrymod

    qs = dict(entrymod.queries())
    qs["neardup_embedding_lsh_auto"] = _q_neardup_embedding_lsh_auto
    qs["neardup_minhash_guarded"] = _q_neardup_minhash_guarded
    qs["dedup_clusters_lsh_full"] = _q_dedup_clusters_lsh_full
    out: dict[str, float] = {}
    for name in names:
        try:
            out[name] = round(bench.measure(spark, qs[name], sf_dir)[0], 3)
        except Exception as e:  # noqa: BLE001
            print(f"probe error in {name}: {type(e).__name__}: {e}", file=sys.stderr)
            out[name] = -1.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=16)
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument(
        "--declared",
        action="store_true",
        help="probe EVERY __spark_entry__.queries() entry verbatim "
        "(declaration order) instead of --queries: the graded configs "
        "are what scale traps hide in",
    )
    ap.add_argument("--teardown", action="store_true")
    ap.add_argument("--ingest", action="store_true")
    ap.add_argument("--skew", action="store_true")
    args = ap.parse_args()
    if args.declared:
        import __spark_entry__ as _em

        names = list(_em.queries())
    else:
        names = [q for q in args.queries.split(",") if q]
    # validate names BEFORE the expensive scaled-dir build
    import __spark_entry__ as entrymod

    known = set(entrymod.queries()) | {
        "neardup_embedding_lsh_auto",
        "neardup_minhash_guarded",
        "dedup_clusters_lsh_full",
    }
    unknown = [q for q in names if q not in known]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = bench._session(
        app=f"iotstream-scale-probe-x{args.mult}{'skew' if args.skew else ''}",
    )
    t0 = time.perf_counter()
    dir1 = build_scaled(spark, 1, skew=args.skew)
    dirn = build_scaled(spark, args.mult, skew=args.skew)
    print(f"scaled dirs ready in {time.perf_counter() - t0:.0f}s", file=sys.stderr)

    t1 = time_queries(spark, dir1, names) if names else {}
    tn = time_queries(spark, dirn, names) if names else {}
    ingest = None
    if args.ingest:
        ingest = {}
        for tag, d in (("x1", dir1), (f"x{args.mult}", dirn)):
            n, sec, _ = bench.ingest(spark, d)
            ingest[tag] = {
                "events": n,
                "seconds": round(sec, 3),
                "events_per_sec": round(n / sec),
            }
        print("ingest:", json.dumps(ingest), file=sys.stderr)

    rows = []
    for q in names:
        a, b = t1.get(q, -1), tn.get(q, -1)
        if a <= 0 or b <= 0:
            rows.append((q, a, b, None))
            continue
        rows.append((q, a, b, math.log(b / a) / math.log(args.mult)))
    print(f"{'query':28s} {'x1':>8s} {'x' + str(args.mult):>8s} {'exponent':>9s}")
    flagged = []
    for q, a, b, e in rows:
        es = f"{e:9.2f}" if e is not None else "   ERROR"
        mark = ""
        if e is not None and e > SUPERLINEAR_FLAG:
            mark = "  << SUPERLINEAR"
            flagged.append(q)
        print(f"{q:28s} {a:8.3f} {b:8.3f} {es}{mark}")
    print(
        json.dumps(
            {
                "mult": args.mult,
                "t1": t1,
                "tn": tn,
                "exponents": {q: (round(e, 3) if e is not None else None) for q, a, b, e in rows},
                "superlinear": flagged,
                **({"ingest": ingest} if ingest else {}),
            }
        )
    )
    if args.teardown:
        shutil.rmtree(CACHE_ROOT, ignore_errors=True)
    # an errored query at scale (OOM, blow-up) is a FAILED probe, not
    # a silently-skipped row — exit nonzero so automation can gate
    errored = [q for q, a, b, e in rows if e is None]
    return 1 if flagged or errored else 0


if __name__ == "__main__":
    raise SystemExit(main())
