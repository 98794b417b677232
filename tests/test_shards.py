"""Shard writer: round-trip fidelity, split partitioning, size caps,
and deterministic output across reruns."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from iotstream.ext.curation import dataset_split
from iotstream.ext.shards import read_training_split, write_training_shards
from iotstream.schemas import load_table
from tests.conftest import SF_DIR


def _splits(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return dataset_split(docs).join(docs.select("doc_id", "text"), "doc_id")


def test_shards_roundtrip_and_partition_pruning(spark, tmp_path):
    df = _splits(spark)
    out = str(tmp_path / "shards")
    write_training_shards(df, out, max_records_per_file=100)
    # directory-per-split layout
    dirs = {p.split("split=")[1] for p in glob.glob(f"{out}/split=*")}
    assert dirs == {"train", "validation", "test"}
    # every split reads back with exactly its assigned rows
    for split in dirs:
        expect = df.filter(F.col("split") == split).count()
        got = read_training_split(spark, out, split).count()
        assert got == expect, split
    # size cap respected
    for f in glob.glob(f"{out}/split=train/*.parquet"):
        n = spark.read.parquet(f).count()
        assert n <= 100, (f, n)


def test_shards_deterministic_across_reruns(spark, tmp_path):
    df = _splits(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(df, a)
    write_training_shards(df, b)
    fa = sorted(glob.glob(f"{a}/split=*/*.parquet"))
    fb = sorted(glob.glob(f"{b}/split=*/*.parquet"))
    assert len(fa) == len(fb) > 0
    for x, y in zip(fa, fb):
        da = [tuple(r) for r in spark.read.parquet(x).collect()]
        db = [tuple(r) for r in spark.read.parquet(y).collect()]
        assert da == db  # same rows, same order → deterministic shards


def test_compact_parquet_preserves_rows_and_reduces_files(spark, tmp_path):
    import glob as g

    from iotstream.ext.shards import compact_parquet

    df = _splits(spark)
    out = str(tmp_path / "t")
    # fragment: many small files
    df.repartition(40).write.parquet(out)
    before_files = len(g.glob(f"{out}/*.parquet"))
    before = [tuple(r) for r in spark.read.parquet(out).collect()]
    n = compact_parquet(spark, out, target_files=4)
    after_files = len(g.glob(f"{out}/*.parquet"))
    after = [tuple(r) for r in spark.read.parquet(out).collect()]
    assert n == len(before)
    assert sorted(before) == sorted(after)  # content identical
    assert after_files <= 4 < before_files


def test_clustered_write_produces_disjoint_key_ranges(spark, tmp_path):
    """After write_clustered on user_id, parquet footer min/max ranges
    across files must be pairwise non-overlapping (modulo range-sampler
    boundary duplicates) — the property row-group skipping relies on."""
    from iotstream.ext.shards import clustered_file_ranges, write_clustered
    from iotstream.schemas import load_table

    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "clustered")
    write_clustered(ev, out, cluster_cols=["user_id", "ts"], n_files=4)
    ranges = [r for r in clustered_file_ranges(out, "user_id") if r[0] is not None]
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint up to the shared boundary key
    # and a narrow key predicate must prune to few files via the stats
    hit = [1 for lo, hi in ranges if lo <= 3 <= hi]
    assert len(hit) <= 2


def test_clustered_readback_preserves_rows(spark, tmp_path):
    from iotstream.ext.shards import write_clustered
    from iotstream.schemas import load_table

    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "clustered2")
    write_clustered(ev, out, cluster_cols=["user_id", "ts"], n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    assert sorted(back.columns) == sorted(ev.columns)
