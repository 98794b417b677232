"""Connected components: closure over chains, singleton handling,
convergence on known topologies."""

from __future__ import annotations

from pyspark.sql import functions as F

from iotstream.ext.graph import connected_components


def _cc(spark, edges, nodes):
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    n = spark.createDataFrame([(x,) for x in nodes], "node bigint")
    out = connected_components(e, n)
    return {r["node"]: r["cluster_id"] for r in out.collect()}


def test_chain_collapses_to_one_cluster(spark):
    # a-b, b-c, c-d: no direct a-d edge, transitive closure must link them
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4, 9])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_two_components_and_singletons(spark):
    got = _cc(spark, [(10, 11), (12, 13), (13, 14)], [10, 11, 12, 13, 14, 20, 21])
    assert got[10] == got[11] == 10
    assert got[12] == got[13] == got[14] == 12
    assert got[20] == 20 and got[21] == 21


def test_long_chain_needs_multiple_rounds(spark):
    # 0-1-2-...-9: diameter 9, exercises the iteration loop (label of
    # node 9 must travel the whole chain)
    edges = [(i, i + 1) for i in range(9)]
    got = _cc(spark, edges, list(range(10)))
    assert set(got.values()) == {0}


def test_max_iter_truncation_warns(spark):
    # Adversarial path graph with ids DESCENDING (label 0 must travel
    # hop by hop): diameter 6 > max_iter=2, so the loop must exit
    # non-converged and say so.
    import warnings

    from iotstream.ext.graph import ConvergenceWarning

    edges = [(i, i + 1) for i in range(6)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    n = spark.createDataFrame([(x,) for x in range(7)], "node bigint")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = connected_components(e, n, max_iter=2).collect()
    assert any(issubclass(w.category, ConvergenceWarning) for w in caught)
    # truncation splits too fine, never merges wrongly
    labels = {r["node"]: r["cluster_id"] for r in out}
    assert len(set(labels.values())) > 1
    for a, b in edges:
        assert labels[a] <= a and labels[b] <= b


def test_converged_run_does_not_warn(spark):
    import warnings

    from iotstream.ext.graph import ConvergenceWarning

    edges = [(1, 2), (2, 3)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    n = spark.createDataFrame([(x,) for x in (1, 2, 3)], "node bigint")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(e, n).collect()
    assert not [w for w in caught if issubclass(w.category, ConvergenceWarning)]


def test_lsh_feed_clusters_equal_exact_feed(spark):
    """The dedup_clusters_lsh graduation gate: connected components over
    MinHash+LSH→verified pairs must equal components over the exact
    all-pairs J>=0.5 graph — i.e. the scale path loses no cluster
    structure on the fixture corpus (dups sit at J>=0.89 where banding
    recall is 1)."""
    from iotstream.ext import dedup as xdedup
    from iotstream.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 2000)
    nodes = docs.select("doc_id")

    def clusters(pairs):
        out = connected_components(
            pairs.select("doc_a", "doc_b"), nodes,
            src="doc_a", dst="doc_b", node="doc_id",
        )
        return {r["node"]: r["cluster_id"] for r in out.collect()}

    exact = clusters(xdedup.neardup_jaccard_exact(docs, threshold=0.5))
    lsh = clusters(xdedup.neardup_minhash(docs, threshold=0.5))
    assert lsh == exact
    assert len(set(exact.values())) < len(exact)  # fixture has real dups
