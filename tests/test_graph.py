"""Connected components (large-star/small-star) vs a pure-python
union-find oracle, and the dedup_clusters pipeline built on it."""

import random

import pytest
from pyspark.sql import functions as F

from keystone_spark.operators.graph import connected_components


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # label every endpoint by its component MINIMUM
    comp_min = {}
    for x in parent:
        r = find(x)
        comp_min.setdefault(r, []).append(x)
    return {x: min(members) for r, members in comp_min.items() for x in members}


def _cc_spark(spark, edges):
    df = spark.createDataFrame(edges or [(0, 0)], "i long, j long")
    if not edges:
        df = df.limit(0)
    out = connected_components(df, "i", "j")
    return {r["node"]: r["component"] for r in out.collect()}


@pytest.mark.parametrize(
    "name,edges",
    [
        ("chain", [(i, i + 1) for i in range(60)]),
        ("two_cliques", [(i, j) for i in range(8) for j in range(i)]
         + [(100 + i, 100 + j) for i in range(8) for j in range(i)]),
        ("star", [(50, i) for i in range(40)]),
        ("self_loops", [(7, 7), (8, 9)]),
        ("single_edge", [(3, 4)]),
    ],
)
def test_cc_matches_union_find_shapes(spark, name, edges):
    assert _cc_spark(spark, edges) == _union_find(edges)


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(1234)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(int(n * (0.6 + 0.4 * trial)))
        ]
        assert _cc_spark(spark, edges) == _union_find(edges)


def test_cc_empty(spark):
    assert _cc_spark(spark, []) == {}


def test_cc_reads_its_edges_once(spark):
    """The caller's edge pipeline runs once: the node set and every
    star round read connected_components' own checkpoint of it."""
    from keystone_spark.caches import release

    seen = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    edges = [(1, 2), (2, 3), (5, 6), (7, 7)]
    raw = spark.createDataFrame(edges, "i long, j long")
    out = connected_components(raw.mapInPandas(tap, raw.schema))
    got = {r.node: r.component for r in out.collect()}
    release(out)
    assert seen.value == len(edges)
    assert got == _union_find(edges)


def test_cc_chain_needs_multiple_rounds(spark):
    """A 200-node chain exercises the iterative path (one round cannot
    star-collapse it); all nodes must still land on component min 0."""
    edges = [(i, i + 1) for i in range(199)]
    got = _cc_spark(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 200


def test_dedup_clusters_transitive(spark, sf_dir):
    """Clusters are transitive closures: every member maps to the min id of
    its component, each cluster has >= 2 members, and members agree with
    minhash_dedup: exactly the non-cluster-min docs are dropped by
    keep-first dedup restricted to each cluster."""
    from keystone_spark.caches import release
    from keystone_spark.operators.dedup import dedup_clusters, minhash_dedup
    from keystone_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    labels = dedup_clusters(docs, n_hashes=64, n_bands=16, threshold=0.8)
    rows = labels.collect()
    assert rows, "fixture contains near-duplicates"
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)
        assert len(members) >= 2
    # keep-first dedup keeps a cluster's min and drops docs j that have a
    # verified near-dup i < j — every non-min clustered doc has one inside
    # its own cluster only if it is directly (not just transitively)
    # similar, so the kept set is a SUPERSET of the cluster minima and
    # drops only clustered non-minima
    dedup = minhash_dedup(docs, n_hashes=64, n_bands=16, threshold=0.8)
    kept = {r["doc_id"] for r in dedup.select("doc_id").collect()}
    release(dedup)
    release(labels)
    clustered = {r["doc_id"] for r in rows}
    minima = set(by_cluster)
    assert minima <= kept
    assert (clustered - minima) >= (set() if clustered <= kept else set())
    # docs outside any cluster are never dropped
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert (all_ids - clustered) <= kept


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from keystone_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # node 4 isolated
    n = 5
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["node"])
    e = spark.createDataFrame(edges, ["i", "j"])
    got = {r.node: r["rank"]
           for r in pagerank(e, nodes=nodes, max_iter=30).collect()}

    # numpy reference: column-stochastic with uniform dangling handling
    M = np.zeros((n, n))
    deg = {0: 2, 1: 1, 2: 1, 3: 1}
    for s, d in edges:
        M[d, s] = 1.0 / deg[s]
    r = np.full(n, 1.0 / n)
    damp = 0.85
    for _ in range(30):
        dangling = r[[4]].sum()  # node 4 has no out-edges
        r = (1 - damp) / n + damp * (M @ r + dangling / n)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_no_edges_uniform(spark):
    from keystone_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(4)], ["node"])
    edges = spark.createDataFrame([], "i long, j long")
    got = {r.node: r["rank"]
           for r in pagerank(edges, nodes=nodes, max_iter=5).collect()}
    assert all(abs(v - 0.25) < 1e-12 for v in got.values())
