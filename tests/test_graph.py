"""connected_components / dup_clusters vs a pure-python union-find oracle."""

import random

import pytest
from pyspark.sql import functions as F

from osm_public_space_mapper_spark.operators.graph import (
    cluster_survivors,
    connected_components,
    dup_clusters,
)
from osm_public_space_mapper_spark.session import release


def _uf_components(edges):
    """Union-find oracle: {node: min_id_of_component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    res = connected_components(df, "src", "dst")
    got = {(r["node"], r["component"]) for r in res.collect()}
    release(res)
    exp = set(_uf_components(edges).items())
    assert got == exp


@pytest.fixture(autouse=True)
def _no_leftover_persistent_rdds(spark):
    """Every test in this module must leave the session without persistent
    RDDs of its own. The ones it found stay: the session's pinned fixture
    layer has no lineage to recompute from."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    yield
    for k, rdd in persistent().items():
        if k not in before:
            rdd.unpersist()


def test_cc_long_chain(spark):
    # a 60-node path: diameter 59 — label propagation would need 59 rounds,
    # star contraction must converge in far fewer (max_iter=50 would fail
    # a propagation-style implementation)
    _run(spark, [(i, i + 1) for i in range(60)])


def test_cc_two_cliques_and_bridge(spark):
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    edges += [(4, 100)]  # bridge merges them
    edges += [(200, 201), (300, 301), (301, 302)]
    _run(spark, edges)


def test_cc_self_loops_and_duplicates(spark):
    _run(spark, [(1, 1), (1, 2), (2, 1), (2, 3), (3, 3), (2, 3)])


@pytest.mark.parametrize("seed", [7, 41, 1234])
def test_cc_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = 400
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(300)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _run(spark, edges)


def test_dup_clusters_transitive_closure(spark):
    """dup_clusters must agree with union-find over the minhash pair set,
    and cluster_survivors must equal corpus minus non-min cluster members."""
    from osm_public_space_mapper_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = [
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, 3, 0.5).collect()
    ]
    exp = _uf_components(pairs)
    exp_sizes = {}
    for comp in exp.values():
        exp_sizes[comp] = exp_sizes.get(comp, 0) + 1

    got = dup_clusters(docs, 3, 0.5).collect()
    assert {(r["doc_id"], r["cluster_id"]) for r in got} == set(exp.items())
    assert all(r["cluster_size"] == exp_sizes[r["cluster_id"]] for r in got)
    assert all(r["cluster_size"] >= 2 for r in got)

    clusters = dup_clusters(docs, 3, 0.5)
    surv = {r["doc_id"] for r in cluster_survivors(docs, clusters).collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    expected_surv = all_ids - {d for d, c in exp.items() if d != c}
    assert surv == expected_surv


def test_cc_single_pinned_checkpoint(spark):
    """The operator unpersists every superseded round state; after the run
    exactly ONE persistent RDD remains — the eager localCheckpoint backing
    the returned assignment — and session.release() releases it."""
    base = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    df = spark.createDataFrame([(i, i + 1) for i in range(30)], "src long, dst long")
    res = connected_components(df, "src", "dst")
    res.collect()
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == base + 1
    release(res)
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == base
