"""Distributed connected components + transitive-closure dup clustering.

`minhash_lsh_pairs` / `simhash_hamming_pairs` / `image_phash_dups` emit
near-duplicate PAIRS; a training pipeline needs CLUSTERS (a~b and b~c must
collapse {a,b,c} to one survivor even when a~c was never emitted as a pair).
`dedup_survivors`' keep-first rule over direct pairs already yields one
survivor per chain, but it cannot name the cluster each document belongs to
— `connected_components` does, with the canonical min-id label.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce and
Beyond", SoCC'14). Each round is two shuffle stages (a groupBy-min and an
equi-join) over the EDGE list only; no adjacency structure is ever
collected, so the graph can be arbitrarily large and arbitrarily deep.
Rounds needed: O(log^2 n) worst case, 2-3 in practice for near-dup graphs
(components are cliques-of-chains with tiny diameter). Label-propagation
by contrast needs diameter-many rounds — a 10^6-long chain (common in
template-spam corpora) would take 10^6 shuffles; star contraction takes ~40.

Scale notes (100 TB / 10^12-edge posture):
- every round's working set is one edge DataFrame, hash-partitioned on the
  grouping node — uniform unless one node has a giant degree, and
  large-star is exactly the step that breaks giant stars up (the paper's
  point); no salting needed beyond what the algorithm itself provides
- lineage is truncated per round with an EAGER localCheckpoint — without it
  the iterative plan doubles per round and the driver dies planning round
  ~15 long before the executors break a sweat (at cluster scale swap the
  localCheckpoint for a reliable `sparkContext.setCheckpointDir` checkpoint
  or a per-round `commit_resumable` parquet commit for exact resume, the
  same contract as kNN ring escalation — operators/joins.py)
- the ONE driver action per round (count + xxhash64 checksum of the edge
  set, read off the already-materialized checkpoint) is the fixpoint test —
  inherent to every iterative algorithm and O(edges) cheap; it is NOT the
  r03-style pre-shuffle probe-job anti-pattern (nothing recomputes)

Reference parity: the reference has no graph machinery (single-threaded
shapely lists); this is a first-class addition required by the
training-pipeline brief. Verified against a DuckDB recursive-CTE
transitive-closure oracle (driver row `dup_clusters`) and a pure-python
union-find in tests/test_graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin, release


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    Emitted edges satisfy big > small: v > u ≥ m.

    r06: the per-neighborhood minimum is a window min over the SAME
    partitioning the old groupBy+self-join formulation shuffled on — one
    Exchange instead of two per star, identical output. Skew is unchanged:
    the join already funneled every edge of a giant-degree node into one
    task; large-star is itself the step that breaks such stars up."""
    both = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        both.withColumn("_mn", F.min("v").over(w))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least(F.col("u"), F.col("_mn")).alias("v"))
        # no intermediate distinct: duplicates cannot change small-star's
        # per-u minimum, and each round's STATE is small-star's output,
        # which still ends in a distinct — one less Exchange per round
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u itself) to the
    minimum of that neighborhood. Requires (and preserves) u > v.

    Window-min formulation (see _large_star); the per-u root rows are
    emitted once per input edge and collapsed by the trailing distinct."""
    w = Window.partitionBy("u")
    j = e.withColumn("_mn", F.min("_v_small").over(w))
    nbr = j.where(F.col("_v_small") != F.col("_mn")).select(
        F.col("_v_small").alias("u"), F.col("_mn").alias("v")
    )
    root = j.select(F.col("u"), F.col("_mn").alias("v"))
    return nbr.union(root).where(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node that appears in `edges`, where
    component = the minimum node id in the node's connected component.

    Isolated nodes (no edges) never reach this operator — the caller unions
    them back as their own singletons (see `dup_clusters`).
    """
    canon = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    state = pin(canon)
    prev_sig = None
    for _ in range(max_iter):
        nxt = _small_star(_large_star(state).withColumnRenamed("v", "_v_small"))
        new_state = pin(nxt)
        # superseded round — release immediately (kNN-escalation contract)
        release(state)
        state = new_state
        # fixpoint test on the materialized checkpoint: (count, order-free
        # bit_xor-of-xxhash64 checksum — xor never overflows under ANSI mode
        # and the edge set is distinct so nothing self-cancels) — equal
        # consecutive signatures means the edge set is stable (star-shaped),
        # modulo a vanishing hash collision
        sig = tuple(
            state.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # at the fixpoint every edge is (member, component_min); roots appear
    # only on the small side — map them to themselves
    assign = state.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = state.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    result = pin(assign.union(roots).groupBy("node").agg(F.min("component").alias("component")))
    release(state)
    # the ONE pinned RDD backing `result` is unavoidable (its lineage is
    # truncated); callers that need a zero-persistent-RDD session afterwards
    # call session.release(result) once consumed — at cluster scale,
    # commit the assignment to an Icelite table instead and return the scan
    return result


def dup_clusters(
    documents: DataFrame,
    n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 2000,
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for every document in a near-dup
    cluster of size ≥ 2 — the transitive closure of `minhash_lsh_pairs`.

    cluster_id is the minimum doc_id in the cluster (the canonical
    survivor); the window count runs over the clustered subset only (a tiny
    fraction of the corpus), not the full table."""
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(documents, n, jaccard_threshold, max_bucket)
    cc = connected_components(pairs, "doc_a", "doc_b")
    out = (
        cc.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .select("doc_id", "cluster_id", "cluster_size")
    )
    out._pinned = cc._pinned  # session.release(out) frees the assignment's checkpoint
    return out


def cluster_survivors(documents: DataFrame, clusters: DataFrame) -> DataFrame:
    """One keeper per near-dup cluster: every doc_id except cluster members
    that are not their cluster's canonical minimum. Anti-join — the corpus
    never collects, the clustered side is the small one."""
    tomb = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return documents.select("doc_id").join(tomb, "doc_id", "left_anti")
